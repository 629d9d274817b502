package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent digest of a collected result, computed the same
  * way by `check.py` over the DuckDB oracle's rows (see `row_digest`
  * there): columns sorted by name, integers and integral doubles as
  * decimal text, other doubles by their bit pattern (so -0.0 differs
  * from 0.0, as in tools/check_oracle.py's bitwise float compare),
  * NaN and null alike, rows sorted by their UTF-8 bytes. */
object Digest {
  private val CellSep = "\u0001"
  private val RowSep = "\u0002"

  private def num(v: Double): String =
    if (v.isNaN) "N"
    else if (v == math.rint(v) && math.abs(v) < 9.007199254740992e15 &&
             !(v == 0.0 && 1.0 / v < 0)) v.toLong.toString
    else "f%016x".format(java.lang.Double.doubleToRawLongBits(v))

  private def cell(r: Row, i: Int, t: DataType): String =
    if (r.isNullAt(i)) "N"
    else t match {
      case ByteType | ShortType | IntegerType | LongType => r.getAs[Number](i).longValue.toString
      case FloatType | DoubleType => num(r.getAs[Number](i).doubleValue)
      case _: DecimalType => num(r.getDecimal(i).doubleValue)
      case BooleanType => if (r.getBoolean(i)) "1" else "0"
      case StringType => "s" + r.getString(i)
      case other => sys.error(s"digest: unsupported column type $other")
    }

  def of(rows: Array[Row], schema: StructType): String = {
    val order = schema.fields.zipWithIndex.sortBy(_._1.name)
    val lines = rows.map(r => order.map { case (f, i) => cell(r, i, f.dataType) }.mkString(CellSep)
      .getBytes(UTF_8))
    java.util.Arrays.sort(lines, (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(_._1.name).mkString(",").getBytes(UTF_8))
    lines.foreach { l => md.update(RowSep.getBytes(UTF_8)); md.update(l) }
    md.digest().map("%02x".format(_)).mkString
  }
}
