package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, lit, map, xxhash64}
import org.apache.spark.sql.types.{DataType, MapType}

/** Construction-time driver pulls: the one home of the operators'
  * "collect bounded state, fold it back in as a literal" steps.
  *
  * Laziness break: a pull runs its Spark job while the DataFrame is
  * BUILT, not when it executes. The folded literal is a snapshot; a
  * table that changes between construction and execution is missed,
  * so rebuild the frame to re-snapshot.
  *
  * Bound clamp: [[within]] never asks for more rows than one JVM array
  * holds, so any caller bound (Long.MaxValue included) is one
  * `limit(bound + 1)` job that stops one row past the bound.
  *
  * Null keys: [[literalMap]] drops a null key (a map literal rejects
  * one, and the join a fold replaces could never match one), so a row
  * with a null key finds no entry, as it found no join partner. */
private[graft] object BoundedFold {

  /** Largest length a JVM array can take. */
  private val MaxArrayLength = Int.MaxValue - 8

  /** `ds`'s rows when there are at most `bound` of them, else None: one
    * job that collects at most `bound + 1` rows. */
  def within[T](ds: Dataset[T], bound: Long): Option[Array[T]] = {
    val cap = math.min(bound, MaxArrayLength - 1L)
    val rows = ds.limit((cap + 1).toInt).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** The seeded training sample: the first `n` rows of `df` in
    * (`xxhash64(idCol, seed)`, `idCol`) order, with the hash as column
    * `h`. Same data and seed give the same rows in the same order, so
    * a model trained on them is bit-identical across runs. Callers
    * project and collect it. */
  def sample(df: DataFrame, idCol: String, n: Int, seed: Long): DataFrame =
    df.withColumn("h", xxhash64(col(idCol), lit(seed)))
      .orderBy("h", idCol).limit(n)

  /** A key → value literal map of `pairs`. Null keys are dropped and
    * the keys sorted by Spark's own order for `keyType` (UTF-8 bytes,
    * i.e. code points, for strings; DuckDB's order too), so the folded
    * literal and the plan text are the same on every run. No pairs
    * give an empty map of type map<keyType, valueType>. */
  def literalMap(pairs: Iterable[(Any, Any)], keyType: DataType,
                 valueType: DataType): Column = {
    val keyed = pairs.filter(_._1 != null).toSeq.sortBy(p =>
      CatalystTypeConverters.convertToCatalyst(p._1))(
      TypeUtils.getInterpretedOrdering(keyType))
    if (keyed.isEmpty) map().cast(MapType(keyType, valueType))
    else map(keyed.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
  }
}
