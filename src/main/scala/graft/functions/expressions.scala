package graft.functions

import java.lang.invoke.{MethodHandle, MethodHandles}
import java.lang.reflect.Modifier

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions for the text, dedup and ANN kernels that the
  * built-in function set can't express (SURVEY.md §2H: fingerprint,
  * simhash, minhash, ...). Every kernel is a static method of
  * [[TextHash]], and one expression calls it: [[UnaryKernel]], or
  * [[BinaryKernel]] for two column inputs. Generated code calls the
  * method directly, so each kernel stays inside whole-stage codegen;
  * interpreted eval calls the same method through a method handle.
  *
  * Adding a kernel takes a `TextHash` method and one
  * [[GraftFunctions]] wrapper line that names it.
  */

/** A kernel's static description.
  *
  * @param name       the expression's node name, which also seeds its
  *                   hash; lowercased, it names the expression in plans
  *                   and SQL text
  * @param method     the [[TextHash]] method the expression calls
  * @param inputTypes the column inputs' types
  * @param prep       how each constant reaches the method */
case class Kernel(name: String, method: String, inputTypes: Seq[DataType],
                  dataType: DataType, prep: Prep)

/** How a kernel takes its constants: as given, or as an object built
  * from each one once per expression instance. Case objects, so two
  * calls with equal constants stay semantically equal (subexpression
  * elimination shares them). */
sealed abstract class Prep extends Serializable { def apply(const: Any): Any }
object Prep {
  case object AsIs extends Prep { def apply(const: Any): Any = const }
  /** A word list as a `HashSet[UTF8String]` ([[TextHash.countInSet]]). */
  case object WordSet extends Prep {
    def apply(const: Any): Any = {
      val words = const.asInstanceOf[Seq[String]]
      val s = new java.util.HashSet[UTF8String](words.size * 2)
      words.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }
  }
  /** A sorted copy of a `long[]` ([[TextHash.countInLongSet]]). */
  case object Sorted extends Prep {
    def apply(const: Any): Any = {
      val a = const.asInstanceOf[Array[Long]].clone(); java.util.Arrays.sort(a); a
    }
  }
  /** A merge list as a [[BpeTable]] with its memo. */
  case object Bpe extends Prep {
    def apply(const: Any): Any = new BpeTable(const.asInstanceOf[Seq[(String, String)]])
  }
}

/** What both kernel forms share. Plans print `name(inputs, consts)`;
  * generated code is `graft.functions.TextHash.method(inputs, consts)`
  * with Int/Long/Double constants inlined and every other constant
  * passed as a reference object. Null handling is the parent form's:
  * a null input gives null without calling the kernel. */
trait KernelCall extends ExpectsInputTypes {
  def kernel: Kernel
  def consts: Seq[Any]

  override def inputTypes: Seq[DataType] = kernel.inputTypes
  override def dataType: DataType = kernel.dataType
  override def nodeName: String = kernel.name
  // Hashes as a case class `name(inputs, consts)` does, the form every
  // kernel had as its own class, so that hash-ordered planner output
  // (the order of common subexpressions in generated code) stays put.
  override def hashCode(): Int = hash
  @transient private lazy val hash: Int = {
    val fields = children ++ consts
    MurmurHash3.finalizeHash(fields.foldLeft(
      MurmurHash3.mix(MurmurHash3.productSeed, kernel.name.hashCode))((h, f) =>
      MurmurHash3.mix(h, f.##)), fields.size)
  }
  override protected def flatArguments: Iterator[Any] =
    children.iterator ++ consts.iterator.flatMap {
      case t: Iterable[_] => t
      case c => Iterator.single(c)
    }

  @transient private lazy val args: Seq[Any] = consts.map(kernel.prep(_))

  @transient private lazy val handle: MethodHandle = {
    val m = Class.forName(KernelCall.Owner).getMethods
      .find(m => m.getName == kernel.method && Modifier.isStatic(m.getModifiers))
      .getOrElse(throw new NoSuchMethodException(s"${KernelCall.Owner}.${kernel.method}"))
    MethodHandles.insertArguments(MethodHandles.publicLookup().unreflect(m),
      children.size, args.map(_.asInstanceOf[AnyRef]): _*)
  }

  protected def call(inputs: Any*): Any =
    handle.invokeWithArguments(inputs.map(_.asInstanceOf[AnyRef]): _*)

  /** The kernel call over generated input terms. Registers the
    * reference constants first, as the child code is generated after. */
  protected def callCode(ctx: CodegenContext): Seq[String] => String = {
    val cs = args.map {
      case i: Int => i.toString
      case l: Long => s"${l}L"
      case d: Double => s"${d}D"
      case o => ctx.addReferenceObj(kernel.method, o)
    }
    inputs => s"${KernelCall.Owner}.${kernel.method}(${(inputs ++ cs).mkString(", ")})"
  }
}
object KernelCall { private val Owner = "graft.functions.TextHash" }

/** A kernel over one column input, with constants after it. */
case class UnaryKernel(kernel: Kernel, child: Expression, consts: Seq[Any])
    extends UnaryExpression with KernelCall {
  override def nullSafeEval(input: Any): Any = call(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = callCode(ctx)
    defineCodeGen(ctx, ev, c => code(Seq(c)))
  }
  override protected def withNewChildInternal(newChild: Expression): UnaryKernel =
    copy(child = newChild)
}

/** A kernel over two column inputs of one type. */
case class BinaryKernel(kernel: Kernel, left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def consts: Seq[Any] = Nil
  override def nullSafeEval(a: Any, b: Any): Any = call(a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = callCode(ctx)
    defineCodeGen(ctx, ev, (a, b) => code(Seq(a, b)))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BinaryKernel =
    copy(left = l, right = r)
}

/** Column-API wrappers, one [[TextHash]] kernel each (see the kernel
  * method for semantics). */
object GraftFunctions {
  private val Str = StringType
  private val Strs = ArrayType(StringType)
  private val Longs = ArrayType(LongType)
  private val Floats = ArrayType(FloatType)
  private def out(t: DataType) = ArrayType(t, containsNull = false)
  private def row(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  private def methodOf(name: String) = name.head.toLower +: name.tail

  /** Kernel `name` (calling `TextHash.method`, by default `name` with a
    * lowercase first letter) over one input of type `in`, with
    * `consts` after it. */
  private def unary(name: String, in: DataType, res: DataType, method: String = "",
                    prep: Prep = Prep.AsIs)(c: Column, consts: Any*): Column =
    Bridge.column(UnaryKernel(
      Kernel(name, if (method.isEmpty) methodOf(name) else method, Seq(in), res, prep),
      Bridge.expression(c), consts))
  private def binary(name: String, in: DataType, res: DataType)(a: Column, b: Column): Column =
    Bridge.column(BinaryKernel(Kernel(name, methodOf(name), Seq(in, in), res, Prep.AsIs),
      Bridge.expression(a), Bridge.expression(b)))

  def fingerprint64(c: Column): Column = unary("Fingerprint64", Str, LongType, "poly64")(c)
  def simhash64(tokens: Column): Column = unary("SimHash64", Strs, LongType, "simhash64")(tokens)
  def minhashSig(tokens: Column, k: Int): Column =
    unary("MinHashSig", Strs, out(LongType), "minhash")(tokens, k)
  def hamming64(a: Column, b: Column): Column = binary("Hamming64", LongType, IntegerType)(a, b)
  def rhpSig(vec: Column, nPlanes: Int, seed: Long): Column =
    unary("RhpSig", Floats, IntegerType)(vec, nPlanes, seed)
  def dotFD(a: Column, b: Column): Column = binary("DotFD", Floats, DoubleType)(a, b)
  def tokenEntropyStats(tokens: Column): Column = unary("TokenEntropyStats", Strs,
    row("n_tokens" -> LongType, "n_distinct" -> LongType, "clogc" -> DoubleType))(tokens)
  def logitDot(vec: Column, weights: Array[Double]): Column =
    unary("LogitDot", Floats, DoubleType)(vec, weights)
  def ivfAssign(vec: Column, cents: Array[Array[Float]]): Column =
    unary("IvfAssign", Floats, IntegerType)(vec, cents)
  def shingleHash64(tokens: Column, n: Int): Column =
    unary("ShingleHash64", Strs, out(LongType))(tokens, n)
  def shingleHashPos(tokens: Column, n: Int): Column =
    unary("ShingleHashPos", Strs, out(LongType))(tokens, n)
  def simhash64L(hashes: Column): Column = unary("SimHash64L", Longs, LongType, "simhashL")(hashes)
  def minhashSigL(hashes: Column, k: Int): Column =
    unary("MinHashSigL", Longs, out(LongType), "minhashL")(hashes, k)
  def countInSet(tokens: Column, words: Seq[String]): Column =
    unary("CountInSet", Strs, IntegerType, prep = Prep.WordSet)(tokens, words)
  def countInLongSet(hashes: Column, set: Array[Long]): Column =
    unary("CountInLongSet", Longs, IntegerType, prep = Prep.Sorted)(hashes, set)
  def sortedIntersectCount(a: Column, b: Column): Column =
    binary("SortedIntersectCount", Longs, IntegerType)(a, b)
  def normalizeWs(text: Column): Column = unary("NormalizeWs", Str, StringType)(text)
  def wsTokens(text: Column): Column = unary("WsTokens", Str, out(StringType))(text)
  def tokenTf(toks: Column): Column =
    unary("TokenTf", Strs, out(row("token" -> StringType, "n_tf" -> LongType)))(toks)
  def bigramBuckets(toks: Column, nBuckets: Int): Column =
    unary("BigramBuckets", Strs, out(LongType))(toks, nBuckets)
  def ngramBuckets(toks: Column, nBuckets: Int): Column =
    unary("NgramBuckets", Strs, out(LongType))(toks, nBuckets)
  def semDedupDrops(cluster: Column, tau: Double): Column = unary("SemDedupDrops",
    ArrayType(StructType(Seq(StructField("vec_id", LongType), StructField("v", Floats),
      StructField("nrm", DoubleType)))), out(LongType))(cluster, tau)
  def pqEncode(v: Column, codebooks: Array[Array[Array[Float]]]): Column =
    unary("PqEncode", Floats, out(IntegerType))(v, codebooks)
  def ivfPqEncode(v: Column, cents: Array[Array[Float]],
                  codebooks: Array[Array[Array[Float]]]): Column =
    unary("IvfPqEncode", Floats, out(IntegerType))(v, cents, codebooks)
  def charNgrams(text: Column, nMin: Int, nMax: Int): Column =
    unary("CharNgrams", Str, out(StringType))(text, nMin, nMax)
  def countPunct(text: Column): Column = unary("CountPunct", Str, IntegerType)(text)
  def redactIps(text: Column): Column = unary("RedactIps", Str, StringType)(text)
  def countIps(text: Column): Column = unary("CountIps", Str, IntegerType)(text)
  def redactCountIps(text: Column): Column =
    unary("RedactCountIps", Str, row("redacted" -> StringType, "n" -> IntegerType))(text)
  def countUpperAscii(text: Column): Column = unary("CountUpperAscii", Str, IntegerType)(text)
  def countTokenRuns(text: Column): Column = unary("CountTokenRuns", Str, IntegerType)(text)
  def bpeCount(tokens: Column, merges: Seq[(String, String)]): Column =
    unary("BpeCount", Strs, LongType, prep = Prep.Bpe)(tokens, merges)
  def bpeTokens(tokens: Column, merges: Seq[(String, String)]): Column =
    unary("BpeTokens", Strs, out(StringType), prep = Prep.Bpe)(tokens, merges)
  def hashEmbed(tokens: Column, dim: Int): Column = {
    require(dim > 0, s"embedding dim must be positive: $dim")
    unary("HashEmbed", Strs, out(FloatType))(tokens, dim)
  }
}
