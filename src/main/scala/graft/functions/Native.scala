package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.Exactly
import org.apache.spark.sql.types._

/** The engine's native functions: each is a `StaticInvoke` of its kernel
  * in [[Kernels]], which runs the interpreted and the generated-code path
  * from the one method. The Column entry points here and the SQL builders
  * in [[graft.GraftExtensions]] build the same expression.
  *
  * Argument types are exact ([[Bridge.Exactly]]): a wrong-typed argument
  * fails analysis rather than being cast. A NULL argument yields NULL
  * without calling the kernel.
  */
object Native {

  /** One native function: `kernel` on [[Kernels]] over arguments of types
    * `args`, then the constant arguments `consts`. `nullableResult` marks
    * a kernel that may return null itself. */
  final case class Fn(
      kernel: String, args: Seq[DataType], result: DataType,
      nullableResult: Boolean = false, consts: Seq[Literal] = Nil) {

    def expr(children: Seq[Expression]): Expression =
      StaticInvoke(Kernels.getClass, result, kernel, children ++ consts,
        (args ++ consts.map(_.dataType)).map(Exactly),
        returnNullable = nullableResult)

    def apply(cols: Column*): Column = Bridge.column(expr(cols.map(Bridge.expression)))
  }

  private val floats = ArrayType(FloatType)
  private val longs = ArrayType(LongType)
  private val strings = ArrayType(StringType)
  private val hashWords = ArrayType(LongType, containsNull = false)

  val cosine = Fn("cosine", Seq(floats, floats), DoubleType, nullableResult = true)
  val simhash32 = Fn("simhash", Seq(longs), LongType, consts = Seq(Literal(32)))
  val simhash64 = Fn("simhash", Seq(longs), LongType, consts = Seq(Literal(64)))
  val dhash64 = Fn("dhash64", Seq(BinaryType), LongType)
  val tokenHash32 = Fn("tokenHash32", Seq(StringType), LongType)
  val tokenHash64 = Fn("tokenHash64", Seq(StringType), LongType)
  val tokenHash32x4 = Fn("tokenHash32x4", Seq(StringType), hashWords)
  val jaroWinkler = Fn("jaroWinkler", Seq(StringType, StringType), DoubleType)

  /** Sorted-set intersection count over two `array<string>` sets, or two
    * `array<bigint>` sets when `longSets`; the caller knows its domain. */
  def intersectCount(longSets: Boolean): Fn = {
    val set = if (longSets) longs else strings
    Fn("intersectCount", Seq(set, set), IntegerType, consts = Seq(Literal(longSets)))
  }

  /** MinHash signature of an `array<bigint>` under `coefs` (see
    * [[MinHasher]]): an `Invoke` of a literal hasher, so the coefficients
    * reach the loop as `long[]` fields. */
  def minhash(hashes: Expression, coefs: Seq[(Long, Long)]): Expression =
    Invoke(Literal.fromObject(new MinHasher(coefs)), "sig", hashWords,
      Seq(hashes), Seq(Exactly(longs)))

  def minhash(hashes: Column, coefs: Seq[(Long, Long)]): Column =
    Bridge.column(minhash(Bridge.expression(hashes), coefs))
}
