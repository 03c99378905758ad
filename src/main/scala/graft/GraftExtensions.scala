package graft

import graft.functions.Native
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration for the engine's native functions: with this
  * installed, `spark.sql("SELECT cosine_similarity(a, b) ...")` plans the
  * same `StaticInvoke` of the kernel that the Column entry points in
  * [[graft.functions.Native]] build — no Column API required.
  *
  * Two installation paths:
  *  - config: `--conf spark.sql.extensions=graft.GraftExtensions`
  *    (applied at session build via `injectFunction`);
  *  - runtime: `GraftExtensions.register(spark)` on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    // optimizer surface: the binned range-join rewrite (opt-in via
    // spark.graft.rangeJoin.binSize — see BinnedRangeJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.BinnedRangeJoinRule)
  }
}

object GraftExtensions {

  type Builder = Seq[Expression] => Expression

  /** Arity guard: a clear analysis-time error naming the function beats
    * the IndexOutOfBoundsException that raw args(i) indexing throws. */
  private def arity(name: String, n: Int)(build: Builder): Builder =
    args => {
      if (args.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument${if (n == 1) "" else "s"}, " +
          s"got ${args.length}")
      build(args)
    }

  private def function(name: String, build: Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(Native.getClass.getName.stripSuffix("$"), null, name), build)

  private def native(name: String, fn: Native.Fn) =
    function(name, arity(name, fn.args.length)(fn.expr))

  /** (identifier, info, builder) triples shared by both install paths. */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    native("cosine_similarity", Native.cosine),
    native("simhash32", Native.simhash32),
    native("token_hash32", Native.tokenHash32),
    native("jaro_winkler", Native.jaroWinkler),
    function("minhash_sig", arity("minhash_sig(hashes, k)", 2) { args =>
      // k must be a literal: the permutation coefficients are fixed at
      // plan time (and embedded in the DuckDB oracle as the same
      // seeded-LCG literals)
      val k = args(1) match {
        case Literal(v: Int, _) if v > 0 => v
        case other => throw new IllegalArgumentException(
          s"minhash_sig(hashes, k): k must be a positive integer literal, got $other")
      }
      Native.minhash(args.head, graft.ops.Dedup.coefficients(k))
    }))

  /** Runtime registration on an existing session. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, inf, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, id, inf, builder)
    }
}
