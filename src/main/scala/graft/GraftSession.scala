package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session config. Bench, Verify, the test specs and the
  * tools all build their session here, so a conf change lands everywhere. */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Every conf the builder sets besides the master. */
  private[graft] def confs(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.parquet stores TIMESTAMP(NANOS); read as int64 nanos
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // Constraint propagation is pure planner CPU — O(constraints²) per
    // plan tree, and this suite's operators all filter explicitly, so
    // the inferred-IsNotNull predicates it adds are redundant here.
    // Interleaved full-suite A/B (graft.tools.ConfAb, 371 queries,
    // ABAB in one JVM so box drift cancels): 109.8 s → 105.1 s, -4.3%,
    // no per-query regression outside noise at reps=5, oracle gate
    // green both ways. Scale-independent: the cost is driver-side
    // planning, paid identically at any cluster size (SPARK-19846
    // made it optional for exactly this reason).
    "spark.sql.constraintPropagation.enabled" -> "false")

  def builder(cores: Int = GraftSession.cores): SparkSession.Builder =
    confs(cores).foldLeft(SparkSession.builder().master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }
}
