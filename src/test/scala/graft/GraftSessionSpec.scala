package graft

/** Pins the one engine config: the confs every entry point ships with,
  * read back from GraftSession and from the live spec session built by it. */
class GraftSessionSpec extends SparkSpec {
  private val shipped = Map(
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  test("GraftSession.builder sets every shipped conf, and the spec session carries them") {
    val confs = GraftSession.confs(7).toMap
    shipped.foreach { case (k, v) => assert(confs.get(k).contains(v), k) }
    assert(confs.get("spark.sql.shuffle.partitions").contains("7"))
    assert(confs.get("spark.ui.enabled").contains("false"))
    assert(spark.sparkContext.master == "local[4]")
    shipped.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }
}
