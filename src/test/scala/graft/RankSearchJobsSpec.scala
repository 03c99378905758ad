package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Mixing, RobustStats, TextAnalysis}

/** Job-count pins for the driver-assisted rank searches and prefix sums
  * in [[graft.ops.RobustStats]]: each entry point, run to completion on a
  * fixed fixture, launches exactly the jobs of its documented passes. A
  * fused helper that quietly adds a pass (an extra count, a second
  * histogram) fails here before it shows up in a benchmark. The counts
  * are Spark jobs as a listener sees them: under adaptive execution one
  * collect over an exchange runs its map stages as jobs of their own,
  * and a range repartition adds its bounds-sampling job.
  */
class RankSearchJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val grouped: DataFrame = {
    val rnd = new scala.util.Random(5)
    (0 until 600).map(i => (s"g${i % 3}", i.toLong, rnd.nextInt(5000).toLong))
      .toDF("g", "id", "u").repartition(4)
  }

  private val quartiles: Long => Seq[Long] =
    n => (1 to 3).map(i => math.max(1L, i * n / 4))

  test("rankValues: a histogram collect and a value collect") {
    grouped.count() // warm the fixture outside the probe
    assert(jobsOf(RobustStats.rankValues(grouped, "g", col("u"), 64L, quartiles)) === 6)
  }

  test("rankValuesMulti: two collects for every metric together") {
    assert(jobsOf(RobustStats.rankValuesMulti(grouped,
      Seq(("u", col("u"), 64L), ("id", col("id"), 16L)), quartiles)) === 6)
  }

  test("madProfile: a histogram collect and a cover collect") {
    assert(jobsOf(RobustStats.madProfile(grouped, "g", col("u"), 64L)) === 6)
  }

  test("quotaSample: two search collects, then the sample itself") {
    val quotas = Map("g0" -> 50L, "g1" -> 500L, "g2" -> 7L)
    assert(jobsOf(Mixing.quotaSample(grouped, "g", col("u"), col("id"), quotas)) === 6)
    assert(jobsOf(Mixing.quotaSample(grouped, "g", col("u"), col("id"), quotas)
      .collect()) === 10)
  }

  test("packBins: one totals collect, then the packing itself") {
    val docs = spark.range(0, 100).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 10).map(i =>
        when(col("id") % 3 >= i % 3, lit(s"w$i"))): _*).as("text"))
      .repartition(5)
    assert(jobsOf(TextAnalysis.packBins(docs, "text", "doc_id", 64)) === 5)
    assert(jobsOf(TextAnalysis.packBins(docs, "text", "doc_id", 64).collect()) === 7)
  }

  test("sortedNeighborhoodPairs: one totals collect, then the pair join") {
    val df = (0 until 80).map(i => (i.toLong, s"doc ${i / 3} shared words ${i % 5}"))
      .toDF("id", "text").repartition(5)
    def pairs = Dedup.sortedNeighborhoodPairs(df, "id",
      substring(lower(col("text")), 1, 12), TextAnalysis.tokenSet(col("text")),
      window = 3, minJaccard = 0.5)
    assert(jobsOf(pairs) === 8)
    assert(jobsOf(pairs.collect()) === 9)
  }
}
