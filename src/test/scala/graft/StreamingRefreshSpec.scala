package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps
import graft.sink.JdbcUpsert

/** The reference's cron-rerun story end-to-end as a stream
  * (`run_pricenow.yml:14-16`): price changes arrive as micro-batches, each
  * batch refreshes only the month partitions at-or-after its earliest
  * change, a mid-stream restart with a lost commit replays the batch, and
  * through all of it the untouched months' parquet files stay
  * BYTE-identical — dynamic partition overwrite never rewrites what the
  * batch didn't touch, and the replay converges instead of duplicating.
  */
class StreamingRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def monthFiles(factPath: String, month: String): Map[String, Seq[Byte]] = {
    val dir = Paths.get(factPath, s"part_month=$month")
    if (!Files.exists(dir)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.list(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
        .toMap
    }
  }

  test("streamed changes refresh only frontier months; restart replay converges; untouched months stay byte-identical") {
    val pages = Paths.get(tmpDir("refreshpages"))
    Files.writeString(pages.resolve("page-0.json"),
      """{"data": [
        | {"name": "skitickets", "productDefinitions": [
        |   {"id": 101, "attributes": {"age": {"value": "adult"}, "duration": {"value": "1d"}}}]},
        | {"name": "wintercard", "productDefinitions": [
        |   {"id": 201, "attributes": {"age": {"value": "adult"}, "duration": {"value": "13d"}}}]}]}""".stripMargin)

    val cfg = PricenowPipeline.Config(
      updatedAt = "2026-04-01 06:00:00", jdbcUrl = "unused",
      dialect = JdbcUpsert.Dialect.Generic, writePartitions = Some(1))
    val seasonMonths = Seq("2025-12", "2026-01", "2026-02", "2026-03", "2026-04")
    val changeLog = tmpDir("changelog")
    val fact = tmpDir("factrefresh")
    val ckpt = tmpDir("refreshckpt")

    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String, Int, Int)]
    def start() = StreamingOps.incrementalRefreshSink(
      in.toDF().toDF("product_id", "d", "price", "ord")
        .withColumn("valid_at", to_date(col("d"))).drop("d"),
      pages.toString, cfg, seasonMonths, changeLog, fact, ckpt)

    // batch 0: product 101's history (pre-season seed + January change) —
    // frontier 2025-12 refreshes the whole season
    in.addData((101L, "2025-12-01", 5000, 1), (101L, "2026-01-10", 6500, 2))
    start().awaitTermination()
    val dec = graft.sink.PartitionedParquet.readMonth(spark, fact, "2025-12")
    assert(dec.filter(col("product_id") === 101L).count() == 19) // 12-13..12-31
    val frozen = Seq("2025-12", "2026-01", "2026-02", "2026-03")
      .map(m => m -> monthFiles(fact, m)).toMap
    assert(frozen.forall(_._2.nonEmpty), "expected every early month to exist after batch 0")

    // batch 1: product 201's late first change (2026-04-01) — frontier
    // 2026-04, so December..March must not be rewritten
    in.addData((201L, "2026-04-01", 9000, 3))
    start().awaitTermination()
    frozen.foreach { case (m, files) =>
      assert(monthFiles(fact, m) == files,
        s"month $m was rewritten by a batch whose frontier is 2026-04")
    }
    val april = graft.sink.PartitionedParquet.readMonth(spark, fact, "2026-04")
      .select("product_id", "valid_from", "price", "active")
    // 101 keeps its April tail (01..12 at the January price); 201 gains 12 days
    assert(april.filter(col("product_id") === 101L).count() == 12)
    assert(april.filter(col("product_id") === 201L).count() == 12)
    assert(april.filter(col("product_id") === 201L)
      .agg(min(col("price")), max(col("price"))).head.toSeq == Seq(9000, 9000))
    val aprilRows = april.orderBy("product_id", "valid_from").collect().toSeq

    // crash window: batch 1's JDBC-analog work completed but the commit
    // record was lost — the restart must replay it with no effect twice
    val commit1 = Paths.get(ckpt, "commits", "1")
    assert(Files.deleteIfExists(commit1),
      s"expected a commit record at $commit1 — checkpoint layout changed?")
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".1.crc"))
    start().awaitTermination()

    // replay rewrote only its frontier months; earlier months still the
    // exact bytes from batch 0, and the refreshed month converged
    frozen.foreach { case (m, files) =>
      assert(monthFiles(fact, m) == files,
        s"month $m was rewritten by the replayed batch")
    }
    val aprilReplayed = graft.sink.PartitionedParquet.readMonth(spark, fact, "2026-04")
      .select("product_id", "valid_from", "price", "active")
      .orderBy("product_id", "valid_from").collect().toSeq
    assert(aprilReplayed == aprilRows, "replay must converge, not duplicate or drift")
    // the change log replay overwrote batch 1's own partition — no dupes
    assert(spark.read.parquet(changeLog).count() == 3)
  }
}
