package graft

import java.nio.file.{Files, Paths}
import graft.sink.PartitionedParquet
import org.apache.spark.sql.functions._

class SinkLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("writeByMonth lays out part_month dirs; reads prune partitions; dynamic overwrite converges") {
    val dir = tmpDir("pp") + "/prices"
    val v1 = Seq(
      (101L, "2025-12-13", 5000), (101L, "2026-01-05", 6000),
      (102L, "2025-12-20", 3000))
      .toDF("product_id", "d", "price")
      .withColumn("valid_from", to_date(col("d"))).drop("d")
    PartitionedParquet.writeByMonth(v1, "valid_from", dir)
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("part_month=")).sorted
    assert(dirs.toSeq == Seq("part_month=2025-12", "part_month=2026-01"))

    // partition pruning visible in the scan
    val scan = PartitionedParquet.readMonth(spark, dir, "2025-12")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("part_month"))
    assert(scan.count() == 2)

    // dynamic overwrite: rewrite only 2025-12; 2026-01 untouched
    val v2 = Seq((101L, "2025-12-13", 9999))
      .toDF("product_id", "d", "price")
      .withColumn("valid_from", to_date(col("d"))).drop("d")
    PartitionedParquet.writeByMonth(v2, "valid_from", dir)
    val all = spark.read.parquet(dir)
    assert(all.count() == 2) // 1 rewritten dec row + 1 untouched jan row
    assert(all.filter(col("part_month") === "2026-01").count() == 1)
  }

  test("incremental month refresh rewrites only its partition; reads prune to one month") {
    val pages = Paths.get(tmpDir("incr-pages"))
    java.nio.file.Files.writeString(pages.resolve("page-0.json"),
      """{"data": [
        | {"name": "skitickets", "productDefinitions": [
        |   {"id": 101, "attributes": {"age": {"value": "adult"}, "duration": {"value": "1d"}}}]}]}""".stripMargin)
    val changes1 = Seq((101L, "2025-12-01", 5000, 1))
      .toDF("product_id", "d", "price", "ord")
      .withColumn("valid_at", to_date(col("d"))).drop("d")
    val cfg = PricenowPipeline.Config(
      updatedAt = "2026-04-01 06:00:00", jdbcUrl = "unused",
      writePartitions = Some(1))
    val fact = tmpDir("incr-fact") + "/prices"
    val allMonths = Seq("2025-12", "2026-01", "2026-02", "2026-03", "2026-04")

    // full build: season 2025-12-13..2026-04-12 -> five month partitions
    PricenowPipeline.refreshMonths(spark, pages.toString, changes1, cfg, fact, allMonths)
    def partFiles(month: String): Map[String, Long] = {
      val d = new java.io.File(s"$fact/part_month=$month")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    assert(new java.io.File(fact).listFiles().map(_.getName)
      .filter(_.startsWith("part_month=")).sorted.toSeq ==
      allMonths.map("part_month=" + _))
    val decBefore = partFiles("2025-12")
    val febBefore = partFiles("2026-02")

    // incremental: a January price change refreshes ONLY 2026-01
    val changes2 = changes1.union(
      Seq((101L, "2026-01-10", 6500, 2)).toDF("product_id", "d", "price", "ord")
        .withColumn("valid_at", to_date(col("d"))).drop("d"))
    PricenowPipeline.refreshMonths(spark, pages.toString, changes2, cfg, fact,
      months = Seq("2026-01"))

    // untouched partitions: same files, same mtimes — physically not rewritten
    assert(partFiles("2025-12") == decBefore)
    assert(partFiles("2026-02") == febBefore)
    // refreshed partition carries the new price from the 10th onward
    val jan = graft.sink.PartitionedParquet.readMonth(spark, fact, "2026-01")
    assert(jan.filter(col("valid_from") === "2026-01-10")
      .select("price").as[Int].collect().toSeq == Seq(6500))
    assert(jan.filter(col("valid_from") === "2026-01-09")
      .select("price").as[Int].collect().toSeq == Seq(5000))
    assert(jan.count() == 31)

    // and the month read PRUNES: partition filter present, one of five
    // partition dirs selected (leaf-file count == that partition's files)
    val plan = jan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      """part_month[^\]]* = 2026-01""".r.findFirstIn(plan).nonEmpty,
      s"month read did not push a partition filter:\n${plan.take(1500)}")
    val scanned = jan.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scanned.nonEmpty)
    assert(scanned.head.metadata.get("PartitionFilters").exists(_.contains("part_month")))
  }

  test("refreshMonths fails loudly when a requested month produces no rows") {
    val pages = Paths.get(tmpDir("guard-pages"))
    java.nio.file.Files.writeString(pages.resolve("page-0.json"),
      """{"data": [
        | {"name": "skitickets", "productDefinitions": [
        |   {"id": 101, "attributes": {"age": {"value": "adult"}, "duration": {"value": "1d"}}}]}]}""".stripMargin)
    val changes = Seq((101L, "2025-12-01", 5000, 1))
      .toDF("product_id", "d", "price", "ord")
      .withColumn("valid_at", to_date(col("d"))).drop("d")
    val cfg = PricenowPipeline.Config(
      updatedAt = "2026-04-01 06:00:00", jdbcUrl = "unused", writePartitions = Some(1))
    val fact = tmpDir("guard-fact") + "/prices"
    // out-of-season month and a mis-formatted month must both refuse to
    // no-op (dynamic overwrite would silently keep stale files)
    Seq("2026-07", "2026-1").foreach { bad =>
      val ex = intercept[IllegalArgumentException] {
        PricenowPipeline.refreshMonths(spark, pages.toString, changes, cfg, fact, Seq(bad))
      }
      assert(ex.getMessage.contains(bad))
    }
  }

  test("plainDec8 matches DuckDB's plain VARCHAR rendering incl. sub-1e-6 values") {
    // DuckDB CAST(DECIMAL(30,8) AS VARCHAR) is always plain with 8 fraction
    // digits; BigDecimal.toString goes scientific below 1e-6 — the helper
    // must bridge exactly
    val cases = Seq(
      "0"           -> "0.00000000",
      "0.00000001"  -> "0.00000001",   // 1E-8 in BigDecimal.toString
      "-0.00000001" -> "-0.00000001",
      "0.0001"      -> "0.00010000",
      "-3.5"        -> "-3.50000000",
      "12345678901234567890.12345678" -> "12345678901234567890.12345678")
    val df = cases.map(_._1).toDF("v")
      .select(graft.queries.CoreQueries.plainDec8(
        col("v").cast(org.apache.spark.sql.types.DecimalType(30, 8))).as("s"))
    assert(df.as[String].collect().toSeq == cases.map(_._2))
  }

  test("saltedSumCount equals direct groupBy on a skewed input") {
    // 10k rows of one hot key + a tail
    val hot = spark.range(0, 10000).select(lit("HOT").as("k"), (col("id") % 97).cast("double").as("v"), col("id"))
    val tail = spark.range(0, 500).select(concat(lit("t"), col("id") % 7).as("k"), col("id").cast("double").as("v"), col("id"))
    val df = hot.union(tail)
    val salted = graft.ops.Skew.saltedSumCount(df, Seq("k"), "v", col("id"), salts = 8)
      .orderBy("k").as[(String, Double, Long)].collect().toSeq
    val direct = df.groupBy(col("k"))
      .agg(sum(col("v").cast("decimal(12,4)")).cast("double").as("s"), count(lit(1)).as("n"))
      .orderBy("k").as[(String, Double, Long)].collect().toSeq
    assert(salted == direct)
  }
}
