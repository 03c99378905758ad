package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager
import graft.ops.Validation
import graft.sink.JdbcUpsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end reference-pipeline parity: catalog pages -> dense price grid
  * with active flags -> keyed tables in (Derby-emulated) Postgres, rerun
  * idempotence included; and the EP2-once contract of the load.
  */
class PricenowPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:pipeline;create=true"

  private def writePages(): Path = {
    val pages = Paths.get(tmpDir("pages"))
    Files.writeString(pages.resolve("page-0.json"),
      """{"data": [
        | {"name": "skitickets", "productDefinitions": [
        |   {"id": 101, "attributes": {"age": {"value": "adult"}, "duration": {"value": "1d"}}},
        |   {"id": 103, "attributes": {"age": {"value": "small_child"}, "duration": {"value": "1d"}}}]},
        | {"name": "wintercard", "productDefinitions": [
        |   {"id": 201, "attributes": {"age": {"value": "adult"}, "duration": {"value": "13d"}}}]}]}""".stripMargin)
    pages
  }

  private def changesDf: DataFrame = Seq(
      (101L, Some("2025-12-01"), Some(5000), 1), // pre-season seed
      (101L, Some("2026-01-10"), Some(6500), 2),
      (201L, Some("2026-04-01"), Some(9000), 3)) // late first change -> leading gap
    .toDF("product_id", "d", "price", "ord")
    .withColumn("valid_at", to_date(col("d"))).drop("d")

  test("full EP1->EP2->EP3 run lands both tables; rerun converges") {
    val conn = DriverManager.getConnection(url)
    try {
      Seq("pricenow_products", "pricenow_prices").foreach { t =>
        try conn.createStatement().execute(s"DROP TABLE $t")
        catch { case _: java.sql.SQLException => () }
      }
      conn.createStatement().execute(
        """CREATE TABLE pricenow_products (
          |  product_id BIGINT NOT NULL PRIMARY KEY, category VARCHAR(64),
          |  age VARCHAR(32), duration VARCHAR(8), updated_at TIMESTAMP)""".stripMargin)
      conn.createStatement().execute(
        """CREATE TABLE pricenow_prices (
          |  product_id BIGINT NOT NULL, valid_from DATE NOT NULL,
          |  price INT, active BOOLEAN, updated_at TIMESTAMP,
          |  PRIMARY KEY (product_id, valid_from))""".stripMargin)
    } finally conn.close()

    val pages = writePages()
    val changes = changesDf

    val cfg = PricenowPipeline.Config(
      updatedAt = "2026-04-01 06:00:00", jdbcUrl = url,
      dialect = JdbcUpsert.Dialect.Generic,
      writePartitions = Some(1)) // Derby: single writer avoids lock escalation
    PricenowPipeline.run(spark, pages.toString, changes, cfg)

    val c2 = DriverManager.getConnection(url)
    try {
      val st = c2.createStatement()
      val rsP = st.executeQuery("SELECT product_id, category FROM pricenow_products ORDER BY product_id")
      val prods = Iterator.continually(rsP).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2))).toSeq
      assert(prods == Seq((101L, "skitickets"), (201L, "wintercard"))) // 103 filtered

      // 101: dense 2025-12-13..2026-04-12 = 121 days; 201: 2026-04-01..04-12 = 12 days
      val rsC = st.executeQuery(
        "SELECT product_id, count(*) FROM pricenow_prices GROUP BY product_id ORDER BY product_id")
      val counts = Iterator.continually(rsC).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getInt(2))).toSeq
      assert(counts == Seq((101L, 121), (201L, 12)))

      // price switches on 2026-01-10; active obeys 13d duration at the tail
      val rs = st.executeQuery(
        """SELECT price FROM pricenow_prices
          |WHERE product_id = 101 AND valid_from IN (DATE('2026-01-09'), DATE('2026-01-10'))
          |ORDER BY valid_from""".stripMargin)
      val prices = Iterator.continually(rs).takeWhile(_.next()).map(_.getInt(1)).toSeq
      assert(prices == Seq(5000, 6500))
      val rsA = st.executeQuery(
        "SELECT active FROM pricenow_prices WHERE product_id = 201 AND valid_from = DATE('2026-04-05')")
      rsA.next()
      val active0405 = rsA.getBoolean(1)
      rsA.close() // an open ResultSet holds a read lock on this exact row,
                  // which would block the rerun's UPDATE for 60s
      assert(!active0405) // 8 days left < 13d duration

      // rerun: byte-identical state (idempotent upserts)
      PricenowPipeline.run(spark, pages.toString, changes, cfg)
      val rsN = st.executeQuery("SELECT count(*) FROM pricenow_prices")
      rsN.next()
      assert(rsN.getInt(1) == 133)
    } finally c2.close()
  }

  test("EP2 runs once per load: the V2 key check is proven by schema and launches no job") {
    val cfg = PricenowPipeline.Config(updatedAt = "2026-04-01 06:00:00", jdbcUrl = url)
    val catalog = PricenowPipeline.products(spark, writePages().toString, cfg)
    val prices = PricenowPipeline.prices(changesDf, catalog, cfg)
    Seq("product_id", "valid_from").foreach { k =>
      assert(!prices.schema(k).nullable, s"$k must be non-nullable in the EP2 schema")
    }
    val keys = Seq("product_id", "valid_from")
    assert(jobsOf(Validation.requireNonNull(prices, keys)) == 0,
      "the null-key check recomputed the EP2 lineage")
    assert(jobsOf(prices.count()) > 0, "the probe must see the lineage's own jobs")

    // a frame whose key is nullable in the schema is still checked for real
    val nullable = Seq((Some(1L), "2026-01-01"), (None, "2026-01-02"))
      .toDF("product_id", "d").withColumn("valid_from", to_date(col("d"))).drop("d")
    val err = intercept[IllegalArgumentException](Validation.requireNonNull(nullable, keys))
    assert(err.getMessage.contains("product_id/valid_from") && err.getMessage.contains("null"),
      err.getMessage)
  }

  test("Validation rejects an empty key list by name, not with an opaque reduce error") {
    val df = Seq(1L).toDF("product_id")
    Seq[() => Any](
      () => Validation.nullViolations(df, Nil),
      () => Validation.requireNonNull(df, Nil)).foreach { call =>
      val err = intercept[IllegalArgumentException](call())
      assert(err.getMessage.contains("at least one key"), err.getMessage)
    }
  }
}
