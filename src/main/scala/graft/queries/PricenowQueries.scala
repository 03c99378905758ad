package graft.queries

import graft.QueryDef
import graft.ops.{ForwardFill, PricenowPricing, SessionCache}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity queries over Pricenow-shaped fixtures (FIXTURES.md §3).
  * The fixtures are embedded literals — identical rows appear in the DuckDB
  * oracle as VALUES — so these are strong differential tests of the exact
  * reference semantics (seeding, leading gaps, same-day tie-breaks, the
  * closed-week piecewise calendar) that the star-schema tables can't encode.
  */
object PricenowQueries {

  private val SeasonStart = "2025-12-13" // ref scripts/pricenow_etl.py:331
  private val SeasonEnd = "2026-04-12"   // ref scripts/pricenow_etl.py:332

  // --- fixtures (shared shape with the oracle SQL below) -------------------

  private def changesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      // (product_id, valid_at, price, ord)
      (101, Some("2025-12-01"), Some(5000), 1), // pre-season seed (ref :220-225)
      (101, Some("2025-12-20"), Some(6500), 2),
      (101, Some("2025-12-20"), Some(6600), 3), // same-day dup: last wins (ref :229-231)
      (102, Some("2026-01-10"), Some(3000), 4), // leading gap before 01-10 (ref :233-239)
      (102, None, Some(1), 5),                  // null validAt dropped (ref :205-208)
      (201, Some("2025-11-01"), Some(10000), 6),
      (201, Some("2026-04-12"), Some(9000), 7), // change on the last grid day
      (201, Some("2026-05-01"), Some(1), 8)     // after season end: ignored
    ).toDF("product_id", "valid_at_s", "price", "ord")
      .withColumn("valid_at", to_date(col("valid_at_s")))
      .drop("valid_at_s")
  }

  private val changesValuesSql =
    """(VALUES
      | (101, DATE '2025-12-01', 5000, 1),
      | (101, DATE '2025-12-20', 6500, 2),
      | (101, DATE '2025-12-20', 6600, 3),
      | (102, DATE '2026-01-10', 3000, 4),
      | (102, NULL, 1, 5),
      | (201, DATE '2025-11-01', 10000, 6),
      | (201, DATE '2026-04-12', 9000, 7),
      | (201, DATE '2026-05-01', 1, 8)
      |) AS c(product_id, valid_at, price, ord)""".stripMargin

  private def forwardFillDf(spark: SparkSession): DataFrame =
    ForwardFill.dailyGrid(
      changesDf(spark), "product_id", "valid_at", "price",
      tieBreak = Seq("ord"), start = SeasonStart, end = SeasonEnd)
      .withColumnRenamed("valid_at", "valid_from")

  private val forwardFillSql =
    s"""WITH changes AS (SELECT * FROM $changesValuesSql),
       |pts AS (
       |  SELECT product_id, valid_at AS d, price, 0 AS kind, ord FROM changes
       |  WHERE valid_at IS NOT NULL AND price IS NOT NULL
       |    AND valid_at <= DATE '$SeasonEnd'),
       |grid AS (
       |  SELECT product_id,
       |         unnest(generate_series(DATE '$SeasonStart', DATE '$SeasonEnd',
       |                                INTERVAL 1 day))::DATE AS d
       |  FROM (SELECT DISTINCT product_id FROM pts)),
       |u AS (
       |  SELECT product_id, d, price, kind, ord FROM pts
       |  UNION ALL SELECT product_id, d, NULL, 1, NULL FROM grid),
       |f AS (
       |  SELECT product_id, d, kind,
       |         last_value(price IGNORE NULLS) OVER (
       |           PARTITION BY product_id ORDER BY d, kind, ord
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price
       |  FROM u)
       |SELECT product_id, d AS valid_from, price
       |FROM f WHERE kind = 1 AND price IS NOT NULL""".stripMargin

  // --- query defs -----------------------------------------------------------

  /** The three catalog payloads as page files under a scratch directory
    * ([[Scratch.scratchPath]]), written once per (session, dir). */
  private def catalogPages(spark: SparkSession, dir: String): String =
    SessionCache.memo(spark, dir, "catalog-pages") {
      val base = Scratch.scratchPath(spark, "catalog-pages", dir)
      Seq(
        // `data` envelope (ref payload shape, scripts/pricenow_etl.py:296-313)
        """{"data": [
          | {"name": "skitickets", "productDefinitions": [
          |   {"id": 101, "attributes": {"age": {"value": "adult"}, "duration": {"value": "1d"}}},
          |   {"id": 102, "attributes": {"age": {"value": "child"}, "duration": {"value": "4h"}}},
          |   {"id": 103, "attributes": {"age": {"value": "small_child"}, "duration": {"value": "1d"}}}]}]}""".stripMargin,
        // `items` envelope (S5, ref :153-161)
        """{"items": [
          | {"name": "wintercard", "productDefinitions": [
          |   {"id": 201, "attributes": {"age": {"value": "adult"}, "duration": {"value": "13d"}}}]}]}""".stripMargin,
        // bare top-level array (S5)
        """[{"name": "summercard", "productDefinitions": [
          |   {"id": 301, "attributes": {"age": {"value": "child"}, "duration": {"value": "2d"}}}]}]""".stripMargin
      ).zipWithIndex.foreach { case (body, i) =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(base, f"page-$i%03d.json"), body)
      }
      base
    }

  /** T1+T2+T3+T5+S5: nested catalog flatten over the three envelope
    * shapes, through the page source the pipeline reads
    * ([[graft.sources.PricenowCatalogSource]]). */
  private val catalog = QueryDef(
    fn = (spark, dir) =>
      spark.read.format("graft.sources.PricenowCatalogSource")
        .option("path", catalogPages(spark, dir)).load()
        .orderBy("product_id"),
    oracle = Some(
      """SELECT * FROM (VALUES
        | (CAST(101 AS BIGINT), 'skitickets', 'adult', '1d', 1),
        | (CAST(102 AS BIGINT), 'skitickets', 'child', '4h', 1),
        | (CAST(201 AS BIGINT), 'wintercard', 'adult', '13d', 13),
        | (CAST(301 AS BIGINT), 'summercard', 'child', '2d', 2)
        |) AS t(product_id, category, age, duration, duration_days)
        |ORDER BY product_id""".stripMargin))

  /** F1: the as-of forward-fill centerpiece, full reference semantics. */
  private val ffill = QueryDef(
    fn = (spark, _) => forwardFillDf(spark).orderBy("product_id", "valid_from"),
    oracle = Some(forwardFillSql + "\nORDER BY product_id, valid_from"))

  /** T10+T11+T12: broadcast duration join, piecewise days_between, active. */
  private val active = QueryDef(
    fn = (spark, _) => {
      import spark.implicits._
      val products = Seq((101, 1), (102, 1), (201, 13))
        .toDF("product_id", "duration_days")
      PricenowPricing
        .priceTable(forwardFillDf(spark), products, "valid_from", SeasonEnd,
          updatedAt = "2026-04-01 06:00:00")
        .select($"product_id", $"valid_from", $"price", $"duration_days",
          $"days_between", $"active")
        .orderBy("product_id", "valid_from")
    },
    oracle = Some(
      s"""WITH filled AS ($forwardFillSql),
         |prod AS (SELECT * FROM (VALUES (101, 1), (102, 1), (201, 13))
         |         AS p(product_id, duration_days))
         |SELECT f.product_id, f.valid_from, f.price, p.duration_days,
         |  CAST(CASE
         |    WHEN f.valid_from = DATE '2025-12-13' THEN 2
         |    WHEN f.valid_from = DATE '2025-12-14' THEN 1
         |    WHEN f.valid_from > DATE '2025-12-14'
         |     AND f.valid_from < DATE '2025-12-19' THEN 0
         |    ELSE date_diff('day', f.valid_from, DATE '$SeasonEnd') + 1
         |  END AS INTEGER) AS days_between,
         |  CAST(CASE
         |    WHEN f.valid_from = DATE '2025-12-13' THEN 2
         |    WHEN f.valid_from = DATE '2025-12-14' THEN 1
         |    WHEN f.valid_from > DATE '2025-12-14'
         |     AND f.valid_from < DATE '2025-12-19' THEN 0
         |    ELSE date_diff('day', f.valid_from, DATE '$SeasonEnd') + 1
         |  END >= p.duration_days AS BOOLEAN) AS active
         |FROM filled f JOIN prod p USING (product_id)
         |ORDER BY f.product_id, f.valid_from""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "pricenow_catalog" -> catalog,
    "pricenow_forward_fill" -> ffill,
    "pricenow_active" -> active)
}
