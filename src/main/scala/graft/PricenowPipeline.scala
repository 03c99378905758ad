package graft

import graft.ops.{ForwardFill, PricenowPricing, Validation}
import graft.sink.JdbcUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The complete reference pipeline (`scripts/pricenow_etl.py:426-453`
  * `__main__`) as one composed Spark job — the "a user of the reference
  * could switch" surface:
  *
  *   EP1  catalog: DSv2 page scan -> flatten/filter/derive (S1/S5,T1-T6)
  *   EP2  prices:  change points -> dense-grid LOCF -> broadcast duration
  *        join -> days_between/active -> run-stamp (F1,T10-T14)
  *   EP3  load:    PK validation -> keyed upserts, prices before products,
  *        idempotent on rerun (V1/V2,K1-K3)
  *
  * Differences by design (SURVEY.md §3): the driver-side id-list collect at
  * ref :439 disappears — the engine joins instead; both tables derive from
  * lazy plans and load in two actions.
  * EP2 runs once per load: its keys are non-nullable by schema (the grid
  * day from `sequence`, `product_id` from the catalog), so the V2 check
  * folds to an empty relation and only the upsert runs the EP2 lineage.
  */
object PricenowPipeline {

  case class Config(
      seasonStart: String = "2025-12-13", // ref :331
      seasonEnd: String = "2026-04-12",   // ref :332
      updatedAt: String,                  // ONE stamp per run (ref :432)
      jdbcUrl: String,
      dialect: JdbcUpsert.Dialect = JdbcUpsert.Dialect.Postgres,
      productsTable: String = "pricenow_products",
      pricesTable: String = "pricenow_prices",
      writePartitions: Option[Int] = None)

  /** EP1: catalog scan -> pricenow_products shape. */
  def products(spark: SparkSession, pagesPath: String, cfg: Config): DataFrame =
    spark.read.format("graft.sources.PricenowCatalogSource")
      .option("path", pagesPath).load()
      .withColumn("updated_at", to_timestamp(lit(cfg.updatedAt)))

  /** EP2: change points (product_id, valid_at DATE, price, ingest ord) ->
    * dense daily pricenow_prices with active flags. */
  def prices(changes: DataFrame, catalog: DataFrame, cfg: Config): DataFrame = {
    val filled = ForwardFill.dailyGrid(
        changes, "product_id", "valid_at", "price",
        tieBreak = Seq("ord"), start = cfg.seasonStart, end = cfg.seasonEnd)
      .withColumnRenamed("valid_at", "valid_from")
    PricenowPricing.priceTable(
        filled, catalog.select(col("product_id"), col("duration_days")),
        "valid_from", cfg.seasonEnd, cfg.updatedAt)
      .select(col("product_id"), col("valid_from"), col("price"),
        col("active"), col("updated_at"))
  }

  /** EP3: validate PKs then upsert — prices before products, matching the
    * reference's load order (ref :448 vs :452, no FK ordering assumed). */
  def load(productsDf: DataFrame, pricesDf: DataFrame, cfg: Config): Unit = {
    Validation.requireNonNull(productsDf, Seq("product_id"))     // V1, ref :248-251
    Validation.requireNonNull(pricesDf, Seq("product_id", "valid_from")) // V2, ref :271-274
    JdbcUpsert.upsert(pricesDf, cfg.jdbcUrl, cfg.pricesTable,
      Seq("product_id", "valid_from"), cfg.dialect,
      writePartitions = cfg.writePartitions)                     // K3, ref :448
    JdbcUpsert.upsert(productsDf, cfg.jdbcUrl, cfg.productsTable,
      Seq("product_id"), cfg.dialect,
      writePartitions = cfg.writePartitions)                     // K2, ref :452
  }

  /** EP2' incremental fact refresh: the month-partitioned parquet layout of
    * the dense price table (the 100 TB batch sink from SURVEY §4), refreshed
    * for exactly the given `part_month` values. The grid is recomputed from
    * the full change history (LOCF carries state across month boundaries, so
    * a month's slice is only correct when filled from all earlier changes),
    * then filtered to the target months and dynamic-partition-overwritten:
    * untouched months' files are never rewritten, and a rerun of the same
    * months converges — the parquet analog of the keyed upsert. Consumers
    * read one month via [[graft.sink.PartitionedParquet.readMonth]], which
    * prunes the scan to that partition (asserted in SinkLayoutSpec).
    *
    * @param requireNonEmpty when true (the batch-CLI default), a requested
    *   month whose recomputed slice is empty fails loudly — its stale
    *   partition would silently survive a dynamic overwrite. The streaming
    *   composition ([[graft.streaming.StreamingOps.incrementalRefreshSink]])
    *   passes false: its month list is a conservative frontier that may
    *   legitimately extend past the grid (a change after season end, a
    *   season month the grid never reaches), and foreachBatch is
    *   at-least-once — a throwing batch would replay forever, a poison
    *   pill, so unproduced months become a no-op instead.
    */
  def refreshMonths(
      spark: SparkSession, pagesPath: String, changes: DataFrame,
      cfg: Config, factPath: String, months: Seq[String],
      requireNonEmpty: Boolean = true): Unit = {
    val cat = products(spark, pagesPath, cfg)
    // lazy checkpoint: the guard below materializes the slice once and the
    // write reuses it — the refreshed months are small by design (that is
    // the point of incremental), so caching them is bounded
    val pr = prices(changes, cat, cfg)
      .filter(date_format(col("valid_from"), "yyyy-MM").isin(months: _*))
      .localCheckpoint(false)
    // dynamic overwrite only rewrites partitions PRESENT in the output: a
    // requested month whose recomputed slice is empty (season reconfigured,
    // or a mis-formatted month like "2026-5") would silently keep its stale
    // files — fail loudly instead; months-per-run is tiny, so the distinct
    // collect is a driver-side scalar check, not a data path
    val produced = pr.select(date_format(col("valid_from"), "yyyy-MM").as("m"))
      .distinct().collect().map(_.getString(0)).toSet
    val missing = months.filterNot(produced)
    require(!requireNonEmpty || missing.isEmpty,
      s"refreshMonths: no recomputed rows for month(s) ${missing.mkString(", ")} — " +
        "the stale partition would survive a dynamic overwrite; check the season " +
        "window and the yyyy-MM format")
    if (produced.nonEmpty)
      graft.sink.PartitionedParquet.writeByMonth(pr, "valid_from", factPath)
  }

  /** Full run: EP1 -> EP2 -> EP3. */
  def run(spark: SparkSession, pagesPath: String, changes: DataFrame, cfg: Config): Unit = {
    val cat = products(spark, pagesPath, cfg)
    val pr = prices(changes, cat, cfg)
    load(
      cat.select("product_id", "category", "age", "duration", "updated_at"),
      pr, cfg)
  }
}
