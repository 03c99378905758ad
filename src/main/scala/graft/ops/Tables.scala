package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Harness-table loaders (TESTDATA.md): one parquet file per table under
  * the scale-factor directory. Parquet scans give Catalyst predicate
  * pushdown + column pruning for free — every query should show
  * `PushedFilters`/narrow `ReadSchema` in `.explain("formatted")`.
  */
object Tables {
  /** Inferred parquet schema per (path, mtime, type-affecting confs).
    *
    * `spark.read.parquet(path)` runs FOOTER-BASED SCHEMA INFERENCE on
    * every call — a driver-coordinated job costing a measured ~70-80 ms
    * per call even for a one-file table (sf0.1: construction
    * 82 ms inferred vs 7.7 ms with a supplied schema; a trivial
    * scan-sum query drops 222 ms → 109 ms end-to-end). With ~600+
    * loader calls per bench pass that inference is tens of seconds of
    * pure metadata rework per pass, and at 100 TB it is a full
    * footer-listing job per query construction — the cost a production
    * catalog/metastore exists to amortize. This cache IS that catalog:
    * schemas only (never data, never results — every query still
    * computes from the parquet inputs), keyed on the file's mtime so a
    * rewritten file re-infers, plus the two confs that change what type
    * inference produces (nanos-as-long, NTZ inference).
    */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, String), org.apache.spark.sql.types.StructType]

  private def inferredSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val stamp = SessionCache.cacheStamp(spark, path)
    schemaCache.getOrElseUpdate((path, stamp._1, stamp._2),
      spark.read.parquet(path).schema)
  }

  /** Reads a harness table, normalizing any TIMESTAMP_NTZ column to
    * TimestampType. The driver's parquet writer has flipped
    * `isAdjustedToUTC` between rounds; with the session timezone pinned to
    * UTC (Verify/Bench/tests) the cast is wall-clock-identical, so every
    * epoch-based function (`unix_micros`, RANGE frames, lag arithmetic)
    * keeps working and the DuckDB oracle — which reads the same values as
    * naive timestamps — still hash-matches.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    def normalize(raw: DataFrame): DataFrame =
      raw.schema.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
      }.foldLeft(raw) { (df, c) =>
        df.withColumn(c, df.col(c).cast(org.apache.spark.sql.types.TimestampType))
      }
    // The resolved, normalized frame is memoized per (session, path) and
    // rebuilt when the file's stamp changes: a production catalog resolves
    // a table once per session. Every `spark.read.parquet` call re-builds
    // a relation and re-runs analyzer resolution (ResolveDataSource alone
    // metered 2.6 s per warm suite pass); the memo holds a lazy LOGICAL
    // PLAN only, so every query still scans parquet per action. Self-joins
    // of the shared frame stay sound (DeduplicateRelations).
    SessionCache.memo(spark, path, "table")(
      normalize(spark.read.schema(inferredSchema(spark, path)).parquet(path)))
  }

  def lineitem(spark: SparkSession, d: String): DataFrame = t(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = t(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = t(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = t(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = t(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = t(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = t(spark, d, "region")
  /** events.parquet stores TIMESTAMP(NANOS), which Spark only reads via
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in Verify/Bench/tests).
    * Normalized here: `ts` becomes a microsecond TimestampType and `ts_ns`
    * keeps the exact int64 nanos for ns-faithful ordering/tie-breaks.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    val raw = t(spark, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", org.apache.spark.sql.functions.col("ts"))
          .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts_ns",
          org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = t(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = t(spark, d, "embeddings")
}
