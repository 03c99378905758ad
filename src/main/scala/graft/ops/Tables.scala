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

  /** (mtime, type-affecting-confs) cache key component for `path` —
    * shared by the schema cache and the resolved-frame cache below. */
  private def cacheStamp(spark: SparkSession, path: String): (Long, String) = {
    // Every conf that changes what parquet type inference PRODUCES keys
    // the cache (r17 advice: nanosAsLong/NTZ alone missed binaryAsString,
    // int96AsTimestamp, caseSensitive, mergeSchema).
    val confKey = Seq(
      "spark.sql.legacy.parquet.nanosAsLong" -> "false",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
      "spark.sql.timestampType" -> "TIMESTAMP_LTZ",
      "spark.sql.parquet.binaryAsString" -> "false",
      "spark.sql.parquet.int96AsTimestamp" -> "true",
      "spark.sql.caseSensitive" -> "false",
      "spark.sql.parquet.mergeSchema" -> "false")
      .map { case (k, d) => spark.conf.get(k, d) }.mkString("|")
    // Hadoop FileSystem mtime, not java.io.File (which returns 0 for any
    // non-local scheme — hdfs://, s3a:// — and would serve a stale schema
    // silently). For directory-style tables the newest mtime across the
    // directory and its direct children invalidates on in-place part-file
    // rewrites, which the directory's own mtime misses.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val mtime =
      if (st.isDirectory)
        (st.getModificationTime +: fs.listStatus(p).map(_.getModificationTime).toSeq).max
      else st.getModificationTime
    (mtime, confKey)
  }

  private def inferredSchema(spark: SparkSession, path: String,
      stamp: (Long, String)): org.apache.spark.sql.types.StructType =
    schemaCache.getOrElseUpdate((path, stamp._1, stamp._2),
      spark.read.parquet(path).schema)

  /** Resolved, normalized base-table DataFrame per (session, path,
    * mtime, type-affecting confs) — the catalog layer the schema cache
    * started (r17): even with the schema supplied, every
    * `spark.read.parquet` call re-builds a relation and re-runs
    * analyzer resolution on it; Catalyst rule metering put ResolveDataSource
    * alone at 2.6 s per warm suite pass (11,700 runs) on top of the
    * per-call FileIndex/LogicalRelation construction. A production
    * catalog resolves a table once per session — this cache IS that
    * catalog step: a lazy LOGICAL PLAN only (never data, never results;
    * every query still scans parquet per action), invalidated by file
    * mtime exactly like the schema cache, evicted on session stop via
    * SessionCache. Same reuse discipline the dedup family established
    * with its memoized `documents` read; self-joins of the shared frame
    * stay sound (DeduplicateRelations, as for any twice-used frame). */
  private val frameCache =
    new SessionCache[(String, Long, String), DataFrame]("table:")

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
    val stamp = cacheStamp(spark, path)
    frameCache.getOrElseUpdate(spark, (path, stamp._1, stamp._2),
      normalize(spark.read
        .schema(inferredSchema(spark, path, stamp)).parquet(path)))
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
