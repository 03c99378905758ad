package graft.streaming

import graft.ops.ForwardFill
import graft.sink.{JdbcUpsert, Store}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Structured Streaming surface (SURVEY.md §2.3 streaming row): the
  * reference is batch-only (cron 2×/day = micro-batch by scheduler), so
  * these operators are the north-star extension — the same pipeline
  * semantics expressed as an always-on stream.
  *
  *  - [[windowedStats]]: tumbling event-time windows + watermark (late-data
  *    policy made explicit, where the reference relies on rerun-idempotence);
  *  - [[latestPerKey]]: keyed running state via flatMapGroupsWithState —
  *    the streaming twin of dedup-keep-latest / the upsert's last-write-wins;
  *  - [[upsertSink]]: foreachBatch → [[JdbcUpsert]], giving every
  *    micro-batch the reference's idempotent keyed-upsert semantics (K1),
  *    exactly-once effective through key overwrite.
  *
  * Scale notes: state per key is O(1) (one value + timestamp); watermark +
  * event-time idle timeout bound state retention (idle keys are evicted);
  * both operators shuffle once on the grouping key and stream state lives
  * in the state store (RocksDB at production scale).
  */
object StreamingOps {

  /** Tumbling-window per-type stats with a watermark: counts and value sums
    * per (window, event_type). Late rows beyond the watermark are dropped —
    * the explicit version of the reference's "rerun overwrites" policy.
    */
  def windowedStats(
      events: DataFrame, tsCol: String, typeCol: String, valueCol: String,
      windowLen: String = "10 minutes", watermark: String = "5 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(typeCol), col("n_events"), col("sum_value"))

  /** Sliding event-time windows (length `windowLen`, hop `slide`): each
    * event contributes to windowLen/slide windows — Spark expands via the
    * window generator, shuffle on (window, type) as usual.
    */
  def slidingStats(
      events: DataFrame, tsCol: String, typeCol: String, valueCol: String,
      windowLen: String = "10 minutes", slide: String = "5 minutes",
      watermark: String = "5 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(typeCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(typeCol), col("n_events"), col("sum_value"))

  /** Session windows per key: a session closes after `gap` of inactivity.
    * State = open session bounds per key, bounded by the watermark.
    */
  def sessionStats(
      events: DataFrame, tsCol: String, keyCol: String,
      gap: String = "5 minutes", watermark: String = "5 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"))

  /** Streaming exact dedup: drop repeats of `keys` arriving within the
    * watermark horizon — the streaming twin of `Dedup.exactKeepFirst`.
    * State per key is bounded by the watermark (unlike dropDuplicates,
    * whose state grows forever on an unbounded stream).
    */
  def dedupWithinWatermark(
      events: DataFrame, tsCol: String, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming approximate distinct-count per tumbling window: the
    * [[graft.functions.KmvSketch]] bottom-k sketch as a watermarked
    * windowed AGGREGATION. Aggregator partials merge inside streaming
    * state exactly like batch map-side combine, so per-(window, type)
    * state is O(k) longs no matter how many rows or distinct keys the
    * window sees — the bounded-state alternative to streaming
    * `approx_count_distinct` (whose HLL registers are not
    * value-portable) and to exact distinct (whose per-window key set
    * state is unbounded). Keys are hashed with the engine's md5-fold
    * (same universe as the batch KMV family); with fewer than k distinct
    * keys the sketch is exhaustive and `est_distinct` is EXACT, above k
    * it is the (k−1)·2³²/(h_k+1) estimator — both regimes spec-driven
    * against the batch twin.
    */
  def windowedDistinctKmv(
      events: DataFrame, tsCol: String, typeCol: String, keyCol: String,
      windowLen: String = "10 minutes", watermark: String = "5 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), col(typeCol),
        graft.ops.TextAnalysis.tokenHash32(col(keyCol).cast("string")).as("h"))
      .groupBy(window(col(tsCol), windowLen), col(typeCol))
      .agg(graft.functions.KmvSketch.kmv64(col("h")).as("kmv"),
        count(lit(1)).as("n_rows"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(typeCol), col("n_rows"),
        size(col("kmv")).cast("long").as("k_used"),
        when(size(col("kmv")) < 64, size(col("kmv")).cast("long"))
          .otherwise(expr("(63 * 4294967296) div (element_at(kmv, 64) + 1)"))
          .as("est_distinct"))

  /** Streaming windowed quantiles via the DDSketch log-bucket state
    * ([[graft.functions.DdSketchAgg]]) — the quantile twin of
    * [[windowedDistinctKmv]]: per (tumbling window, key), p50/p95
    * estimates each guaranteed within α = 5% relative error of the true
    * windowed rank value, from O(#buckets) ≈ 50 longs of state per
    * window regardless of event volume (an exact windowed percentile
    * would hold every row). Bucketing runs scan-stage with the batch
    * twin's 9dp-round-before-floor libm discipline; the aggregator's
    * buffer merges across micro-batches through streaming state exactly
    * as partial combine merges it in batch — the spec pins streaming ==
    * batch on identical rows. Non-positive values are out of the
    * sketch's domain and are dropped (the batch twin's `v > 0` guard).
    */
  def windowedQuantileDd(
      events: DataFrame, tsCol: String, typeCol: String, valCol: String,
      windowLen: String = "10 minutes", watermark: String = "5 minutes"): DataFrame = {
    val lnG = math.log(1.05 / 0.95)
    events
      .withWatermark(tsCol, watermark)
      .filter(col(valCol) > 0)
      .select(col(tsCol), col(typeCol),
        floor(floor((log(col(valCol).cast("double")) / lnG) * 1e9 + 0.5) / 1e9)
          .cast("int").as("b"))
      .groupBy(window(col(tsCol), windowLen), col(typeCol))
      .agg(graft.functions.DdSketchAgg.dd5(col("b")).as("est"),
        count(lit(1)).as("n_rows"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col(typeCol), col("n_rows"),
        element_at(col("est"), 1).as("p50_est"),
        element_at(col("est"), 2).as("p95_est"))
  }

  case class DailyTotal(etype: String, day: java.sql.Date, total: Double)
  case class EwmaState(e: Double, n: Long)

  /** Streaming twin of q_ewma_anomaly: the α = 1/2 exponential smoother as
    * keyed state — one (ewma, count) pair per series, updated in day order
    * within each micro-batch, spanning batches through GroupState. A day
    * spikes when its total departs from the previous smoothed level by
    * more than 50 %. State is O(1) per key (two numbers), the streaming
    * ideal; the price versus the batch twin is float recursion instead of
    * the de-recursed exact integer sum — the spec bounds the drift, and
    * the ingest contract is in-order days per key across batches (the
    * latestPerKey late-data stance: sources lagging behind their key's
    * frontier re-seed, they do not rewrite history).
    */
  def ewmaAnomalyStream(daily: Dataset[DailyTotal])
      : Dataset[(String, java.sql.Date, Double, Double, Boolean)] = {
    import daily.sparkSession.implicits._
    daily.groupByKey(_.etype)
      .flatMapGroupsWithState[EwmaState, (String, java.sql.Date, Double, Double, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: String, rows: Iterator[DailyTotal], state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(_.day.toString)
          var (e, n) = state.getOption.map(s => (s.e, s.n)).getOrElse((0.0, 0L))
          val out = sorted.map { r =>
            val prev = e
            n += 1
            e = if (n == 1) r.total else (r.total + e) / 2
            val spike = n > 1 && math.abs(r.total - prev) > prev / 2
            (k, r.day, r.total, e, spike)
          }
          state.update(EwmaState(e, n))
          out.iterator
      }
  }

  case class KeyedValue(key: Long, ts: java.sql.Timestamp, value: Double)
  case class LatestState(ts: Long, value: Double)

  /** Latest value per key as an update stream: every micro-batch emits the
    * keys whose latest (by event time) value changed — the streaming
    * forward-fill seed / keep-latest dedup. State: one (ts, value) per key,
    * and state retention IS bounded: a watermark on `ts` plus an event-time
    * idle timeout evict keys silent for `idleTtlMs` beyond the watermark,
    * so total state is O(active keys), not O(all keys ever seen).
    *
    * Late-data policy (the price of bounded state): rows with `ts` behind
    * the global watermark are dropped BEFORE reaching the state function —
    * a key whose source lags more than `watermarkDelay` behind the fastest
    * source stops updating, and after `idleTtlMs` its state is evicted, so
    * a subsequent late row re-seeds from empty and may re-emit an older
    * value than was already emitted. Size `watermarkDelay` to the worst
    * cross-source skew you need to absorb; the unbounded-state alternative
    * is exactly the round-1 behavior this replaced.
    */
  def latestPerKey(
      events: Dataset[KeyedValue],
      watermarkDelay: String = "1 hour",
      idleTtlMs: Long = 24L * 3600 * 1000): Dataset[(Long, java.sql.Timestamp, Double)] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[LatestState, (Long, java.sql.Timestamp, Double)](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[KeyedValue], state: GroupState[LatestState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val incoming = rows.maxByOption(r => (r.ts.getTime, r.value))
            val prev = state.getOption
            val out = incoming match {
              case Some(r) if prev.forall(_.ts <= r.ts.getTime) =>
                state.update(LatestState(r.ts.getTime, r.value))
                Iterator((key, r.ts, r.value))
              case _ => Iterator.empty
            }
            // re-arm on every visit: each non-late row (the watermark
            // filters older ones upstream) pushes expiry to idleTtl past
            // the current watermark
            if (state.exists)
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idleTtlMs)
            out
          }
      }
  }

  case class CdcRow(key: Long, ts: java.sql.Timestamp, op: String, value: Double)

  /** Streaming CDC apply — the streaming twin of the batch `q_cdc_apply`
    * compaction: per key, the latest change (by event time) wins; an op
    * of `"D"` is a delete tombstone that CLEARS the key's state and
    * emits a `D` marker downstream (so a keyed sink can propagate the
    * delete), anything else upserts and emits a `U` with the new value.
    * A tombstoned key's state is dropped immediately — the live-state
    * footprint shrinks with deletes instead of retaining dead keys until
    * the idle TTL. Stale rows (at or behind the applied state's
    * timestamp) are ignored exactly as in [[latestPerKey]]; the same
    * watermark + event-time idle timeout bound total state at O(live
    * keys).
    *
    * Late-data caveat (the price of dropping tombstone state): an update
    * older than an applied delete but ahead of the watermark re-seeds the
    * key from empty — the delete's timestamp is forgotten with its state.
    * Sinks needing exactly-ordered deletes must retain tombstones
    * downstream (the standard compaction tradeoff); within the watermark
    * horizon the upstream filter already drops older rows.
    */
  def applyChangelog(
      events: Dataset[CdcRow],
      watermarkDelay: String = "1 hour",
      idleTtlMs: Long = 24L * 3600 * 1000)
      : Dataset[(Long, java.sql.Timestamp, String, Double)] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[LatestState, (Long, java.sql.Timestamp, String, Double)](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, rows: Iterator[CdcRow], state: GroupState[LatestState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // deterministic within-batch winner: latest ts, D beats U on a
            // tie (a delete and an update stamped identically must not
            // resurrect the key), then value
            val incoming = rows.maxByOption(r => (r.ts.getTime, r.op == "D", r.value))
            val prev = state.getOption
            val out = incoming match {
              case Some(r) if prev.forall(_.ts <= r.ts.getTime) =>
                if (r.op == "D") {
                  state.remove()
                  Iterator((key, r.ts, "D", r.value))
                } else {
                  state.update(LatestState(r.ts.getTime, r.value))
                  Iterator((key, r.ts, "U", r.value))
                }
              case _ => Iterator.empty
            }
            if (state.exists)
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idleTtlMs)
            out
          }
      }
  }

  /** Streaming fuzzy-dedup-at-ingest: keep the first document per MinHash
    * signature within the watermark horizon. Two documents collide on the
    * full k-element signature with probability jaccard^k, so an identical
    * signature marks a very-near duplicate (k tunes precision: larger k =
    * fewer false drops). This is the streaming entry point of the batch
    * near-dup pipeline — cheap whole-signature dedup at ingest, exact
    * banded LSH + Jaccard verification downstream in batch.
    *
    * State = one signature per unique doc within the watermark, evicted as
    * event time advances (`dropDuplicatesWithinWatermark`); no unbounded
    * aggregation state. Output mode Append; rows pass through unchanged.
    *
    * `idCol` must be a non-null key: it disambiguates empty documents
    * (null-id empties would share one dedup key and collapse).
    */
  def nearDupFilter(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String,
      k: Int = 16, watermark: String = "10 minutes"): DataFrame = {
    val sig = graft.ops.Dedup.minhashSignature(
      graft.ops.TextAnalysis.tokenSet(col(textCol)), k)
    docs
      // null signature (empty doc) must not collide with other empties into
      // one surviving doc (batch near-dup never pairs empties either):
      // key those rows by their own id instead
      .withColumn("__sig",
        coalesce(array_join(transform(sig, _.cast("string")), ":"),
          concat(lit("__empty__"), col(idCol).cast("string"))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("__sig"))
      .drop("__sig")
  }

  /** Stream-stream interval join: left events matched to right events of
    * the same key whose timestamp lies in [left.ts - lookback, left.ts].
    * Both sides carry watermarks, so each side's join state is bounded to
    * the watermark horizon + lookback — the streaming twin of the backward
    * as-of join (all matches in the interval, not just the latest; the
    * downstream consumer picks, since "latest so far" is not well-defined
    * until the watermark closes the interval).
    *
    * Column contract: left has (`keyCol`, `leftTsCol`, ...), right has
    * (`keyCol`, `rightTsCol`, ...); output is the inner join of the two.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String,
      lookback: String = "10 minutes",
      watermark: String = "5 minutes"): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    l.join(r,
      l(keyCol) === r(keyCol) &&
        r(rightTsCol) >= l(leftTsCol) - expr(s"INTERVAL $lookback") &&
        r(rightTsCol) <= l(leftTsCol))
      .drop(r(keyCol))
  }

  /** Start `df` as a checkpointed stream whose every micro-batch runs
    * `f(batch, batchId)`: the shape of every sink below. */
  private def foreachBatchSink(df: DataFrame, checkpointDir: String,
      trigger: Trigger)(f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(f)
      .start()

  /** Stream → keyed JDBC upsert: each micro-batch runs the K1 sink, so the
    * stream inherits the reference's idempotent last-write-wins load
    * (`scripts/pricenow_etl.py:98-112`) — replayed batches converge.
    */
  def upsertSink(
      df: DataFrame, url: String, table: String, keys: Seq[String],
      dialect: JdbcUpsert.Dialect, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    foreachBatchSink(df, checkpointDir, trigger) { (batch, _) =>
      JdbcUpsert.upsert(batch, url, table, keys, dialect)
    }

  /** Streaming LOCF: the generic F1 forward-fill under `foreachBatch` —
    * change points stream in, and the dense daily LOCF grid of
    * [[graft.ops.ForwardFill.dailyGrid]] stays continuously refreshed,
    * with batch ≡ stream identity (asserted in StreamingSpec: the grid
    * after N micro-batches equals one batch dailyGrid over the union of
    * all change points — the reference's whole-load rerun semantics at
    * micro-batch granularity).
    *
    * Per micro-batch:
    *  1. the batch lands in the change log as its own deterministic
    *     `batch_id=N` partition — foreachBatch is at-least-once, so a
    *     replayed batch overwrites its prior write instead of duplicating
    *     change points (same idempotence as [[incrementalRefreshSink]]);
    *  2. only the batch's TOUCHED ids recompute: LOCF is per-id
    *     independent, so each touched id's full change history (from the
    *     accumulated log, via a broadcast semi-join on the batch's small
    *     id set) re-fills and dynamic-partition-overwrites that id's grid
    *     partition; untouched ids' files are never rewritten.
    *
    * At 100 TB the change log is the sparse cheap side; per-batch work is
    * proportional to touched ids × grid days, not to the corpus. The log
    * is a [[Store]] declared from the stream's schema, so every read of
    * it is typed as the rows were written.
    */
  def locfGridSink(
      changes: DataFrame, idCol: String, dayCol: String, valueCol: String,
      tieBreak: Seq[String], start: String, end: String,
      changeLogPath: String, gridPath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val log = Store("locf change log", changes.schema)
    foreachBatchSink(changes, checkpointDir, trigger) { (batch, batchId) =>
      val sess = batch.sparkSession
      log.land(batch, changeLogPath, batchId)
      val touched = log.at(sess, changeLogPath, batchId, idCol).na.drop().distinct()
      if (touched.head(1).nonEmpty) {
        val relevant = log.read(sess, changeLogPath)
          .join(broadcast(touched), Seq(idCol))
        ForwardFill
          .dailyGrid(relevant, idCol, dayCol, valueCol, tieBreak, start, end)
          .write.mode("overwrite")
          .partitionBy(idCol)
          .option("partitionOverwriteMode", "dynamic")
          .parquet(gridPath)
      }
    }
  }

  /** Stream of price CHANGES → incrementally refreshed month-partitioned
    * fact table: the streaming composition of the reference's cron rerun
    * (`run_pricenow.yml:14-16` re-runs the whole load; rerun-idempotence IS
    * its consistency model) with [[graft.PricenowPipeline.refreshMonths]]'
    * dynamic partition overwrite. Per micro-batch:
    *
    *  1. the batch lands in an append-only change log as its OWN
    *     deterministic partition (`batch_id=N`) — foreachBatch is
    *     at-least-once, so a replayed batch overwrites its prior write
    *     instead of duplicating rows;
    *  2. the refresh frontier is the batch's earliest change month: a
    *     price change at date d only rewrites LOCF-filled days >= d (fill
    *     looks backward), so every season month >= that frontier is
    *     recomputed from the FULL accumulated log and
    *     dynamic-partition-overwritten, while earlier months' files are
    *     provably untouched (byte-identity asserted in
    *     StreamingRefreshSpec).
    *
    * At 100 TB the change log is the cheap side (changes are sparse; the
    * dense grid is the expensive one) and each micro-batch rewrites only
    * the frontier months — the streaming version of "rerun the season
    * nightly", at per-batch granularity with the same idempotence. The
    * log is a [[Store]] declared from the stream's schema.
    */
  def incrementalRefreshSink(
      changes: DataFrame, pagesPath: String, cfg: graft.PricenowPipeline.Config,
      seasonMonths: Seq[String], changeLogPath: String, factPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val log = Store("refresh change log", changes.schema)
    foreachBatchSink(changes, checkpointDir, trigger) { (batch, batchId) =>
      // single evaluation of the micro-batch: land it first, then derive
      // emptiness and the frontier from the written partition — re-running
      // the upstream lineage per question would triple the batch read
      val sess = batch.sparkSession
      log.land(batch, changeLogPath, batchId)
      // null frontier = empty batch or all-null change dates: nothing to
      // refresh (null dates never reach the grid — dailyGrid drops them)
      val frontier = log.at(sess, changeLogPath, batchId, "valid_at")
        .agg(min(date_format(col("valid_at"), "yyyy-MM"))).head.getString(0)
      val months = if (frontier == null) Nil else seasonMonths.filter(_ >= frontier)
      if (months.nonEmpty) {
        // requireNonEmpty = false: the frontier is conservative — a month
        // past the grid's actual end is a no-op here, never a poison pill
        // (foreachBatch is at-least-once; a throwing batch replays forever)
        graft.PricenowPipeline.refreshMonths(
          sess, pagesPath, log.read(sess, changeLogPath), cfg, factPath, months,
          requireNonEmpty = false)
      }
    }
  }

  /** Rows per fan-out task: small, because the per-row work these sinks
    * fan out for is heavy (tokenize + 16-way minhash, PQ coding, LSH
    * signing — milliseconds per row), so even a few-hundred-row batch
    * deserves the full cluster. The cap only bites for near-empty
    * batches, where it prevents the r17 shape's small-file blow-up:
    * defaultParallelism near-empty files per batch_id partition of every
    * state store, plus a pointless full-width shuffle (r17 advice). */
  private val FanOutRowsPerTask = 64L

  /** Fan a micro-batch out to the session's parallelism before heavy
    * per-batch work. File-source micro-batches arrive with as few
    * partitions as FILES (the AvailableNow + maxFilesPerTrigger=1 shape
    * delivers exactly ONE), so every map-side stage of the sink —
    * tokenize + minhash signing, PQ coding, LSH sign keys, perceptual
    * hashing — otherwise runs as a single task on one core while the
    * rest of the cluster idles (guide §2.5 input skew: "one huge
    * unsplittable file … repartition immediately after the read";
    * measured: the 3-batch roots-sink build dropped 46 s → single-digit
    * seconds at 32 cores). Round-robin repartition is deterministic
    * under task retry (sort-before-repartition, SPARK-23207), and every
    * sink's persisted contract is row-SET equality per batch_id
    * partition, never row order. The written partitions also come out
    * at cluster parallelism, so downstream state re-reads parallelize
    * without a second repartition.
    *
    * Used by the six sinks whose per-row work costs milliseconds:
    * [[ivfStateSink]], [[minhashStateSink]], [[rootsStateSink]],
    * [[knnStateSink]], [[phashStateSink]] and [[pqStateSink]].
    * [[invertedStateSink]] does not fan out: tokenizing costs
    * microseconds per row, so the extra `count()` job and round-robin
    * shuffle would cost more than the single-task map side they spread,
    * and its tf aggregation's exchange already redistributes the rows
    * (the file source also splits a large batch by bytes). */
  private def fanOut(batch: DataFrame): DataFrame = {
    val dp = batch.sparkSession.sparkContext.defaultParallelism.toLong
    // one cheap extra job per micro-batch (the sources here are file
    // batches; the sinks' own work is seconds per batch)
    val rows = batch.count()
    val parts = math.min(dp, math.max(1L, (rows + FanOutRowsPerTask - 1) /
      FanOutRowsPerTask)).toInt
    batch.repartition(parts)
  }

  /** Streaming IVF index maintenance — the streaming form of
    * q_ivf_upsert's mergeable-sufficient-statistics contract, persisted
    * as [[Store.ivfDelta]] and [[Store.ivfState]]: embedding batches stream in
    * (already carrying their cell assignment — the caller composes
    * [[graft.ops.Similarity.assignByCents]] upstream, a map-side argmax),
    * and the cell-partitioned state table (cell, pos, s, n) stays
    * continuously maintained with batch ≡ stream identity (IvfStreamSpec
    * asserts the state after N micro-batches equals one batch build over
    * the union, byte-identically).
    *
    * Per micro-batch:
    *  1. the batch's (cell, pos)-grid DELTA stats — exact nano-unit
    *     coordinate sums + counts, the q_ivf_upsert quantization — land
    *     in a delta log as the batch's OWN deterministic `batch_id=N`
    *     partition: foreachBatch is at-least-once, and a replayed batch
    *     overwrites its prior delta instead of double-counting (the
    *     reason the state is NEVER merged in place — state += delta
    *     applied twice corrupts silently, a rewritten delta partition
    *     cannot);
    *  2. only the batch's TOUCHED cells recompute: their stats re-sum
    *     from the accumulated delta log (grid-sized per batch — deltas
    *     are (cell, pos) rows, never vectors) and dynamic-partition-
    *     overwrite those cells in the state store; untouched cells'
    *     files are never rewritten.
    *
    * At 100 TB the per-batch cost is batch-sized quantization + a
    * touched-cells × batches grid re-sum — nothing corpus-sized moves,
    * and probes read the maintained state partition-pruned (a read of
    * [[Store.ivfState]] filtered on `cell`, laid out [[Store.byCell]]).
    *
    * CONTRACT: one delta log belongs to ONE checkpointed stream —
    * `batch_id` is only unique per checkpoint, so a second query (fresh
    * checkpoint) writing the same `deltaLogPath` would restart ids at 0
    * and overwrite the first stream's deltas. Resume the same
    * checkpoint, or give a new stream a new log.
    *
    * COMPACTION (round-13 ADVICE — without it the per-batch re-sum and
    * the small-file count grow linearly with stream lifetime): every
    * `compactEvery` batches, all deltas STRICTLY OLDER than the current
    * batch fold into one base generation written at the reserved
    * partition `batch_id = -currentBatch`. Readers apply a rule that is
    * deterministic from partition values alone — effective log = the
    * most-negative base partition (newest generation) plus every delta
    * with batch_id ≥ its absolute value — so a crash between writing
    * the new base and garbage-collecting the folded partitions never
    * double-counts (GC is hygiene, not correctness). Folding only
    * batches < current is safe because Structured Streaming replays at
    * most the LAST uncommitted batch: everything older is committed and
    * immutable; a replayed current batch re-runs the fold and rewrites
    * the identical base (idempotent). Per-batch merge cost is now
    * bounded by one base + ≤ compactEvery recent deltas per touched
    * cell, for the life of the stream. `cellCol` must be INT
    * ([[Store.ivfDelta]]).
    */
  def ivfStateSink(
      assigned: DataFrame, idCol: String, vecCol: String, cellCol: String,
      deltaLogPath: String, statePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 16): StreamingQuery = {
    requireInput("ivfStateSink", assigned, cellCol -> IntegerType)
    foreachBatchSink(assigned, checkpointDir, trigger) { (batch0, batchId) =>
      val batch = fanOut(batch0)
      val sess = batch.sparkSession
      val delta = batch
        .select(col(cellCol).as("cell"),
          posexplode(col(vecCol)).as(Seq("pos0", "v")))
        .groupBy(col("cell"), col("pos0"))
        .agg(sum(floor(col("v").cast("double") * 1e9 + 0.5).cast("long"))
          .as("s"), count(lit(1)).as("n"))
        .select(col("cell"), (col("pos0") + 1).cast("long").as("pos"),
          col("s"), col("n"))
      Store.ivfDelta.land(delta, deltaLogPath, batchId)
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        compactDeltaLog(sess, deltaLogPath, batchId)
      val touched = Store.ivfDelta.at(sess, deltaLogPath, batchId, "cell").distinct()
      if (touched.head(1).nonEmpty) {
        val merged = effectiveDeltas(sess, deltaLogPath)
          .join(broadcast(touched), Seq("cell"))
          .groupBy(col("cell"), col("pos"))
          .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
        Store.ivfState.write(merged, statePath, Store.byCell("pos"))
      }
    }
  }

  /** Fail before the stream starts, naming the sink, when an input column
    * lacks the type its store declares. */
  private def requireInput(sink: String, df: DataFrame,
      cols: (String, DataType)*): Unit = cols.foreach { case (c, want) =>
    val got = df.schema(c).dataType
    require(got.sql == want.sql,
      s"$sink: $c must be ${want.sql} (its store declares it so), got ${got.sql}")
  }

  /** Streaming cross-run near-dup maintenance — the streaming twin of
    * q_dedup_cross_run, and the always-on form of the daily-ingest dedup
    * contract: the persisted state is a SIGNATURE store (one
    * [[graft.ops.Dedup.minhashPrepared]] digest row per document — 16
    * minhash longs + the hashed token set; text never persists and never
    * moves) plus a PAIR store of verified near-dup pairs. Per
    * micro-batch:
    *
    *  1. the batch's digests land in the sig store as the batch's OWN
    *     deterministic `batch_id=N` partition (foreachBatch is
    *     at-least-once: a replayed batch overwrites its prior digests
    *     instead of duplicating them — the [[Store]] discipline);
    *  2. the incremental pair pass
    *     ([[graft.ops.Dedup.nearDupMinhashFromState]]) joins the landed
    *     batch against all PRIOR digest partitions — batch-sized
    *     signature work plus band equi-joins against a narrow columnar
    *     scan; corpus×corpus pairs never recompute;
    *  3. the new pairs (every verified pair touching a batch doc) land
    *     in the pair store at the same `batch_id=N` — append-only via
    *     idempotent partition overwrite, no read-modify-write, so no
    *     compaction is ever NEEDED for correctness (per-batch cost is
    *     bounded by batch × store; only file-listing grows with stream
    *     age — fold old partitions offline if listing ever matters).
    *
    * After any number of micro-batches the pair store's union equals
    * [[graft.ops.Dedup.nearDupMinhash]] over the union of all batches,
    * byte-identically — StreamingDedupSpec proves it, plus replay
    * idempotence. `idCol` must be BIGINT ([[Store.sig]]).
    */
  def minhashStateSink(
      docs: DataFrame, idCol: String, textCol: String,
      sigStorePath: String, pairStorePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      k: Int = 16, bands: Int = 4, minJaccard: Double = 0.5): StreamingQuery = {
    requireInput("minhashStateSink", docs, idCol -> LongType)
    foreachBatchSink(docs, checkpointDir, trigger) { (batch, batchId) =>
      landSigsAndPairs(batch, batchId, idCol, textCol,
        sigStorePath, pairStorePath, k, bands, minJaccard)
    }
  }

  /** Steps 1-3 of [[minhashStateSink]], which [[rootsStateSink]] runs
    * too: land the batch's digests, then the verified pairs touching
    * them. */
  private def landSigsAndPairs(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String, sigStorePath: String,
      pairStorePath: String, k: Int, bands: Int, minJaccard: Double): Unit = {
    val sess = batch.sparkSession
    Store.sig.land(graft.ops.Dedup.minhashPrepared(fanOut(batch), idCol, textCol, k),
      sigStorePath, batchId)
    Store.pairs.land(graft.ops.Dedup.nearDupMinhashFromState(
        Store.sig.at(sess, sigStorePath, batchId),
        Store.sig.before(sess, sigStorePath, batchId), k, bands, minJaccard),
      pairStorePath, batchId)
  }

  /** The accumulated verified pair set a [[minhashStateSink]] stream has
    * produced so far — the frame downstream dedup decisions read. */
  def minhashStatePairs(sess: SparkSession, pairStorePath: String): DataFrame =
    Store.pairs.read(sess, pairStorePath)

  /** [[minhashStateSink]] plus streaming ROOT maintenance (round-16
    * verdict task 4): each micro-batch additionally folds its incident
    * verified pairs into a persisted component-roots store via
    * [[graft.ops.Dedup.incrementalRoots]] — the same node-scale
    * increment the batch cross-run path runs (`q_dedup_roots_incr`),
    * so the streaming store always holds the CURRENT cluster
    * assignment and the edge-scale accumulated pair graph is never
    * re-read by root maintenance. Steps 1-3 are [[minhashStateSink]]'s
    * own (one shared step); step 4:
    *
    *  4. the previous roots SNAPSHOT (node-scale) unions with the
    *     batch's landed pairs through [[graft.ops.Dedup.incrementalRoots]]
    *     and lands as a full snapshot at `batch_id=N`
    *     (clustered by `id`, the cross-run root store's layout); older
    *     generations except the immediate predecessor are GC'd.
    *
    * Replay safety: a foreachBatch replay of batch N re-reads the
    * PREDECESSOR snapshot (GC always keeps it) and the deterministically
    * rewritten `batch_id=N` pair partition, so the recomputed snapshot N
    * is byte-identical — and merging edges already reflected in a
    * snapshot is a no-op on the partition structure, so even a replay
    * against an already-written snapshot N converges. After any number
    * of micro-batches the newest snapshot equals connected components
    * over the one-shot pair graph of the union of batches —
    * StreamingDedupSpec proves it plus replay idempotence, and
    * `q_dedup_roots_stream` oracle-gates the streamed assignment against
    * a row-level full-graph rebuild.
    *
    * Same cross-batch id-uniqueness contract as [[minhashStateSink]].
    */
  def rootsStateSink(
      docs: DataFrame, idCol: String, textCol: String,
      sigStorePath: String, pairStorePath: String, rootsStorePath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      k: Int = 16, bands: Int = 4, minJaccard: Double = 0.5): StreamingQuery = {
    requireInput("rootsStateSink", docs, idCol -> LongType)
    foreachBatchSink(docs, checkpointDir, trigger) { (batch, batchId) =>
      landSigsAndPairs(batch, batchId, idCol, textCol,
        sigStorePath, pairStorePath, k, bands, minJaccard)
      foldRootsSnapshot(batch.sparkSession, pairStorePath, rootsStorePath, batchId)
    }
  }

  /** Step 4 of [[rootsStateSink]], exposed for replay tests: fold the
    * landed `batch_id=N` pairs into a new roots snapshot from the
    * newest prior snapshot, then GC dead generations. */
  private[graft] def foldRootsSnapshot(sess: SparkSession,
      pairStorePath: String, rootsStorePath: String, batchId: Long): Unit = {
    val newEdges = Store.pairs.at(sess, pairStorePath, batchId, "id_a", "id_b")
    val priorRoots = Store.roots.latestBefore(sess, rootsStorePath, batchId)
      // no prior snapshot: an empty (id, root) frame of the pair id type
      .getOrElse(newEdges.select(col("id_a").as("id"),
        col("id_a").as("root")).limit(0))
    val roots = graft.ops.Dedup
      .incrementalRoots(priorRoots, newEdges, "id_a", "id_b")
      .select(col("id"), col("comp").as("root"))
    Store.roots.land(roots, rootsStorePath, batchId, Store.clustered("id"))
    Store.roots.gc(sess, rootsStorePath, batchId)
  }

  /** The root store's CURRENT cluster assignment: the newest snapshot —
    * one node-scale narrow scan, never a component rebuild. */
  def minhashStateRoots(sess: SparkSession, rootsStorePath: String): DataFrame =
    Store.roots.at(sess, rootsStorePath,
      Store.roots.newest(sess, rootsStorePath, "minhashStateRoots"))

  /** Streaming kNN-GRAPH maintenance — the ANN-index sibling of
    * [[rootsStateSink]], same snapshot-generation state contract. The
    * persisted state is a VECTOR store (append-only `batch_id=N`
    * partitions of (id, vec) — the raw corpus the index serves) plus a
    * GRAPH store of full per-node top-k snapshots. Per micro-batch:
    *
    *  1. the batch's vectors land as their own deterministic
    *     `batch_id=N` partition (idempotent overwrite on replay — the
    *     [[Store]] discipline);
    *  2. candidate edges INCIDENT to the batch come from the sign-LSH
    *     bucket equi-join of the landed batch's keys against the keys
    *     of everything landed so far ([[graft.ops.Similarity.signKeys]]
    *     recomputed map-side from the narrow vector store — cheaper
    *     than persisting the 8×-exploded key rows), in BOTH
    *     orientations: a new node builds its own list AND may enter an
    *     old node's list. batch×store work, never store×store;
    *  3. the previous graph snapshot (node-scale, ≤ n·k rows) unions
    *     with the incident scored edges, per-node top-k re-ranks, and
    *     the result lands as a full snapshot at `batch_id=N`; older
    *     generations except the immediate predecessor are GC'd.
    *
    * After any number of micro-batches the newest snapshot equals
    * [[graft.ops.Similarity.knnGraph]] over the union of all batches,
    * byte-identically: a candidate pair (u,v) is considered exactly
    * when its LATER endpoint lands, the merge keeps per-node top-k
    * under the same (cos desc, neighbor asc) comparator, and re-scored
    * cosines are bit-identical to stored ones (same fused expression).
    * StreamingKnnSpec proves N batches ≡ one-shot plus replay
    * idempotence and the GC invariant; `q_knn_graph_stream` oracle-gates
    * the streamed snapshot against the row-level one-shot replay.
    *
    * Replay safety: a foreachBatch replay of batch N re-reads the
    * predecessor snapshot (GC always keeps it), the deterministically
    * rewritten `batch_id=N` vector partition, and the prior vector
    * partitions — so the recomputed snapshot N is byte-identical.
    * Cross-batch id-uniqueness contract as [[minhashStateSink]].
    * `idCol` must be BIGINT and `vecCol` ARRAY<FLOAT> ([[Store.vecs]]).
    */
  def knnStateSink(
      vecs: DataFrame, idCol: String, vecCol: String,
      vecStorePath: String, graphStorePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      k: Int = 16, nBits: Int = 8, tables: Int = 8): StreamingQuery = {
    requireInput("knnStateSink", vecs,
      idCol -> LongType, vecCol -> ArrayType(FloatType))
    foreachBatchSink(vecs, checkpointDir, trigger) { (batch, batchId) =>
      Store.vecs.land(
        fanOut(batch).select(col(idCol).as("id"), col(vecCol).as("vec")),
        vecStorePath, batchId)
      foldKnnSnapshot(batch.sparkSession, vecStorePath, graphStorePath,
        batchId, k, nBits, tables)
    }
  }

  /** Steps 2-3 of [[knnStateSink]], exposed for replay tests: score the
    * batch-incident candidate edges and fold them with the predecessor
    * snapshot into snapshot `batchId`, then GC dead generations. */
  private[graft] def foldKnnSnapshot(sess: SparkSession,
      vecStorePath: String, graphStorePath: String, batchId: Long,
      k: Int, nBits: Int, tables: Int): Unit = {
    import graft.ops.Similarity
    val landed = Store.vecs.at(sess, vecStorePath, batchId)
    val all = Store.vecs.before(sess, vecStorePath, batchId + 1)
    val newKeys = Similarity.signKeys(landed, "id", "vec", nBits, tables)
    val allKeys = Similarity.signKeys(all, "id", "vec", nBits, tables)
    val incidentNew = newKeys.withColumnRenamed("id", "node_id")
      .join(allKeys.withColumnRenamed("id", "neighbor_id"), Seq("l", "bucket"))
      .filter(col("node_id") =!= col("neighbor_id"))
      .select(col("node_id"), col("neighbor_id"))
    val scored = Similarity.scoreCos(Similarity.symmetrized(incidentNew),
        all.select(col("id").as("node_id"), col("vec").as("qv")) -> "node_id",
        all.select(col("id").as("neighbor_id"), col("vec").as("cv")) -> "neighbor_id")
      .select(col("node_id"), col("neighbor_id"), col("cos"))
    // prior ∪ incident may repeat a pair (both endpoints old, re-bucketed
    // never happens — but a REPLAY folds edges already in the snapshot);
    // cosines of repeats are bit-identical (same fused expression over
    // the same stored floats), so a max-aggregate dedups deterministically
    val merged = Store.graph
      .latestBefore(sess, graphStorePath, batchId, "node_id", "neighbor_id", "cos")
      .fold(scored)(_.union(scored))
      .groupBy(col("node_id"), col("neighbor_id"))
      .agg(max(col("cos")).as("cos"))
    Store.graph.land(Similarity.topK(merged, "node_id", "cos", "neighbor_id", k),
      graphStorePath, batchId)
    Store.graph.gc(sess, graphStorePath, batchId)
  }

  /** The graph store's CURRENT kNN graph: the newest snapshot — one
    * node-scale narrow scan, never an index rebuild. */
  def knnStateGraph(sess: SparkSession, graphStorePath: String): DataFrame =
    Store.graph.at(sess, graphStorePath,
      Store.graph.newest(sess, graphStorePath, "knnStateGraph"))

  /** Streaming INVERTED-INDEX maintenance — the text-retrieval sibling of
    * [[knnStateSink]], same snapshot-generation state contract. The
    * persisted state under `indexPath` ([[Store.tf]], [[Store.dl]],
    * [[Store.df]] and [[Store.global]] declare each store's schema) is:
    *
    *  - `tf/batch_id=N` — (doc_id, token, tf): the batch's postings,
    *    append-only, idempotent per-batch overwrite (at 100 TB this
    *    store is additionally bucketed by token, so a term read prunes
    *    to its buckets instead of scanning batches);
    *  - `dl/batch_id=N` — (doc_id, dl): per-doc lengths, append-only;
    *  - `df/batch_id=N` — FULL vocabulary (token, df) snapshot:
    *    previous snapshot ∪ the batch's postings, group-summed
    *    (vocabulary-scale, not corpus-scale);
    *  - `global/batch_id=N` — one row (n_docs, sum_dl).
    *
    * Per micro-batch the batch is tokenized ONCE: `(doc_id, tokens)` is
    * persisted, the dl and tf partitions are written from it, and it is
    * unpersisted before [[foldTextStats]] folds the stats. The sink does
    * not [[fanOut]]: tokenizing costs microseconds per row, and the tf
    * aggregation's exchange redistributes the rows anyway.
    *
    * N micro-batches ≡ one one-shot index build, exactly: postings and
    * doc lengths are per-doc facts that land once (cross-batch doc-id
    * uniqueness contract as [[minhashStateSink]]), and df / n_docs /
    * sum_dl are associative integer counts over disjoint doc sets, so
    * the folded snapshots equal the one-shot counts. BM25 scores
    * recomputed from the maintained stats ([[invertedStateBm25]]) are
    * therefore BIT-identical to the one-shot scorer's — the corpus
    * statistics a streaming text index must keep fresh (df, avgdl)
    * drift with every batch, and this is the state shape that absorbs
    * that drift as a vocabulary-scale merge instead of a corpus rescan.
    * `q_bm25_stream` oracle-gates the streamed index against the
    * one-shot exhaustive ranking; StreamingInvertedSpec proves
    * N batches ≡ one-shot, replay idempotence, the GC invariant, store
    * parity on docs without tokens, and the per-batch job count.
    * GC keeps each snapshot's immediate predecessor, so a foreachBatch
    * replay of batch N recomputes snapshot N byte-identically. */
  def invertedStateSink(
      docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    requireInput("invertedStateSink", docs, idCol -> LongType)
    foreachBatchSink(docs, checkpointDir, trigger) { (batch, batchId) =>
      val toks = batch.select(col(idCol).as("doc_id"),
        graft.ops.TextAnalysis.tokens(col(textCol)).as("toks")).persist()
      try {
        // dl first: its exchange-free write fills the cache in its own
        // job, where the tf write (planned adaptively) would spend a
        // separate job materializing it
        Store.dl.land(
          toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl")),
          s"$indexPath/dl", batchId)
        Store.tf.land(
          toks.select(col("doc_id"), explode(col("toks")).as("token"))
            .groupBy(col("doc_id"), col("token"))
            .agg(count(lit(1)).as("tf")),
          s"$indexPath/tf", batchId)
      } finally toks.unpersist()
      foldTextStats(batch.sparkSession, indexPath, batchId)
    }
  }

  /** The stats fold of [[invertedStateSink]], exposed for replay tests:
    * derive the landed batch's df and length contributions from its OWN
    * tf/dl partitions (so a replay re-derives identical deltas), fold
    * each with the predecessor snapshot in ONE aggregation — df groups
    * `prior ∪ (token, 1)` per posting by token; global sums
    * `prior ∪ (1, dl)` per doc — land generation `batchId`, GC. Integer
    * sums over disjoint doc sets, so the result equals a per-batch delta
    * folded into the prior. Every read declares its columns
    * ([[Store]]), so the fold runs no schema-inference job. */
  private[graft] def foldTextStats(sess: SparkSession,
      indexPath: String, batchId: Long): Unit = {
    def withPrior(store: Store, delta: DataFrame): DataFrame =
      store.latestBefore(sess, s"$indexPath/${store.name}", batchId)
        .fold(delta)(_.union(delta))
    val tfN = Store.tf.at(sess, s"$indexPath/tf", batchId, "token")
    val dlN = Store.dl.at(sess, s"$indexPath/dl", batchId, "dl")
    Store.df.land(
      withPrior(Store.df, tfN.select(col("token"), lit(1L).as("df")))
        .groupBy(col("token")).agg(sum(col("df")).as("df")),
      s"$indexPath/df", batchId)
    Store.global.land(
      withPrior(Store.global,
          dlN.select(lit(1L).as("n_docs"), col("dl").as("sum_dl")))
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
          sum(col("sum_dl")).as("sum_dl"))
        .coalesce(1),
      s"$indexPath/global", batchId)
    Store.df.gc(sess, s"$indexPath/df", batchId)
    Store.global.gc(sess, s"$indexPath/global", batchId)
  }

  /** BM25 top-k served FROM the maintained inverted-index state: term
    * postings read from the tf store (token-pruned — at scale a
    * token-bucketed read, never a corpus scan), df and the global
    * (n_docs, Σdl) from the NEWEST snapshots. The score expression tree
    * is term-for-term the one-shot scorer's (rational idf, 6dp floor
    * into DECIMAL(18,6), decimal sum — see
    * [[graft.queries.MaxScoreQueries]]), and the maintained counts equal
    * the one-shot counts, so the served scores are bit-identical to a
    * full rebuild's. The four stores are read with their declared
    * schemas ([[Store]]), so construction launches no job. */
  def invertedStateBm25(sess: SparkSession, indexPath: String,
      terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val latest = Store.global.newest(sess, s"$indexPath/global", "invertedStateBm25")
    // the snapshot is one row BY CONSTRUCTION (a global aggregate landed
    // on disk); limit(1) encodes that contract in the plan — a corrupted
    // multi-row snapshot cannot fan the cross-attachment out, and the
    // boundedness is visible to plan lints (the on-disk Aggregate is not)
    val stats = Store.global.at(sess, s"$indexPath/global", latest)
      .limit(1)
      .select(col("n_docs").cast("double").as("n"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    val dfT = Store.df.at(sess, s"$indexPath/df", latest)
      .filter(col("token").isin(terms: _*))
      .select(col("token"), col("df").cast("double").as("df"))
    val tf = Store.tf.read(sess, s"$indexPath/tf")
      .filter(col("token").isin(terms: _*))
      .select(col("doc_id"), col("token"), col("tf").cast("double").as("tf"))
    val dl = Store.dl.read(sess, s"$indexPath/dl")
      .select(col("doc_id"), col("dl").cast("double").as("dl"))
    val perTerm = tf.join(broadcast(dfT), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        graft.ops.TextAnalysis.round6(
          (((col("n") - col("df") + 0.5) / (col("df") + 0.5))
            * (col("tf") * 2.2))
            / (col("tf") + lit(1.2)
              * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .cast(DecimalType(18, 6)).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    perTerm.groupBy(col("doc_id")).agg(sum(col("s")).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"),
        (col("score") * 1000000).cast("bigint").as("score_micros"),
        col("rn"))
  }

  /** Streaming PERCEPTUAL (dHash) dedup over a media stream — the
    * multimodal sibling of [[minhashStateSink]], same state contract:
    *
    *  1. the landed batch's 64-bit dHash signatures
    *     ([[graft.ops.Multimodal.dhashSigsFromDocs]] — batched stub
    *     decode, codegen'd gradient fold) write to an append-only
    *     signature store at `batch_id=N` (idempotent partition
    *     overwrite; payload bytes never persist, only 8-byte sigs);
    *  2. the incremental banded pass
    *     ([[graft.ops.Dedup.bandedPairsFromState]]) emits every
    *     qualifying Hamming pair touching a landed id — landed-internal
    *     + landed×prior, both from pigeonhole band equi-joins against
    *     the narrow columnar signature store, never quadratic;
    *  3. the pairs land at the same `batch_id=N` — append-only, so no
    *     compaction is ever NEEDED for correctness.
    *
    * After any number of micro-batches the pair store's union equals
    * [[graft.ops.Dedup.bandedPairsFromSigs]] over the union of batches,
    * row-identically — StreamingPhashSpec proves it plus replay
    * idempotence. `idCol` must be BIGINT ([[Store.phashSig]]).
    *
    * CONTRACT — cross-batch id uniqueness: each media id must arrive in
    * at most ONE micro-batch. The batch_id partitioning makes REPLAYS of
    * a batch idempotent, but it cannot make a source that re-delivers
    * the same id in a later batch safe: the signature store would then
    * hold the id twice and the pair store would carry duplicate pairs
    * (the banded join defends against self-pairs, not against
    * duplicates). Upstream must dedup ids across batches (keep-first or
    * keep-latest) before this sink, exactly as [[minhashStateSink]]
    * requires.
    */
  def phashStateSink(
      docs: DataFrame, idCol: String, textCol: String,
      sigStorePath: String, pairStorePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxHamming: Int = 3): StreamingQuery = {
    requireInput("phashStateSink", docs, idCol -> LongType)
    foreachBatchSink(docs, checkpointDir, trigger) { (batch, batchId) =>
      val sess = batch.sparkSession
      Store.phashSig.land(
        graft.ops.Multimodal.dhashSigsFromDocs(fanOut(batch), idCol, textCol),
        sigStorePath, batchId)
      Store.phashPairs.land(graft.ops.Dedup.bandedPairsFromState(
          Store.phashSig.at(sess, sigStorePath, batchId),
          Store.phashSig.before(sess, sigStorePath, batchId), maxHamming),
        pairStorePath, batchId)
    }
  }

  /** Streaming PQ coding into the cell-partitioned compressed store —
    * the ingest path of the IVF-PQ lifecycle (train → code → persist →
    * ADC query; `q_ivf_pq_persist` gates the batch form of this store):
    * each micro-batch of (id, cell, vector) rows is coded MAP-SIDE
    * against the FROZEN broadcast codebook
    * ([[graft.ops.Similarity.pqCodesExpr]] — a production IVF-PQ store
    * freezes its codebooks at train time; retraining is an offline
    * rebuild, never an ingest-path mutation) and lands at
    * `batch_id=N/cell=K` (idempotent partition overwrite; raw floats
    * never persist, only the m code bytes). Reads filter on `cell` and
    * partition-prune ACROSS batches (cell is a partition column at
    * every generation), so ADC candidate I/O stays nprobe/n_cells of
    * the accumulated store. Each generation has the persisted pq
    * index's layout ([[Store.byCell]]). After any number of
    * micro-batches the store's codes equal one-shot coding of the
    * union — StreamingPqSpec proves it plus replay idempotence and the
    * pruned read.
    *
    * Same cross-batch id-uniqueness contract as [[minhashStateSink]] /
    * [[phashStateSink]]: replays of a batch are idempotent; a source
    * re-delivering an id in a LATER batch must be deduped upstream.
    * `idCol` must be BIGINT and `cellCol` INT ([[Store.pqCodes]]).
    */
  def pqStateSink(
      vecs: DataFrame, idCol: String, vecCol: String, cellCol: String,
      codebook: Seq[(Int, Int, Seq[Double])], m: Int, subDim: Int,
      codeStorePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    requireInput("pqStateSink", vecs, idCol -> LongType, cellCol -> IntegerType)
    foreachBatchSink(vecs, checkpointDir, trigger) { (batch0, batchId) =>
      Store.pqCodes.land(
        fanOut(batch0)
          .select(col(idCol).as("vec_id"), col(cellCol).as("cell"),
            graft.ops.Similarity
              .pqCodesExpr(col(vecCol), codebook, m, subDim).as("codes")),
        codeStorePath, batchId, Store.byCell("vec_id"))
    }
  }

  /** The delta log's EFFECTIVE row set, each row with its `batch_id`,
    * under the base-generation rule: the most-negative `batch_id`
    * partition is the newest compacted base (covering every batch
    * < |id|); everything at or past |id| is a live delta. With no base
    * (no negative partition) the whole log is live. Deterministic from
    * the store's partition listing alone, so it launches no job — see
    * [[ivfStateSink]]'s compaction contract. */
  private[graft] def effectiveDeltas(sess: SparkSession,
      deltaLogPath: String): DataFrame = {
    val log = Store.ivfDelta.tagged(sess, deltaLogPath)
    Store.ivfDelta.generations(sess, deltaLogPath).minOption.filter(_ < 0)
      .fold(log)(base =>
        log.filter(col("batch_id") === base || col("batch_id") >= -base))
  }

  /** Fold every delta strictly older than `curBatch` (including the
    * previous base generation) into a new base at `batch_id = -curBatch`,
    * then garbage-collect the folded partitions. Idempotent under
    * foreachBatch replay of `curBatch`. */
  private[graft] def compactDeltaLog(sess: SparkSession,
      deltaLogPath: String, curBatch: Long): Unit = {
    val root = new Path(deltaLogPath)
    val fs = root.getFileSystem(sess.sparkContext.hadoopConfiguration)
    val basePath = new Path(Store.ivfDelta.partition(deltaLogPath, -curBatch))
    // Replay safety: on a foreachBatch replay of a compaction batch
    // (crash after the fold, before the checkpoint commit) the base
    // partition already exists AND may be the only surviving copy of
    // pre-fold history (the crashed run's GC may have deleted the folded
    // positive deltas). Re-running the fold would read the base while
    // mode("overwrite") deletes that same directory before the job runs —
    // reading deleted files, then silently losing history. Idempotent
    // skip: an existing base IS the fold's output; only re-run GC.
    if (!fs.exists(basePath)) {
      // Stage-then-rename so the fold's source partitions are never the
      // overwrite target even on exotic replays: materialize the folded
      // frame to a sibling staging dir, then atomically move it in.
      val staging = new Path(root, s".staging_base_$curBatch")
      if (fs.exists(staging)) fs.delete(staging, true)
      Store.ivfDelta.write(
        effectiveDeltas(sess, deltaLogPath)
          .filter(col("batch_id") =!= curBatch)
          .groupBy(col("cell"), col("pos"))
          .agg(sum(col("s")).as("s"), sum(col("n")).as("n")),
        staging.toString)
      if (!fs.rename(staging, basePath))
        throw new java.io.IOException(
          s"compactDeltaLog: rename $staging -> $basePath failed")
    }
    // GC the folded partitions — best-effort hygiene; the reader rule
    // above stays correct even if this never runs
    Store.ivfDelta.drop(sess, deltaLogPath,
      Store.ivfDelta.generations(sess, deltaLogPath).filter(id =>
        (id >= 0 && id < curBatch) || (id < 0 && id != -curBatch)))
  }
}
