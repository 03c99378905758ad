package graft.queries

import graft.QueryDef
import graft.ops.SessionCache.MemoOps
import graft.ops.{Tables, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Activity-analytics family: the product-usage readouts every event
  * warehouse serves daily — gaps-and-islands streak detection, DAU/MAU
  * stickiness, and a rolling median over the daily KPI grid.
  *
  * The shared scale stance: every window here runs over a DOMAIN-sized
  * frame, never over fact rows. Events are first collapsed to distinct
  * (key, day) pairs (one partial-aggregatable shuffle); the
  * islands/rolling windows then partition by user or run over the
  * calendar grid (≤ a few thousand rows at any corpus size). Nothing
  * row-sized ever reaches an unpartitioned window.
  */
object ActivityQueries {

  private def r6(c: Column): Column = TextAnalysis.round6(c)

  // --- gaps and islands ------------------------------------------------------

  /** Activity streaks (gaps-and-islands): for each user, maximal runs of
    * CONSECUTIVE active days, reported as (user, streak start, streak end,
    * length) for streaks of length ≥ 2. The classic island key: day −
    * row_number() is constant
    * within a consecutive run (both engines compute it as exact date
    * arithmetic — no floats anywhere).
    *
    * Scale shape: events collapse to distinct (user_id, day) FIRST (one
    * map-side-combinable shuffle; text/props never move), so the
    * row_number window partitions by user over at most
    * |calendar| ≈ hundreds of rows per user regardless of event volume —
    * per-partition work is calendar-bounded, and the island groupBy is a
    * second key-local aggregation on the same partitioning (no extra
    * exchange: (user_id, grp) is a superset of the window's hash key).
    */
  private val gapsIslands = QueryDef(
    fn = (spark, dir) => {
      val du = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      du.withColumn("grp", date_sub(col("d"), row_number().over(w)))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("d")).as("streak_start"),
          max(col("d")).as("streak_end"),
          count(lit(1)).as("len"))
        .filter(col("len") >= 2)
        .select(col("user_id"), col("streak_start"), col("streak_end"),
          col("len"))
        .orderBy("user_id", "streak_start")
    },
    oracle = Some(
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |r AS (SELECT user_id, d,
        |        d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
        |                 AS INTEGER) AS grp
        |      FROM du),
        |i AS (SELECT user_id, grp, min(d) AS streak_start, max(d) AS streak_end,
        |        COUNT(*) AS len
        |      FROM r GROUP BY user_id, grp)
        |SELECT user_id, streak_start, streak_end, len
        |FROM i WHERE len >= 2 ORDER BY user_id, streak_start""".stripMargin))

  // --- DAU / MAU stickiness --------------------------------------------------

  /** Monthly stickiness: per calendar month — MAU (distinct users in the
    * month), the number of active days, summed DAU over those days, the
    * average DAU (6dp), and the DAU/MAU stickiness ratio (6dp). The
    * denominator is ACTIVE days in the month (the observable quantity on
    * a sparse fixture), declared in the column name `n_days`.
    *
    * Scale shape: one distinct (user, day) projection feeds both sides;
    * DAU is a day-keyed count over it, MAU a month-keyed distinct — the
    * month-level join is calendar-sized. countDistinct at 100 TB is the
    * exact form (the approx_count_distinct twin is q_approx_distinct's
    * story); the shuffle carries (user, month) pairs, already collapsed.
    */
  private val dauMau = QueryDef(
    fn = (spark, dir) => {
      val du = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        .withColumn("month", date_format(col("d"), "yyyy-MM"))
      val dau = du.groupBy(col("month"), col("d"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val daily = dau.groupBy(col("month"))
        .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
      val mau = du.groupBy(col("month"))
        .agg(countDistinct(col("user_id")).as("mau"))
      daily.join(mau, "month")
        .select(col("month"), col("n_days"), col("dau_sum"), col("mau"),
          r6(col("dau_sum").cast("double") / col("n_days")).as("avg_dau"),
          r6(col("dau_sum").cast("double")
            / (col("n_days") * col("mau"))).as("stickiness"))
        .orderBy("month")
    },
    oracle = Some(
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |dm AS (SELECT user_id, d, strftime(d, '%Y-%m') AS month FROM du),
        |dau AS (SELECT month, d, COUNT(DISTINCT user_id) AS dau
        |        FROM dm GROUP BY month, d),
        |daily AS (SELECT month, COUNT(*) AS n_days, SUM(dau) AS dau_sum
        |          FROM dau GROUP BY month),
        |mau AS (SELECT month, COUNT(DISTINCT user_id) AS mau FROM dm GROUP BY month)
        |SELECT month, n_days, CAST(dau_sum AS BIGINT) AS dau_sum, mau,
        |  floor(CAST(dau_sum AS DOUBLE) / n_days * 1000000.0 + 0.5) / 1000000.0 AS avg_dau,
        |  floor(CAST(dau_sum AS DOUBLE) / (n_days * mau) * 1000000.0 + 0.5) / 1000000.0
        |    AS stickiness
        |FROM daily JOIN mau USING (month) ORDER BY month""".stripMargin))

  // --- rolling median over the daily KPI grid ---------------------------------

  /** 7-day rolling median of the daily event-value total, per event type.
    * COUNT-style aggregates compose over moving frames; MEDIAN does not
    * (no mergeable state), so the rewrite: pre-aggregate to the daily
    * grid (one fact-sized, map-side-combinable shuffle), then sort the
    * ≤7-element frame EXPLICITLY — `collect_list` over the frame,
    * `array_sort`, and the middle element(s) by index, averaging the two
    * middles on even frames. Both engines run the identical
    * small-array sort (DuckDB: `list(...) OVER w` + `list_sort`), so the
    * median definition is pinned by construction rather than delegated
    * to two engines' (potentially different) windowed-median built-ins.
    *
    * Scale shape: the only window runs on the (event_type × day) grid —
    * calendar-domain-sized, thousands of rows at ANY corpus scale — and
    * the per-row work is a 7-element sort. Sums are exact DECIMAL(12,2)
    * and the median stays DECIMAL end-to-end: the midpoint of two
    * DECIMAL(22,2) values is exactly representable at scale 3
    * ((a+b)·0.5 — multiplication by the 1-digit literal, never a
    * division), with no double anywhere in its lineage (round-11
    * driver-red root cause: a decimal→double→floor composition whose
    * last ulp differed between DuckDB builds). Round-12 root cause was
    * the EMISSION type itself — the driver gate cannot hash top-level
    * DECIMALs — so the surface is exact scaled BIGINT (`v_cents`,
    * `med7_e6`) while the DECIMAL arithmetic stays internal.
    */
  private val rollingMedian = QueryDef(
    fn = (spark, dir) => {
      // NULL `value` rows are dropped up front on BOTH sides: Spark's
      // collect_list drops NULLs while DuckDB's list() keeps them, so a
      // NULL daily sum would silently shift the frame size / median index
      // between engine and oracle. Filtering first pins identical
      // semantics instead of leaning on the fixture's non-null luck.
      val daily = Tables.events(spark, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("value").cast("decimal(12,2)").as("v"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("v")).as("v"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, 0)
      daily
        .withColumn("arr", array_sort(collect_list(col("v")).over(w)))
        .withColumn("n", size(col("arr")))
        .withColumn("med",
          when(col("n") % 2 === 1,
            element_at(col("arr"),
              ((col("n") + 1) / 2).cast("int")).cast("decimal(18,6)"))
          .otherwise(
            ((element_at(col("arr"), (col("n") / 2).cast("int"))
              + element_at(col("arr"), (col("n") / 2).cast("int") + 1))
              * lit(BigDecimal("0.5"))).cast("decimal(18,6)")))
        // DECIMAL stays INTERNAL; the emitted surface is exact scaled
        // BIGINT (v_cents = v·100, med7_e6 = med7·10⁶ — the ·0.5 midpoint
        // is exactly representable at scale 3, so ·10⁶ is integral). The
        // driver's hash gate cannot faithfully hash top-level DECIMAL
        // columns (round-12 root cause; see tools/check.py lint).
        .select(col("event_type"), col("day"),
          (col("v") * 100).cast("long").as("v_cents"),
          col("n").cast("long").as("n_in_frame"),
          (col("med") * 1000000).cast("long").as("med7_e6"))
        .orderBy("event_type", "day")
    },
    oracle = Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         SUM(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type, day),
        |r AS (SELECT event_type, day, v,
        |        list_sort(list(v) OVER w) AS arr
        |      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
        |                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |x AS (SELECT event_type, day, v, len(arr) AS n,
        |        CASE WHEN len(arr) % 2 = 1
        |          THEN CAST(arr[CAST((len(arr) + 1) / 2 AS INTEGER)]
        |               AS DECIMAL(18,6))
        |          ELSE CAST((CAST(arr[CAST(len(arr) / 2 AS INTEGER)]
        |                       AS DECIMAL(23,2))
        |                     + arr[CAST(len(arr) / 2 AS INTEGER) + 1])
        |                    * CAST(0.5 AS DECIMAL(1,1)) AS DECIMAL(18,6))
        |        END AS med
        |      FROM r)
        |SELECT event_type, day,
        |  CAST(CAST(v AS DECIMAL(22,2)) * 100 AS BIGINT) AS v_cents,
        |  CAST(n AS BIGINT) AS n_in_frame,
        |  CAST(med * 1000000 AS BIGINT) AS med7_e6
        |FROM x ORDER BY event_type, day""".stripMargin))

  /** Maximum drawdown of the cumulative daily-revenue curve — the
    * classic worst-peak-to-trough readout (finance's risk stat, equally
    * the KPI-dashboard "worst slump" number): with cum_t the running
    * total of daily NET revenue deviations from the mean day (so the
    * curve actually goes down — a raw cumulative of positive revenue is
    * monotone and its drawdown is degenerately 0), dd_t = runmax(cum)−
    * cum_t; report the deepest trough, its day (first on ties), the day
    * of the preceding peak, and dd as a ⌊·10⁶⌋ fraction of the peak-to-
    * range denominator. All exact integer cents: the mean deviation is
    * cross-multiplied (n·cents_t − total), so cum_t = n·Σcents_≤t −
    * t·total never divides.
    *
    * Scale shape: one partial-aggregatable groupBy(day), then windows on
    * the bounded calendar grid (the family's documented stance). */
  private val maxDrawdown = QueryDef(
    fn = (spark, dir) => {
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      // day-domain-bounded grid, checkpointed: tot / trough / peak all
      // re-reference it, and without the checkpoint each reference
      // re-planned the orders scan (6 corpus scans; ScanCountLintSpec)
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("cents"))
        .memoCheckpoint(spark, dir, "drawdown_daily")
      val tot = daily.agg(count(lit(1)).as("n"), sum(col("cents")).as("t"))
      val wRun = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = daily.crossJoin(broadcast(tot))
        .withColumn("dev", col("cents").cast(d380) * col("n") - col("t"))
        .withColumn("cum", sum(col("dev")).over(wRun))
        .withColumn("runmax", max(col("cum")).over(wRun))
        .withColumn("dd", col("runmax") - col("cum"))
      // deepest trough, FIRST day on ties (max on (dd, -epoch day));
      // the peak day is the first day attaining that runmax
      val trough = curve
        .select(col("day"), col("dd"), col("runmax"), col("n"))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("dd").desc, col("day").asc)))
        .filter(col("rn") === 1)
        .select(col("day").as("trough_day"), col("dd").as("max_dd"),
          col("runmax").as("peak_cum"), col("n"))
      val peak = curve.join(broadcast(trough),
          col("cum") === col("peak_cum") && col("day") <= col("trough_day"))
        .agg(min(col("day")).as("peak_day"))
      trough.crossJoin(broadcast(peak))
        .select(col("n").as("n_days"), col("peak_day"), col("trough_day"),
          col("max_dd").cast("long").as("max_dd_scaled"),
          expr("CASE WHEN peak_cum = 0 THEN CAST(0 AS BIGINT)" +
            " ELSE CAST((max_dd * CAST(1000000 AS DECIMAL(38,0)))" +
            " div (max_dd + abs(peak_cum)) AS BIGINT) END")
            .as("dd_share_e6"))
    },
    oracle = Some(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n, SUM(cents) AS t FROM daily),
        |dev AS (SELECT day, n, CAST(cents AS HUGEINT) * n - t AS dev
        |  FROM daily CROSS JOIN tot),
        |curve0 AS (SELECT day, n,
        |    SUM(dev) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM dev),
        |curve AS (SELECT day, n, cum,
        |    MAX(cum) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
        |  FROM curve0),
        |dd AS (SELECT day, n, cum, runmax, runmax - cum AS dd FROM curve),
        |trough AS (SELECT day AS trough_day, dd AS max_dd,
        |    runmax AS peak_cum, n FROM (
        |  SELECT *, row_number() OVER (ORDER BY dd DESC, day ASC) AS rn
        |  FROM dd) WHERE rn = 1),
        |peak AS (SELECT MIN(d.day) AS peak_day
        |  FROM dd d CROSS JOIN trough
        |  WHERE d.cum = trough.peak_cum AND d.day <= trough.trough_day)
        |SELECT CAST(trough.n AS BIGINT) AS n_days, peak.peak_day,
        |  trough.trough_day,
        |  CAST(max_dd AS BIGINT) AS max_dd_scaled,
        |  CASE WHEN peak_cum = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST((max_dd * 1000000) // (max_dd + abs(peak_cum))
        |         AS BIGINT) END AS dd_share_e6
        |FROM trough CROSS JOIN peak""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_gaps_islands" -> gapsIslands,
    "q_dau_mau" -> dauMau,
    "q_max_drawdown" -> maxDrawdown,
    "q_rolling_median" -> rollingMedian)
}
