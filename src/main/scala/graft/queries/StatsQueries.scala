package graft.queries

import graft.QueryDef
import graft.ops.{RobustStats, Tables, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-10 experimentation / statistical-inference family: the readouts a
  * data platform bolts on once the warehouse tables exist — A/B experiment
  * significance (two-proportion z + Welch's t from exact integer
  * sufficient statistics), CUSUM changepoint detection over a daily
  * series, and Kaplan-Meier survival with right-censoring (the
  * time-to-event generalization of the funnel-lag family).
  *
  * Numeric discipline (shared with AnalyticQueries / WarehouseQueries):
  * inputs quantized to integer micro-units, sufficient statistics
  * accumulated exactly (long products, DECIMAL(38,0) accumulators — both
  * engines see identical integers), transcendental terms (ln of
  * integer-valued arguments, IEEE sqrt/exp of identically-composed
  * doubles) 9dp floor-rounded where they enter a sum, and every emitted
  * double 6dp floor-rounded. The DuckDB twins replay the identical
  * expression tree.
  */
object StatsQueries {

  private def r6(c: Column): Column = TextAnalysis.round6(c)
  private val d380 = DecimalType(38, 0)
  private val d189 = DecimalType(18, 9)
  /** floor-round a transcendental term to 9dp before it enters a sum. */
  private def f9(c: Column): Column = (floor(c * 1e9 + 0.5) / 1e9).cast(d189)

  // --- A/B experiment readout ----------------------------------------------

  /** A/B test significance report: users deterministically hash-split into
    * variants (the engine's reproducible split primitive — the same
    * md5-prefix bucket as q_hash_split, so assignment is a pure function
    * of the key on any engine/cluster), then two classic tests over the
    * purchase funnel:
    *
    *  - conversion (user bought something ≥ $150): two-proportion pooled
    *    z-test, z = (p_a − p_b) / √(p̄(1−p̄)(1/n_a + 1/n_b));
    *  - purchase value: Welch's unequal-variance t on the per-event
    *    purchase amounts, t = (m_a − m_b) / √(s²_a/n_a + s²_b/n_b).
    *
    * Scale shape: ONE user-keyed partial-aggregatable groupBy (combine
    * collapses each map task to a row per user) followed by a global
    * 10-number conditional aggregation — the classic sufficient-statistics
    * pattern, no window, no driver state beyond the final single row.
    * Counts are exact longs; value sums/squares are µ$-quantized long
    * products accumulated in DECIMAL(38,0) (a $560.21 value squares to
    * 3.2e17 — inside long; the ~20k-row sums are not — hence the decimal
    * accumulator). The z/t compositions run on doubles cast from those
    * exact integers in the same order on both engines.
    */
  /** Offline changepoint by one binary-segmentation step (the top-down
    * complement to q_cusum_changepoint's sequential detector): the split
    * day t* maximizing the between-segment sum-of-squares gain
    * n_l·n_r/n·(m_l − m_r)² of daily revenue. The gain is evaluated per
    * candidate t as the DECLARED integer statistic
    * gain(t) = ⌊(S_l·n_r − S_r·n_l)² / (n_l·n_r·n)⌋ in KILOdollar²
    * units (cents div 10⁵ — finer units square past int64 on this
    * series), computed for every t from ONE pair of running sums over
    * the day grid; argmax ties break to the earliest day. Means are
    * emitted as kilodollars·10⁶.
    *
    * Scale shape: one partial-aggregatable groupBy(day); running sums
    * and the argmax on the bounded calendar grid. */
  private val changepointBinseg = QueryDef(
    fn = (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(expr("sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))" +
          " div 100000").as("kd"))
      val wRun = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val c = daily
        .withColumn("i", row_number().over(Window.orderBy(col("day"))))
        .withColumn("sl", sum(col("kd")).over(wRun))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("st", sum(col("kd")).over(wAll))
        .filter(col("i") < col("n")) // both segments non-empty
        .withColumn("gain", expr(
          "((CAST(sl AS DECIMAL(38,0)) * (n - i)" +
            " - CAST(st - sl AS DECIMAL(38,0)) * i)" +
            " * (CAST(sl AS DECIMAL(38,0)) * (n - i)" +
            " - CAST(st - sl AS DECIMAL(38,0)) * i))" +
            " div (CAST(i AS DECIMAL(38,0)) * (n - i) * n)"))
      c.withColumn("rn", row_number().over(
          Window.orderBy(col("gain").desc, col("day").asc)))
        .filter(col("rn") === 1)
        .select(col("day").as("split_day"), col("i").as("n_left"),
          (col("n") - col("i")).cast("int").as("n_right"),
          expr("(sl * CAST(1000000 AS BIGINT)) div i").as("mean_left_e6"),
          expr("((st - sl) * CAST(1000000 AS BIGINT)) div (n - i)")
            .as("mean_right_e6"),
          col("gain").cast("long").as("gain"))
    },
    oracle = Some(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      // 100000 AS BIGINT) AS kd
        |  FROM orders GROUP BY 1),
        |c0 AS (SELECT day, kd,
        |    row_number() OVER (ORDER BY day) AS i,
        |    SUM(kd) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
        |    COUNT(*) OVER () AS n, SUM(kd) OVER () AS st
        |  FROM daily),
        |c AS (SELECT *,
        |    ((CAST(sl AS HUGEINT) * (n - i) - CAST(st - sl AS HUGEINT) * i)
        |     * (CAST(sl AS HUGEINT) * (n - i) - CAST(st - sl AS HUGEINT) * i))
        |    // (CAST(i AS HUGEINT) * (n - i) * n) AS gain
        |  FROM c0 WHERE i < n),
        |top AS (SELECT * FROM (
        |  SELECT *, row_number() OVER (ORDER BY gain DESC, day ASC) AS rn
        |  FROM c) WHERE rn = 1)
        |SELECT day AS split_day, CAST(i AS INTEGER) AS n_left,
        |  CAST(n - i AS INTEGER) AS n_right,
        |  CAST((sl * 1000000) // i AS BIGINT) AS mean_left_e6,
        |  CAST(((st - sl) * 1000000) // (n - i) AS BIGINT) AS mean_right_e6,
        |  CAST(gain AS BIGINT) AS gain
        |FROM top""".stripMargin))

  /** Sample-ratio mismatch check on q_ab_test's assignment — the
    * plumbing gate an experimentation platform runs BEFORE reading any
    * metric: does the observed 50/50 hash split actually hold? With
    * expected halves, the 1-df goodness-of-fit χ² collapses to
    * (n_a − n_b)²/n, and the SRM convention's α = 0.001 decision is the
    * pure-integer comparison (n_a − n_b)²·1000 > 10828·n. A true SRM
    * means the assignment (not the treatment) is broken — every metric
    * downstream is invalid, which is why this ships as its own query.
    */
  private val abSrm = QueryDef(
    fn = (spark, dir) => {
      val g = Tables.events(spark, dir)
        .select(col("user_id")).distinct()
        .withColumn("variant", TextAnalysis.hashBucket(col("user_id"), 2))
        .agg(sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
      g.select(col("n_a"), col("n_b"),
        expr("((n_a - n_b) * (n_a - n_b) * CAST(1000000 AS BIGINT))" +
          " div (n_a + n_b)").as("chi2_e6"),
        ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) * lit(1000L)
          > lit(10828L) * (col("n_a") + col("n_b"))).as("srm"))
    },
    oracle = Some {
      val bucket =
        s"${ExtensionQueries.dHash32("CAST(user_id AS VARCHAR)")} % 2"
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
         |v AS (SELECT $bucket AS variant FROM u),
         |g AS (SELECT
         |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b
         |  FROM v)
         |SELECT n_a, n_b,
         |  CAST(((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b)
         |    AS BIGINT) AS chi2_e6,
         |  (n_a - n_b) * (n_a - n_b) * 1000 > 10828 * (n_a + n_b) AS srm
         |FROM g""".stripMargin
    })

  private val abTest = QueryDef(
    fn = (spark, dir) => {
      val vq = floor(col("value") * 1e6 + 0.5).cast("long")
      val isP = col("event_type") === "purchase"
      val perUser = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"))
        .groupBy(col("user_id"))
        .agg(
          max(when(isP && col("value") >= 150, 1).otherwise(0)).as("conv"),
          count(when(isP, 1)).as("np"),
          sum(when(isP, vq)).as("sv"),
          sum(when(isP, (vq * vq).cast(d380))).as("sq"))
        .withColumn("variant", TextAnalysis.hashBucket(col("user_id"), 2))
      def side(v: Int, c: Column) = sum(when(col("variant") === v, c))
      val g = perUser.agg(
        side(0, lit(1L)).as("n_a"), side(1, lit(1L)).as("n_b"),
        side(0, col("conv")).as("conv_a"), side(1, col("conv")).as("conv_b"),
        side(0, col("np")).as("np_a"), side(1, col("np")).as("np_b"),
        side(0, col("sv")).as("sv_a"), side(1, col("sv")).as("sv_b"),
        side(0, col("sq")).as("sq_a"), side(1, col("sq")).as("sq_b"))
      val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
      val ra = col("conv_a").cast("double") / na
      val rb = col("conv_b").cast("double") / nb
      val p = (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")).cast("double")
      val z = (ra - rb) / sqrt(p * (lit(1.0) - p) * (lit(1.0) / na + lit(1.0) / nb))
      def mean(sv: Column, np: Column) = sv.cast("double") / np.cast("double") / 1e6
      def vr(sq: Column, sv: Column, np: Column) = {
        val n = np.cast("double")
        (sq.cast("double") - sv.cast("double") * sv.cast("double") / n) /
          (n - lit(1.0)) / 1e12
      }
      val ma = mean(col("sv_a"), col("np_a"))
      val mb = mean(col("sv_b"), col("np_b"))
      val va = vr(col("sq_a"), col("sv_a"), col("np_a"))
      val vb = vr(col("sq_b"), col("sv_b"), col("np_b"))
      val t = (ma - mb) / sqrt(va / col("np_a").cast("double") + vb / col("np_b").cast("double"))
      g.select(
        col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        r6(ra).as("rate_a"), r6(rb).as("rate_b"),
        r6(z).as("z_conv"), (abs(z) > 1.96).as("sig_conv"),
        col("np_a"), col("np_b"),
        r6(ma).as("mean_a"), r6(mb).as("mean_b"),
        r6(t).as("t_welch"), (abs(t) > 1.96).as("sig_mean"))
    },
    oracle = Some {
      val h = ExtensionQueries.dHash32("CAST(user_id AS VARCHAR)")
      """WITH pu AS (
        |  SELECT user_id,
        |    HVAR % 2 AS variant,
        |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END) AS conv,
        |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS np,
        |    SUM(CASE WHEN event_type = 'purchase'
        |        THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) END) AS sv,
        |    SUM(CASE WHEN event_type = 'purchase'
        |        THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
        |           * CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) END) AS sq
        |  FROM events GROUP BY user_id),
        |g AS (SELECT
        |    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
        |    SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS conv_a,
        |    SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS conv_b,
        |    SUM(CASE WHEN variant = 0 THEN np ELSE 0 END) AS np_a,
        |    SUM(CASE WHEN variant = 1 THEN np ELSE 0 END) AS np_b,
        |    SUM(CASE WHEN variant = 0 THEN sv ELSE 0 END) AS sv_a,
        |    SUM(CASE WHEN variant = 1 THEN sv ELSE 0 END) AS sv_b,
        |    SUM(CASE WHEN variant = 0 THEN sq ELSE 0 END) AS sq_a,
        |    SUM(CASE WHEN variant = 1 THEN sq ELSE 0 END) AS sq_b
        |  FROM pu),
        |f AS (SELECT *,
        |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ra,
        |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rb,
        |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p,
        |    (CAST(sv_a AS DOUBLE) / CAST(np_a AS DOUBLE)) / 1000000.0 AS ma,
        |    (CAST(sv_b AS DOUBLE) / CAST(np_b AS DOUBLE)) / 1000000.0 AS mb,
        |    (CAST(sq_a AS DOUBLE) - CAST(sv_a AS DOUBLE) * CAST(sv_a AS DOUBLE) / CAST(np_a AS DOUBLE))
        |      / (CAST(np_a AS DOUBLE) - 1.0) / 1000000000000.0 AS va,
        |    (CAST(sq_b AS DOUBLE) - CAST(sv_b AS DOUBLE) * CAST(sv_b AS DOUBLE) / CAST(np_b AS DOUBLE))
        |      / (CAST(np_b AS DOUBLE) - 1.0) / 1000000000000.0 AS vb
        |  FROM g),
        |f2 AS (SELECT *,
        |    (ra - rb) / sqrt(p * (1.0 - p) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS z,
        |    (ma - mb) / sqrt(va / CAST(np_a AS DOUBLE) + vb / CAST(np_b AS DOUBLE)) AS t
        |  FROM f)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
        |  floor(ra * 1000000.0 + 0.5) / 1000000.0 AS rate_a,
        |  floor(rb * 1000000.0 + 0.5) / 1000000.0 AS rate_b,
        |  floor(z * 1000000.0 + 0.5) / 1000000.0 AS z_conv,
        |  abs(z) > 1.96 AS sig_conv,
        |  CAST(np_a AS BIGINT) AS np_a, CAST(np_b AS BIGINT) AS np_b,
        |  floor(ma * 1000000.0 + 0.5) / 1000000.0 AS mean_a,
        |  floor(mb * 1000000.0 + 0.5) / 1000000.0 AS mean_b,
        |  floor(t * 1000000.0 + 0.5) / 1000000.0 AS t_welch,
        |  abs(t) > 1.96 AS sig_mean
        |FROM f2""".stripMargin.replace("HVAR", h)
    })

  // --- CUSUM changepoint ---------------------------------------------------

  /** CUSUM changepoint detection per event_type: over the daily total of
    * `value`, the cumulative sum of deviations from the series mean,
    * C_k = Σ_{d≤k} S_d − k·(ΣS/D), peaks at the most likely level-shift
    * point (Page 1954). To keep the arithmetic exact the deviation sum is
    * scaled through by D: C'_k = D·Σ_{d≤k}S_d − k·ΣS — pure integer
    * (µ$-quantized) DECIMAL(38,0) arithmetic, same argmax. The report
    * emits the argmax day, |C| in $ (that is, C'/(D·1e6)) and the shift
    * direction.
    *
    * Scale shape: the data-sized work is one (type, day) partial
    * aggregation; everything after runs on the bounded (groups × days)
    * daily frame — windows partitioned BY GROUP over ≤31-row frames, then
    * a length-1 top-k. At 100 TB the daily rollup is the only shuffle and
    * combines map-side.
    */
  private val cusumChangepoint = QueryDef(
    fn = (spark, dir) => {
      val daily = Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("vq"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("vq")).cast(d380).as("s"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val stats = daily
        .withColumn("cum_s", sum(col("s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("k", row_number().over(w))
        .withColumn("tot", sum(col("s")).over(wAll))
        .withColumn("nd", count(lit(1)).over(wAll))
        .withColumn("cp", col("nd").cast(d380) * col("cum_s") - col("k").cast(d380) * col("tot"))
      stats
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(abs(col("cp")).desc, col("day").asc)))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("day").as("cp_date"), col("nd").as("n_days"),
          when(col("cp") > 0, "up").otherwise("down").as("direction"),
          r6(abs(col("cp")).cast("double") / (col("nd") * lit(1e6))).as("cusum_mag"))
        .orderBy("event_type")
    },
    oracle = Some(
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq FROM events),
        |d AS (SELECT event_type, day, SUM(vq) AS s FROM e GROUP BY 1, 2),
        |w AS (SELECT event_type, day, s,
        |    SUM(s) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k,
        |    SUM(s) OVER (PARTITION BY event_type) AS tot,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM d),
        |c AS (SELECT event_type, day, nd,
        |    CAST(nd AS HUGEINT) * cum_s - CAST(k AS HUGEINT) * tot AS cp
        |  FROM w),
        |r AS (SELECT event_type, day, nd, cp,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY abs(cp) DESC, day ASC) AS rn
        |  FROM c)
        |SELECT event_type, day AS cp_date, nd AS n_days,
        |  CASE WHEN cp > 0 THEN 'up' ELSE 'down' END AS direction,
        |  floor(CAST(abs(cp) AS DOUBLE) / (nd * 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS cusum_mag
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin))

  // --- Kaplan-Meier survival -----------------------------------------------

  /** Kaplan-Meier product-limit survival with right-censoring: per user,
    * time-to-event = days from their first event to their first "big
    * purchase" (value ≥ $100); users who never get there are censored at
    * the study end (the corpus' last event day). At each event time t:
    * n_t at-risk (duration ≥ t), d_t events, and the survival estimate
    * S(t) = Π_{s≤t} (n_s − d_s)/n_s.
    *
    * The product is computed as exp(Σ ln(n_s − d_s) − ln(n_s)): both lns
    * take INTEGER-valued arguments (the repo's cross-engine
    * transcendental rule), each difference term is 9dp floor-rounded into
    * DECIMAL(18,9) before the cumulative-sum window, and the final exp is
    * 6dp floored. A (reachable-only-in-theory) n_s = d_s extinction tail
    * emits a −99 literal term, identical on both engines, so S collapses
    * to 0 rather than diverging on ln(0) handling.
    *
    * Scale shape: ONE user-keyed aggregation (partial-aggregatable) is
    * the only data-sized stage; the study-end scalar arrives as a 1-row
    * broadcast (no driver collect), and the life table is a ≤31-row
    * duration-domain frame — its windows are free. This is the funnel-lag
    * family's statistically-honest sibling: percentiles of observed lags
    * ignore censoring; KM does not.
    */
  private val survivalKm = QueryDef(
    fn = (spark, dir) => {
      val ev = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"), col("value"))
      val studyEnd = ev.agg(max(col("day")).as("study_end"))
      val perUser = ev
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"),
          min(when(col("event_type") === "purchase" && col("value") >= 100,
            col("day"))).as("ev_day"))
        .crossJoin(broadcast(studyEnd))
        .select(
          when(col("ev_day").isNotNull, datediff(col("ev_day"), col("first_day")))
            .otherwise(datediff(col("study_end"), col("first_day"))).as("t"),
          col("ev_day").isNotNull.as("obs"))
      val tt = perUser.groupBy(col("t"))
        .agg(sum(when(col("obs"), 1).otherwise(0)).as("d"),
          sum(when(col("obs"), 0).otherwise(1)).as("c"))
      val w = Window.orderBy(col("t"))
      val lifeTable = tt
        .withColumn("n_total", sum(col("d") + col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("before_t", coalesce(sum(col("d") + col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n_risk", col("n_total") - col("before_t"))
        .withColumn("term",
          when(col("d") > 0 && col("n_risk") > col("d"),
            f9(log(col("n_risk") - col("d")) - log(col("n_risk"))))
            .when(col("d") > 0, lit(-99).cast(d189))
            .otherwise(lit(0).cast(d189)))
        .withColumn("cum", sum(col("term")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      lifeTable.filter(col("d") > 0)
        .select(col("t").as("t_day"), col("n_risk"), col("d").as("d_events"),
          col("c").as("c_censored"),
          r6(exp(col("cum").cast("double"))).as("km_survival"))
        .orderBy("t_day")
    },
    oracle = Some(
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type, value FROM events),
        |fin AS (SELECT MAX(day) AS study_end FROM ev),
        |pu AS (SELECT user_id, MIN(day) AS first_day,
        |    MIN(CASE WHEN event_type = 'purchase' AND value >= 100 THEN day END) AS ev_day
        |  FROM ev GROUP BY user_id),
        |du AS (SELECT
        |    CASE WHEN ev_day IS NOT NULL THEN datediff('day', first_day, ev_day)
        |         ELSE datediff('day', first_day, (SELECT study_end FROM fin)) END AS t,
        |    (ev_day IS NOT NULL) AS obs
        |  FROM pu),
        |tt AS (SELECT t, SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS d,
        |    SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS c
        |  FROM du GROUP BY t),
        |r AS (SELECT t, d, c,
        |    SUM(d + c) OVER () AS n_total,
        |    COALESCE(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_t
        |  FROM tt),
        |s AS (SELECT t, d, c, n_total - before_t AS n_risk,
        |    CAST(CASE
        |      WHEN d > 0 AND n_total - before_t > d THEN
        |        floor((ln(n_total - before_t - d) - ln(n_total - before_t))
        |          * 1000000000.0 + 0.5) / 1000000000.0
        |      WHEN d > 0 THEN -99
        |      ELSE 0 END AS DECIMAL(18,9)) AS term
        |  FROM r),
        |k AS (SELECT t, d, c, n_risk,
        |    SUM(term) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s)
        |SELECT CAST(t AS INTEGER) AS t_day, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d AS BIGINT) AS d_events, CAST(c AS BIGINT) AS c_censored,
        |  floor(exp(CAST(cum AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS km_survival
        |FROM k WHERE d > 0 ORDER BY t_day""".stripMargin))

  // --- join-key skew diagnosis ---------------------------------------------

  /** Key-distribution skew report — the diagnostic a 100 TB pipeline runs
    * BEFORE picking a shuffle key: for each candidate join key of the
    * fact table, the Gini coefficient of the per-key row counts plus the
    * top-1/top-10 key shares. Gini = 2·Σᵢ i·cᵢ/(K·Σc) − (K+1)/K over the
    * ascending-sorted counts (rank ties broken by key id — both engines
    * sort identical longs, so Σ i·cᵢ is the same exact integer).
    *
    * Scale shape: the data-sized stage is one partial-aggregatable
    * groupBy per key column; the rank window then runs over the KEY
    * DOMAIN (the vocabulary — smaller than the fact table by the average
    * key multiplicity), which is the same domain-sized-window stance as
    * the BPE/Zipf family. All sufficient statistics are exact longs; the
    * three emitted ratios are identically-composed double divisions of
    * those longs, 6dp floored.
    */
  private val keySkew = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      def report(keyCol: String) = {
        val counts = li.groupBy(col(keyCol).as("k"))
          .agg(count(lit(1)).as("c"))
        val w = Window.orderBy(col("c"), col("k"))
        val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        counts
          .withColumn("i", row_number().over(w))
          .withColumn("kk", count(lit(1)).over(wAll))
          .withColumn("tot", sum(col("c")).over(wAll))
          .agg(
            max(col("kk")).as("n_keys"),
            max(col("tot")).as("n_rows"),
            sum(col("i").cast("long") * col("c")).as("s_ic"),
            max(when(col("i") === col("kk"), col("c"))).as("c_top1"),
            sum(when(col("i") > col("kk") - 10, col("c"))).as("c_top10"))
          .select(
            lit(keyCol).as("key_col"), col("n_keys"), col("n_rows"),
            r6(lit(2.0) * col("s_ic").cast("double") /
                (col("n_keys").cast("double") * col("n_rows").cast("double"))
              - (col("n_keys") + 1).cast("double") / col("n_keys").cast("double"))
              .as("gini"),
            r6(col("c_top1").cast("double") / col("n_rows").cast("double")).as("top1_share"),
            r6(col("c_top10").cast("double") / col("n_rows").cast("double")).as("top10_share"))
      }
      report("l_partkey").unionAll(report("l_suppkey")).orderBy("key_col")
    },
    oracle = Some {
      def side(k: String) =
        s"""SELECT '$k' AS key_col, CAST(n_keys AS BIGINT) AS n_keys,
           |  CAST(n_rows AS BIGINT) AS n_rows,
           |  floor((2.0 * CAST(s_ic AS DOUBLE)
           |      / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
           |      - CAST(n_keys + 1 AS DOUBLE) / CAST(n_keys AS DOUBLE))
           |    * 1000000.0 + 0.5) / 1000000.0 AS gini,
           |  floor(CAST(c_top1 AS DOUBLE) / CAST(n_rows AS DOUBLE) * 1000000.0 + 0.5)
           |    / 1000000.0 AS top1_share,
           |  floor(CAST(c_top10 AS DOUBLE) / CAST(n_rows AS DOUBLE) * 1000000.0 + 0.5)
           |    / 1000000.0 AS top10_share
           |FROM (
           |  SELECT MAX(kk) AS n_keys, MAX(tot) AS n_rows,
           |    SUM(i * c) AS s_ic,
           |    MAX(CASE WHEN i = kk THEN c END) AS c_top1,
           |    SUM(CASE WHEN i > kk - 10 THEN c END) AS c_top10
           |  FROM (
           |    SELECT c, ROW_NUMBER() OVER (ORDER BY c, k) AS i,
           |      COUNT(*) OVER () AS kk, SUM(c) OVER () AS tot
           |    FROM (SELECT $k AS k, COUNT(*) AS c FROM lineitem GROUP BY $k)))""".stripMargin
      s"""${side("l_partkey")}
         |UNION ALL
         |${side("l_suppkey")}
         |ORDER BY key_col""".stripMargin
    })

  // --- population stability index (drift monitor) --------------------------

  /** Population Stability Index per event_type — the standard ML-serving
    * drift monitor: octile bins are fit on the REFERENCE window (first
    * half of the month) with [[graft.ops.RobustStats.rankValues]]'s
    * driver-assisted bounded-histogram search (two domain-bounded passes,
    * no per-group sort — the q_grouped_equidepth machinery), both windows
    * are bucketed by the same scan-stage CASE chain, and
    * PSI = Σ_bins (p̂ᵢ − q̂ᵢ)·ln(p̂ᵢ/q̂ᵢ) with Laplace-smoothed shares
    * p̂ = (nᵣ+1)/(Nᵣ+8). PSI > 0.1 flags drift (the conventional "some
    * shift" threshold).
    *
    * Exactness: the smoothed log-ratio rewrites to
    * ln((nᵣ+1)(N_c+8)) − ln((n_c+1)(Nᵣ+8)) — two INTEGER-argument lns —
    * and each bin term is 9dp floor-rounded into DECIMAL(18,9); the
    * oracle re-derives the same boundaries with a rank window. Scale
    * shape: two data-sized aggregations (the boundary histogram passes
    * and the (type, bin) counts, all partial-aggregatable); the PSI sum
    * runs on the ≤8-bins-per-type frame.
    */
  private val psiDrift = QueryDef(
    fn = (spark, dir) => {
      val W = 16384L
      val split = lit("2024-01-15").cast("date")
      val ev = Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 1e4 + 0.5).cast("long").as("u"))
      val ref = ev.filter(col("day") <= split)
      val bounds = RobustStats.rankValues(ref, "event_type", col("u"), W,
        n => (1 to 7).map(i => math.max(1L, i * n / 8)))
      val bin = RobustStats.caseByGroup("event_type", bounds.map { case (g, bs) =>
        g -> RobustStats.binOf(col("u"), bs)
      })
      val counts = ev
        .withColumn("bin", bin)
        // mirror the oracle's inner join on fitted groups: a group absent
        // from the reference window has no boundary chain (null bin)
        .filter(col("bin").isNotNull)
        .groupBy(col("event_type"), col("bin"))
        .agg(sum(when(col("day") <= split, 1L).otherwise(0L)).as("nr"),
          sum(when(col("day") > split, 1L).otherwise(0L)).as("nc"))
      val wt = Window.partitionBy(col("event_type"))
      val terms = counts
        .withColumn("tr", sum(col("nr")).over(wt))
        .withColumn("tc", sum(col("nc")).over(wt))
        .withColumn("term", f9(
          ((col("nr") + 1).cast("double") / (col("tr") + 8).cast("double")
            - (col("nc") + 1).cast("double") / (col("tc") + 8).cast("double"))
          * (log((col("nr") + 1) * (col("tc") + 8))
            - log((col("nc") + 1) * (col("tr") + 8)))))
      terms.groupBy(col("event_type"))
        .agg(max(col("tr")).as("n_ref"), max(col("tc")).as("n_cur"),
          sum(col("term")).cast("double").as("psi_raw"))
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          r6(col("psi_raw")).as("psi"),
          (r6(col("psi_raw")) > 0.1).as("drift_flag"))
        .orderBy("event_type")
    },
    oracle = Some(
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS u FROM events),
        |ref AS (SELECT event_type, u FROM e WHERE day <= DATE '2024-01-15'),
        |n0 AS (SELECT event_type, COUNT(*) AS n FROM ref GROUP BY 1),
        |r AS (SELECT event_type, u,
        |    row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn FROM ref),
        |ii AS (SELECT unnest(range(1, 8)) AS i),
        |bnd AS (SELECT n0.event_type, ii.i, r.u AS bv
        |    FROM ii CROSS JOIN n0
        |    JOIN r ON r.event_type = n0.event_type
        |      AND r.rn = GREATEST(1, (ii.i * n0.n) // 8)),
        |bl AS (SELECT event_type, list(bv ORDER BY i) AS l FROM bnd GROUP BY event_type),
        |a AS (SELECT e.event_type,
        |    CASE WHEN e.day <= DATE '2024-01-15' THEN 1 ELSE 0 END AS is_ref,
        |    CAST(len(list_filter(bl.l, b -> e.u > b)) AS INTEGER) AS bin
        |  FROM e JOIN bl USING (event_type)),
        |b AS (SELECT event_type, bin,
        |    SUM(is_ref) AS nr, SUM(1 - is_ref) AS nc
        |  FROM a GROUP BY 1, 2),
        |t AS (SELECT event_type, bin, nr, nc,
        |    SUM(nr) OVER (PARTITION BY event_type) AS tr,
        |    SUM(nc) OVER (PARTITION BY event_type) AS tc
        |  FROM b),
        |tm AS (SELECT event_type, tr, tc,
        |    CAST(floor(
        |      (CAST(nr + 1 AS DOUBLE) / CAST(tr + 8 AS DOUBLE)
        |        - CAST(nc + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE))
        |      * (ln((nr + 1) * (tc + 8)) - ln((nc + 1) * (tr + 8)))
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(18,9)) AS term
        |  FROM t),
        |s AS (SELECT event_type, MAX(tr) AS n_ref, MAX(tc) AS n_cur,
        |    SUM(term) AS psi_d FROM tm GROUP BY 1)
        |SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  floor(CAST(psi_d AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS psi,
        |  floor(CAST(psi_d AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 > 0.1 AS drift_flag
        |FROM s ORDER BY event_type""".stripMargin))

  // --- mutual information / categorical association ------------------------

  /** Mutual information + χ² + Cramér's V between two categorical columns
    * (market segment × order priority) — the feature-selection /
    * association readout next to q_chisq's contingency table. All three
    * statistics come from ONE joint-count aggregation:
    * MI = Σ (n_xy/N)·ln(n_xy·N/(n_x·n_y)) with the log ratio split into
    * two INTEGER-argument lns; χ² in the cross-multiplied form
    * (n_xy·N − n_x·n_y)²/(N·n_x·n_y) — numerator squared in
    * DECIMAL(38,0) (the long product n_xy·N fits, its square does not);
    * V = √(χ²/(N·min(r−1,c−1))).
    *
    * Scale shape: the fact-sized work is the orders⋈customer join (AQE
    * chooses broadcast vs shuffle — customer grows with SF) and one
    * partial-aggregatable joint count; marginals and the three sums run
    * on the r×c ≤ 25-row domain frame. Terms are 9dp floor-rounded into
    * DECIMAL(18,9); emitted doubles 6dp floored.
    */
  private val mutualInfo = QueryDef(
    fn = (spark, dir) => {
      val joint = Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderpriority"))
        .join(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("x"), col("o_orderpriority").as("y"))
        .agg(count(lit(1)).as("nxy"))
      val wAll = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val t = joint
        .withColumn("nx", sum(col("nxy")).over(Window.partitionBy(col("x"))))
        .withColumn("ny", sum(col("nxy")).over(Window.partitionBy(col("y"))))
        .withColumn("n", sum(col("nxy")).over(wAll))
        .withColumn("r", size(collect_set(col("x")).over(wAll)))
        .withColumn("c", size(collect_set(col("y")).over(wAll)))
        .withColumn("mi_term", f9(
          col("nxy").cast("double") / col("n").cast("double")
            * (log(col("nxy") * col("n")) - log(col("nx") * col("ny")))))
        .withColumn("d", (col("nxy") * col("n") - col("nx") * col("ny")).cast(d380))
        .withColumn("chi_term", f9(
          (col("d") * col("d")).cast("double")
            / (col("n") * col("nx") * col("ny")).cast("double")))
      t.groupBy(col("n"), col("r"), col("c"))
        .agg(sum(col("mi_term")).cast("double").as("mi_raw"),
          sum(col("chi_term")).cast("double").as("chi_raw"))
        .select(col("n"), col("r").cast("long").as("r_levels"),
          col("c").cast("long").as("c_levels"),
          r6(col("mi_raw")).as("mi"),
          r6(col("chi_raw")).as("chi2"),
          r6(sqrt(col("chi_raw") / (col("n") * least(col("r") - 1, col("c") - 1))
            .cast("double"))).as("cramers_v"))
    },
    oracle = Some(
      """WITH joint AS (
        |  SELECT c.c_mktsegment AS x, o.o_orderpriority AS y, COUNT(*) AS nxy
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |t AS (SELECT x, y, nxy,
        |    SUM(nxy) OVER (PARTITION BY x) AS nx,
        |    SUM(nxy) OVER (PARTITION BY y) AS ny,
        |    SUM(nxy) OVER () AS n,
        |    (SELECT COUNT(DISTINCT x) FROM joint) AS r,
        |    (SELECT COUNT(DISTINCT y) FROM joint) AS c
        |  FROM joint),
        |tt AS (SELECT n, r, c,
        |    CAST(floor(CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE)
        |        * (ln(nxy * n) - ln(nx * ny)) * 1000000000.0 + 0.5)
        |      / 1000000000.0 AS DECIMAL(18,9)) AS mi_term,
        |    CAST(floor(CAST(CAST(nxy * n - nx * ny AS HUGEINT)
        |          * CAST(nxy * n - nx * ny AS HUGEINT) AS DOUBLE)
        |        / CAST(n * nx * ny AS DOUBLE) * 1000000000.0 + 0.5)
        |      / 1000000000.0 AS DECIMAL(18,9)) AS chi_term
        |  FROM t),
        |s AS (SELECT n, r, c,
        |    CAST(SUM(mi_term) AS DOUBLE) AS mi_raw,
        |    CAST(SUM(chi_term) AS DOUBLE) AS chi_raw
        |  FROM tt GROUP BY 1, 2, 3)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(r AS BIGINT) AS r_levels, CAST(c AS BIGINT) AS c_levels,
        |  floor(mi_raw * 1000000.0 + 0.5) / 1000000.0 AS mi,
        |  floor(chi_raw * 1000000.0 + 0.5) / 1000000.0 AS chi2,
        |  floor(sqrt(chi_raw / CAST(n * least(r - 1, c - 1) AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS cramers_v
        |FROM s""".stripMargin))

  // --- Benford first-digit screen ------------------------------------------

  /** Benford's-law first-significant-digit screen over order totals — the
    * classic forensic data-quality test (synthetic or fabricated amounts
    * drift from log-uniform digits). The first digit is extracted with
    * pure INTEGER arithmetic — cents = ⌊100·p + 0.5⌋, then the leading
    * character of the integer's decimal string (both engines print
    * integers identically; no float log10 anywhere). Expected shares are
    * ln(1+1/d)/ln 10 with integer-argument lns, 9dp floored; the emitted
    * χ² = N·Σ(obs−exp)²/exp rides every row of the 9-digit frame.
    *
    * Scale shape: one partial-aggregatable digit count; the rest runs on
    * the 9-row digit domain.
    */
  private val benford = QueryDef(
    fn = (spark, dir) => {
      val digitCounts = Tables.orders(spark, dir)
        .filter(col("o_totalprice") >= 0.005)
        .select(substring(floor(col("o_totalprice") * 100 + 0.5)
          .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val wAll = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val exp = floor((log(col("digit") + 1) - log(col("digit"))) / log(lit(10.0))
        * 1e9 + 0.5) / 1e9
      val t = digitCounts
        .withColumn("n", sum(col("n_obs")).over(wAll))
        .withColumn("exp_frac", exp)
        .withColumn("obs_frac", col("n_obs").cast("double") / col("n").cast("double"))
        .withColumn("term", f9(
          (col("obs_frac") - col("exp_frac")) * (col("obs_frac") - col("exp_frac"))
            / col("exp_frac")))
      t.withColumn("chi2", r6(col("n").cast("double")
          * sum(col("term")).over(wAll).cast("double")))
        .select(col("digit"), col("n_obs"), r6(col("obs_frac")).as("obs_frac"),
          r6(col("exp_frac")).as("exp_frac"), col("chi2"))
        .orderBy("digit")
    },
    oracle = Some(
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice >= 0.005),
        |c AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit),
        |t AS (SELECT digit, n_obs,
        |    SUM(n_obs) OVER () AS n,
        |    floor((ln(digit + 1) - ln(digit)) / ln(10.0) * 1000000000.0 + 0.5)
        |      / 1000000000.0 AS exp_frac,
        |    CAST(n_obs AS DOUBLE) / CAST(SUM(n_obs) OVER () AS DOUBLE) AS obs_frac
        |  FROM c),
        |u AS (SELECT digit, n_obs, n, exp_frac, obs_frac,
        |    CAST(floor((obs_frac - exp_frac) * (obs_frac - exp_frac) / exp_frac
        |        * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(18,9)) AS term
        |  FROM t)
        |SELECT digit, n_obs,
        |  floor(obs_frac * 1000000.0 + 0.5) / 1000000.0 AS obs_frac,
        |  floor(exp_frac * 1000000.0 + 0.5) / 1000000.0 AS exp_frac,
        |  floor(CAST(n AS DOUBLE) * CAST(SUM(term) OVER () AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS chi2
        |FROM u ORDER BY digit""".stripMargin))

  // --- exact EWMA anomaly screen -------------------------------------------

  /** EWMA (α = 1/2) anomaly screen over the daily value total per event
    * type — the recursive smoother eₖ = (Sₖ + eₖ₋₁)/2 made EXACT and
    * window-parallel by de-recursing: Eₖ := 2^(k−1)·eₖ satisfies
    * Eₖ = Eₖ₋₁ + Sₖ·2^(k−2), so the whole series is ONE cumulative sum of
    * integer terms Sₖ·2^(k−2) in DECIMAL(38,0) (α = 1/2 is chosen
    * precisely so the weights are powers of two — no float pow, no libm).
    * A day spikes when |Sₖ − eₖ₋₁| > eₖ₋₁/2, tested in the
    * cross-multiplied integer form 2·|Sₖ·2^(k−2) − Eₖ₋₁| > Eₖ₋₁ — the
    * flag cannot sit on a float boundary. The 2^(k−2) factor bounds the
    * window: 31 days × µ$-quantized totals peaks near 10²³ ≪ 10³⁸; a
    * year-long series would restart the exponent per window.
    *
    * Scale shape: one (type, day) partial-aggregatable rollup; the
    * smoother windows over ≤31-row per-type frames.
    */
  private val ewmaAnomaly = QueryDef(
    fn = (spark, dir) => {
      val daily = Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("vq"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("vq")).as("s"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .withColumn("k", row_number().over(w))
        .withColumn("term",
          when(col("k") === 1, col("s").cast(d380))
            .otherwise(col("s").cast(d380) *
              expr("shiftleft(CAST(1 AS BIGINT), CAST(k - 2 AS INT))").cast(d380)))
        .withColumn("e_big", sum(col("term")).over(cum))
        .withColumn("e_prev", lag(col("e_big"), 1).over(w))
        .withColumn("ewma", col("e_big").cast("double")
          / expr("shiftleft(CAST(1 AS BIGINT), CAST(k - 1 AS INT))").cast("double"))
        .withColumn("spike",
          when(col("k") === 1, lit(false))
            .otherwise(abs(col("term") - col("e_prev")) * 2 > col("e_prev")))
        .select(col("event_type"), col("day"),
          r6(col("s").cast("double") / 1e6).as("day_total"),
          r6(col("ewma") / 1e6).as("ewma"), col("spike"))
        .orderBy("event_type", "day")
    },
    oracle = Some(
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq FROM events),
        |d AS (SELECT event_type, day, SUM(vq) AS s FROM e GROUP BY 1, 2),
        |r AS (SELECT event_type, day, s,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS k
        |  FROM d),
        |t AS (SELECT event_type, day, s, k,
        |    CASE WHEN k = 1 THEN CAST(s AS HUGEINT)
        |         ELSE CAST(s AS HUGEINT) * (CAST(1 AS BIGINT) << (k - 2))
        |    END AS term
        |  FROM r),
        |c0 AS (SELECT event_type, day, s, k, term,
        |    SUM(term) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e_big
        |  FROM t),
        |c AS (SELECT event_type, day, s, k, term, e_big,
        |    lag(e_big) OVER (PARTITION BY event_type ORDER BY day) AS e_prev
        |  FROM c0)
        |SELECT event_type, day,
        |  floor(CAST(s AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS day_total,
        |  floor(CAST(e_big AS DOUBLE) / CAST(CAST(1 AS BIGINT) << (k - 1) AS DOUBLE)
        |    / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS ewma,
        |  CASE WHEN k = 1 THEN FALSE
        |       ELSE abs(term - e_prev) * 2 > e_prev END AS spike
        |FROM c ORDER BY event_type, day""".stripMargin))

  // --- PCA top component via power iteration -------------------------------

  /** Top principal component of the 64-dim embedding corpus — PCA the way
    * a 100 TB engine does it: the DATA-sized work is ONE pass building the
    * exact integer co-moment matrix ([[graft.functions.MomentMatrix]]:
    * 64 coordinate sums + 2080 upper-triangle Σeᵢeⱼ products in a single
    * map-side-combinable Aggregator buffer), and everything after runs on
    * the 64×64 DOMAIN: the driver forms the n-scaled covariance
    * C′ᵢⱼ = n·Mᵢⱼ − sᵢsⱼ in exact BigInt (≈10²² — past long, inside the
    * oracle's HUGEINT), converts each entry to double ONCE (both engines
    * round-to-nearest the same integers), and runs 24 fixed power
    * iterations with SEQUENTIAL left-fold dot products — the same ordered
    * arithmetic the DuckDB twin replays with list_reduce folds, so the
    * loadings hash-match to the last ulp. Sign is canonicalized (the
    * largest-|loading| component is made positive); the eigenvalue is
    * reported in original units (λ′/n²/10¹²) along with the
    * explained-variance ratio λ′/tr(C′).
    *
    * The driver's state is the 2144-long buffer + a 64-vector — domain-
    * bounded (the RobustStats contract), never row-scaled.
    */
  /** Shared PCA plumbing: the one-pass MomentMatrix collect and the exact
    * n-scaled covariance C′ᵢⱼ = n·Mᵢⱼ − sᵢsⱼ as driver doubles (each
    * BigInt entry converted once), plus trace(C′) and n. Used by
    * q_pca_power and q_pca_top2 — identical integers, identical folds. */
  private def pcaBase(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[Array[Double]], Double, Long) = {
    val dim = 64
    val head = Tables.embeddings(spark, dir)
      .agg(graft.functions.MomentMatrix.moments64(col("embedding")).as("m"),
        count(lit(1)).as("n_rows"))
      .collect().head
    val flat = head.getSeq[Long](0).toArray
    val n = head.getLong(1)
    val s = flat.take(dim).map(BigInt(_))
    val M = Array.ofDim[BigInt](dim, dim)
    var k = dim
    for (i <- 0 until dim; j <- i until dim) {
      M(i)(j) = BigInt(flat(k)); M(j)(i) = M(i)(j); k += 1
    }
    val bn = BigInt(n)
    val C = Array.tabulate(dim, dim)((i, j) => (bn * M(i)(j) - s(i) * s(j)).toDouble)
    val trace = (0 until dim).map(i => bn * M(i)(i) - s(i) * s(i)).sum.toDouble
    (C, trace, n)
  }

  /** 24 power iterations with sequential left-fold dot products (the
    * DuckDB list_reduce order) from the all-ones start; returns the
    * normalized vector and its Rayleigh eigenvalue. */
  private def pcaIterate(C: Array[Array[Double]]): (Array[Double], Double) = {
    val dim = C.length
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var a = 0.0; var j = 0
        while (j < dim) { a += C(i)(j) * v(j); j += 1 }
        a
      }
    var v = Array.fill(dim)(1.0)
    for (_ <- 1 to 24) {
      val w = matVec(v)
      var nr = 0.0; w.foreach(x => nr += x * x)
      val sq = math.sqrt(nr)
      v = w.map(_ / sq)
    }
    val w = matVec(v)
    var num = 0.0; var den = 0.0
    for (i <- 0 until dim) { num += v(i) * w(i); den += v(i) * v(i) }
    (v, num / den)
  }

  /** Sign canon: +1 unless the largest-|component| (first on ties) is
    * negative. */
  private def pcaSign(v: Array[Double]): Double = {
    var mx = 0.0; v.foreach(x => mx = math.max(mx, math.abs(x)))
    if (v(v.indexWhere(x => math.abs(x) == mx)) < 0) -1.0 else 1.0
  }

  private def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  private val pcaPower = QueryDef(
    fn = (spark, dir) => {
      val (cMat, trace, n) = pcaBase(spark, dir)
      val (v, lam) = pcaIterate(cMat)
      val sign = pcaSign(v)
      val eigUnit = lam / (n.toDouble * n.toDouble) / 1e12
      import spark.implicits._
      (1 to 64).map(i => (i, r6d(sign * v(i - 1)), r6d(eigUnit),
          r6d(lam / trace), n))
        .toDF("dim", "loading", "eigval", "explained_ratio", "n_rows")
    },
    oracle = Some {
      def fold(terms: String) =
        s"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], $terms), (a, b) -> a + b)"
      def mv(c: String, v: String) =
        s"list_transform(range(1, 65), i -> ${fold(s"list_transform(range(1, 65), j -> $c[i][j] * $v[j])")})"
      val iterCtes = (1 to 24).map { t =>
        s"""w$t AS (SELECT c, ${mv("c", "v")} AS w FROM it${t - 1}),
           |it$t AS (SELECT c, list_transform(w, x ->
           |  x / sqrt(${fold("list_transform(w, y -> y * y)")})) AS v FROM w$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH em AS (SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS e
         |  FROM embeddings),
         |n0 AS (SELECT COUNT(*) AS n FROM em),
         |ii AS (SELECT unnest(range(1, 65)) AS i),
         |jj AS (SELECT unnest(range(1, 65)) AS j),
         |s AS (SELECT i, SUM(e[i]) AS s FROM em, ii GROUP BY i),
         |m AS (SELECT i, j, SUM(e[i] * e[j]) AS m
         |      FROM em, ii, jj WHERE j >= i GROUP BY i, j),
         |cf AS (SELECT ii.i, jj.j,
         |    CAST(n0.n AS HUGEINT) * m.m - CAST(sa.s AS HUGEINT) * sb.s AS cc
         |  FROM ii CROSS JOIN jj
         |  JOIN m ON m.i = least(ii.i, jj.j) AND m.j = greatest(ii.i, jj.j)
         |  JOIN s sa ON sa.i = ii.i JOIN s sb ON sb.i = jj.j
         |  CROSS JOIN n0),
         |tr AS (SELECT SUM(cc) AS tr FROM cf WHERE i = j),
         |crow AS (SELECT i, list(CAST(cc AS DOUBLE) ORDER BY j) AS r FROM cf GROUP BY i),
         |cmat AS (SELECT list(r ORDER BY i) AS c FROM crow),
         |it0 AS (SELECT c, list_transform(range(1, 65), x -> 1.0) AS v FROM cmat),
         |$iterCtes,
         |wf AS (SELECT c, v, ${mv("c", "v")} AS w FROM it24),
         |lm AS (SELECT v,
         |    ${fold("list_transform(range(1, 65), i -> v[i] * w[i])")}
         |      / ${fold("list_transform(range(1, 65), i -> v[i] * v[i])")} AS lam
         |  FROM wf),
         |sg AS (SELECT v, lam,
         |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |      list_transform(v, x -> abs(x))), (a, b) -> greatest(a, b)) AS mx
         |  FROM lm),
         |sg2 AS (SELECT v, lam,
         |    CASE WHEN v[list_filter(range(1, 65), i -> abs(v[i]) = mx)[1]] < 0
         |         THEN -1.0 ELSE 1.0 END AS sgn
         |  FROM sg)
         |SELECT CAST(i AS INTEGER) AS dim,
         |  floor(sgn * v[i] * 1000000.0 + 0.5) / 1000000.0 AS loading,
         |  floor(lam / (CAST(n0.n AS DOUBLE) * CAST(n0.n AS DOUBLE))
         |    / 1000000000000.0 * 1000000.0 + 0.5) / 1000000.0 AS eigval,
         |  floor(lam / CAST(tr.tr AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         |    AS explained_ratio,
         |  n0.n AS n_rows
         |FROM sg2, (SELECT unnest(range(1, 65)) AS i) z, n0, tr
         |ORDER BY dim""".stripMargin
    })

  // --- bitmap-segment exact distinct ---------------------------------------

  /** EXACT distinct count via 63-bit bitmap segments — the roaring-bitmap
    * idea reduced to engine primitives: for a dense integer key domain
    * (supplier keys), each (group, key) row sets bit `key mod 63` of
    * segment `key div 63` (63, not 64: DuckDB's checked `<<` refuses the
    * sign bit, so segments leave it clear on both engines); `bit_or` is the combine (commutative,
    * idempotent — map-side partials are one LONG per live segment), and
    * the distinct count is Σ bit_count(segment). Unlike
    * `countDistinct` (which expands and shuffles every distinct value)
    * the shuffled state is bounded by keyspace/64 longs per group, and
    * unlike HLL it is exact. The exact `countDistinct` is emitted
    * alongside with a verified `match_exact` contract.
    *
    * Scale shape: one (group, segment) bit_or aggregation + one
    * group-domain rollup; at 100 TB the segment frame is
    * |groups|·|keyspace|/63 longs regardless of row count.
    */
  private val bitmapDistinct = QueryDef(
    fn = (spark, dir) => {
      val seg = Tables.lineitem(spark, dir)
        .select(col("l_returnflag"),
          expr("l_suppkey div 63").as("seg"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(l_suppkey % 63 AS INT))").as("b"))
        .groupBy(col("l_returnflag"), col("seg"))
        .agg(bit_or(col("b")).as("bits"))
        .groupBy(col("l_returnflag"))
        .agg(sum(bit_count(col("bits")).cast("long")).as("n_distinct_bitmap"),
          count(lit(1)).as("n_segments"))
      val exact = Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_distinct_exact"))
      seg.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_segments"),
          col("n_distinct_bitmap"), col("n_distinct_exact"),
          (col("n_distinct_bitmap") === col("n_distinct_exact")).as("match_exact"))
        .orderBy("l_returnflag")
    },
    oracle = Some(
      """WITH seg AS (
        |  SELECT l_returnflag, l_suppkey // 63 AS seg,
        |    bit_or(CAST(1 AS BIGINT) << CAST(l_suppkey % 63 AS INTEGER)) AS bits
        |  FROM lineitem GROUP BY 1, 2),
        |bm AS (SELECT l_returnflag,
        |    SUM(CAST(bit_count(bits) AS BIGINT)) AS n_distinct_bitmap,
        |    COUNT(*) AS n_segments
        |  FROM seg GROUP BY 1),
        |ex AS (SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_distinct_exact
        |       FROM lineitem GROUP BY 1)
        |SELECT bm.l_returnflag, bm.n_segments,
        |  CAST(bm.n_distinct_bitmap AS BIGINT) AS n_distinct_bitmap,
        |  ex.n_distinct_exact,
        |  bm.n_distinct_bitmap = ex.n_distinct_exact AS match_exact
        |FROM bm JOIN ex USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin))

  // --- forecast backtest ----------------------------------------------------

  /** Forecast backtest of the two standard baselines every real forecast
    * must beat — naive (tomorrow = today) and seasonal-naive (tomorrow =
    * same weekday last week) — over the daily value totals per event
    * type: MAE in dollars and sMAPE, the scale-free accuracy pair. Exact
    * arithmetic: totals are µ$-quantized longs, each sMAPE term
    * 2|a−f|/(a+f) is a ratio of integers 9dp floor-rounded into
    * DECIMAL(18,9), and MAE divides an exact integer error sum once.
    *
    * Scale shape: one (type, day) rollup; the lag frames and averages run
    * on the ≤31-row per-type daily domain.
    */
  private val forecastEval = QueryDef(
    fn = (spark, dir) => {
      val daily = Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("vq"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("vq")).as("s"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      def eval(method: String, lagN: Int) = daily
        .withColumn("f", lag(col("s"), lagN).over(w))
        .filter(col("f").isNotNull)
        .withColumn("ae", abs(col("s") - col("f")))
        .withColumn("sm", f9(lit(2.0) * col("ae").cast("double")
          / (col("s") + col("f")).cast("double")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          r6(sum(col("ae")).cast("double") / count(lit(1)).cast("double") / 1e6)
            .as("mae"),
          r6(sum(col("sm")).cast("double") / count(lit(1)).cast("double"))
            .as("smape"))
        .select(col("event_type"), lit(method).as("method"),
          col("n_days"), col("mae"), col("smape"))
      eval("naive", 1).unionByName(eval("seasonal_naive", 7))
        .orderBy("event_type", "method")
    },
    oracle = Some {
      def side(method: String, lagN: Int) =
        s"""SELECT event_type, '$method' AS method, COUNT(*) AS n_days,
           |  floor(CAST(SUM(ae) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0
           |    * 1000000.0 + 0.5) / 1000000.0 AS mae,
           |  floor(CAST(SUM(sm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           |    * 1000000.0 + 0.5) / 1000000.0 AS smape
           |FROM (
           |  SELECT event_type, abs(s - f) AS ae,
           |    CAST(floor(2.0 * CAST(abs(s - f) AS DOUBLE) / CAST(s + f AS DOUBLE)
           |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(18,9)) AS sm
           |  FROM (
           |    SELECT event_type, s,
           |      lag(s, $lagN) OVER (PARTITION BY event_type ORDER BY day) AS f
           |    FROM (SELECT event_type, CAST(ts AS DATE) AS day,
           |        SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS s
           |      FROM events GROUP BY 1, 2))
           |  WHERE f IS NOT NULL)
           |GROUP BY event_type""".stripMargin
      s"""${side("naive", 1)}
         |UNION ALL
         |${side("seasonal_naive", 7)}
         |ORDER BY event_type, method""".stripMargin
    })

  // --- A/B power analysis ---------------------------------------------------

  /** Power analysis companion to q_ab_test: from the observed conversion
    * rates, the required per-arm sample size for 80 % power at α = 0.05
    * (two-sided), n = (z_{0.975}+z_{0.80})²·(p₁q₁+p₂q₂)/(p₁−p₂)², and
    * whether the experiment as run is already powered. The z constants
    * ride as shared 6dp literals; everything else is identically-composed
    * double arithmetic over exact integer counts (one user-keyed combine
    * + one global conditional aggregation — the q_ab_test shape).
    */
  private val powerAnalysis = QueryDef(
    fn = (spark, dir) => {
      val isP = col("event_type") === "purchase"
      val perUser = Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"))
        .groupBy(col("user_id"))
        .agg(max(when(isP && col("value") >= 150, 1).otherwise(0)).as("conv"))
        .withColumn("variant", TextAnalysis.hashBucket(col("user_id"), 2))
      def side(v: Int, c: Column) = sum(when(col("variant") === v, c))
      val g = perUser.agg(
        side(0, lit(1L)).as("n_a"), side(1, lit(1L)).as("n_b"),
        side(0, col("conv")).as("conv_a"), side(1, col("conv")).as("conv_b"))
      val p1 = col("conv_a").cast("double") / col("n_a").cast("double")
      val p2 = col("conv_b").cast("double") / col("n_b").cast("double")
      val zsum = lit(1.959964) + lit(0.841621)
      val nReq = ceil(zsum * zsum
        * (p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
        / ((p1 - p2) * (p1 - p2))).cast("long")
      g.select(
        col("n_a"), col("n_b"),
        r6(p1).as("rate_a"), r6(p2).as("rate_b"),
        r6(abs(p1 - p2)).as("observed_diff"),
        nReq.as("n_required_per_arm"),
        (least(col("n_a"), col("n_b")) >= nReq).as("powered"))
    },
    oracle = Some {
      val h = ExtensionQueries.dHash32("CAST(user_id AS VARCHAR)")
      """WITH pu AS (
        |  SELECT user_id, HVAR % 2 AS variant,
        |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |g AS (SELECT
        |    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
        |    SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS conv_a,
        |    SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS conv_b
        |  FROM pu),
        |f AS (SELECT n_a, n_b,
        |    CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p1,
        |    CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p2
        |  FROM g),
        |r AS (SELECT n_a, n_b, p1, p2,
        |    CAST(ceil((1.959964 + 0.841621) * (1.959964 + 0.841621)
        |      * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
        |      / ((p1 - p2) * (p1 - p2))) AS BIGINT) AS n_req
        |  FROM f)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  floor(p1 * 1000000.0 + 0.5) / 1000000.0 AS rate_a,
        |  floor(p2 * 1000000.0 + 0.5) / 1000000.0 AS rate_b,
        |  floor(abs(p1 - p2) * 1000000.0 + 0.5) / 1000000.0 AS observed_diff,
        |  n_req AS n_required_per_arm,
        |  least(n_a, n_b) >= n_req AS powered
        |FROM r""".stripMargin.replace("HVAR", h)
    })

  // --- rolling correlation -------------------------------------------------

  /** 14-day rolling Pearson correlation between the purchase and click
    * daily totals — the metric-pair comovement monitor (decoupling of two
    * KPIs that normally track is an incident signal). All five window
    * sufficient sums run in DECIMAL(38,0) over µ$-quantized longs (a
    * daily-total product tops long — 10²⁶ at sf0.1), the Pearson
    * cross-products stay decimal, and one double composition per day is
    * 6dp floored. Windows are ROWS frames over the ≤31-row day domain;
    * the data-sized stage is the single (day) conditional rollup.
    */
  private val rollingCorr = QueryDef(
    fn = (spark, dir) => {
      val daily = Tables.events(spark, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("vq"))
        .groupBy(col("day"))
        .agg(coalesce(sum(when(col("event_type") === "purchase", col("vq"))), lit(0L)).as("x"),
          coalesce(sum(when(col("event_type") === "click", col("vq"))), lit(0L)).as("y"))
      val w = Window.orderBy(col("day")).rowsBetween(-13, 0)
      def dd(c: Column) = c.cast(d380)
      val t = daily
        .withColumn("m", count(lit(1)).over(w))
        .withColumn("sx", sum(dd(col("x"))).over(w))
        .withColumn("sy", sum(dd(col("y"))).over(w))
        .withColumn("sxy", sum(dd(col("x")) * dd(col("y"))).over(w))
        .withColumn("sxx", sum(dd(col("x")) * dd(col("x"))).over(w))
        .withColumn("syy", sum(dd(col("y")) * dd(col("y"))).over(w))
        .filter(col("m") === 14)
      val num = (dd(col("m")) * col("sxy") - col("sx") * col("sy")).cast("double")
      val dx = (dd(col("m")) * col("sxx") - col("sx") * col("sx")).cast("double")
      val dy = (dd(col("m")) * col("syy") - col("sy") * col("sy")).cast("double")
      t.select(col("day"),
        r6(col("x").cast("double") / 1e6).as("purchase_total"),
        r6(col("y").cast("double") / 1e6).as("click_total"),
        r6(num / sqrt(dx * dy)).as("corr_14d"))
        .orderBy("day")
    },
    oracle = Some(
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq FROM events),
        |d AS (SELECT day,
        |    COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN vq END), 0) AS x,
        |    COALESCE(SUM(CASE WHEN event_type = 'click' THEN vq END), 0) AS y
        |  FROM e GROUP BY day),
        |t AS (SELECT day, x, y,
        |    COUNT(*) OVER wf AS m,
        |    SUM(CAST(x AS HUGEINT)) OVER wf AS sx,
        |    SUM(CAST(y AS HUGEINT)) OVER wf AS sy,
        |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) OVER wf AS sxy,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER wf AS sxx,
        |    SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) OVER wf AS syy
        |  FROM d WINDOW wf AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |f AS (SELECT day, x, y,
        |    CAST(m * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(m * sxx - sx * sx AS DOUBLE) AS dx,
        |    CAST(m * syy - sy * sy AS DOUBLE) AS dy
        |  FROM t WHERE m = 14)
        |SELECT day,
        |  floor(CAST(x AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS purchase_total,
        |  floor(CAST(y AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS click_total,
        |  floor(num / sqrt(dx * dy) * 1000000.0 + 0.5) / 1000000.0 AS corr_14d
        |FROM f ORDER BY day""".stripMargin))

  // --- new vs returning users ----------------------------------------------

  /** Daily new-vs-returning active-user split — the product-analytics
    * staple: a user is NEW on their first-seen day, RETURNING on any
    * later active day. Exact integer counts: one (day, user) distinct,
    * one per-user min, two day-domain rollups.
    */
  private val newVsReturning = QueryDef(
    fn = (spark, dir) => {
      val du = Tables.events(spark, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val firstDay = du.groupBy(col("user_id")).agg(min(col("day")).as("f"))
      val newc = firstDay.groupBy(col("f").as("day")).agg(count(lit(1)).as("n_new"))
      du.groupBy(col("day")).agg(count(lit(1)).as("n_active"))
        .join(newc, Seq("day"), "left")
        .select(col("day"), col("n_active"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          (col("n_active") - coalesce(col("n_new"), lit(0L))).as("n_returning"),
          r6(coalesce(col("n_new"), lit(0L)).cast("double")
            / col("n_active").cast("double")).as("pct_new"))
        .orderBy("day")
    },
    oracle = Some(
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |fd AS (SELECT user_id, MIN(day) AS f FROM du GROUP BY user_id),
        |nc AS (SELECT f AS day, COUNT(*) AS n_new FROM fd GROUP BY f),
        |au AS (SELECT day, COUNT(*) AS n_active FROM du GROUP BY day)
        |SELECT au.day, au.n_active,
        |  COALESCE(nc.n_new, 0) AS n_new,
        |  au.n_active - COALESCE(nc.n_new, 0) AS n_returning,
        |  floor(CAST(COALESCE(nc.n_new, 0) AS DOUBLE) / CAST(au.n_active AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS pct_new
        |FROM au LEFT JOIN nc USING (day) ORDER BY au.day""".stripMargin))

  // --- day-of-week seasonality ---------------------------------------------

  /** Multiplicative day-of-week seasonal index per event type: the mean
    * daily total of each weekday over the overall mean daily total —
    * the decomposition step before any deseasonalized trend or anomaly
    * logic. Weekdays use the Monday-0 convention (`weekday()` /
    * DuckDB `isodow − 1` — identical integers). The index is a ratio of
    * two exact-decimal means composed identically and 6dp floored.
    */
  /** Seasonal strength: what fraction of daily-revenue variance does the
    * day-of-week explain (eta-squared — the q_anova decomposition pointed
    * at the calendar)? The one-number answer to "should this series be
    * deseasonalized before q_changepoint_binseg / q_ewma_anomaly read
    * it". Arithmetic is q_anova's proven engine-portable pattern: exact
    * integer/DECIMAL moments per day-of-week group, identically-composed
    * double divisions, 9dp-floored group terms summed in DECIMAL, 6dp
    * final ratios — no transcendental, no engine-sensitive step. (A pure
    * cross-multiplied integer form was tried first and could not fit:
    * eta-squared's cleared-denominator products exceed DECIMAL(38,0) on
    * cent-scale revenue — the declared-double pattern IS the
    * engine-portable form here.) The grouping key only partitions, so
    * Spark's Monday-0 weekday and any other day-of-week convention give
    * identical results.
    *
    * Scale shape: one groupBy(day) over orders, a 7-row rollup, scalar
    * algebra on the group domain. */
  private val seasonalStrength = QueryDef(
    fn = (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("cents"))
        .withColumn("dow", weekday(col("day")))
      val g = daily.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_i"), sum(col("cents")).as("sv_i"),
          sum(col("cents").cast(d380) * col("cents")).as("sq_i"))
      val tot = g.agg(count(lit(1)).as("k"), sum(col("n_i")).as("n"),
        sum(col("sv_i")).as("sv"))
      val mi = col("sv_i").cast("double") / col("n_i").cast("double")
      val m = col("sv").cast("double") / col("n").cast("double")
      val terms = g.crossJoin(broadcast(tot))
        .select(col("k"), col("n"),
          f9(col("n_i").cast("double") * (mi - m) * (mi - m) / 1e12).as("bt"),
          f9((col("sq_i").cast("double")
            - col("sv_i").cast("double") * col("sv_i").cast("double")
              / col("n_i").cast("double")) / 1e12).as("wt"))
      val s = terms.agg(max(col("k")).as("k"), max(col("n")).as("n"),
        sum(col("bt")).as("ssb"), sum(col("wt")).as("ssw"))
      val ssb = col("ssb").cast("double")
      val ssw = col("ssw").cast("double")
      s.select(col("k"), col("n"),
        r6(ssb / (ssb + ssw)).as("eta2"),
        r6((ssb / (col("k") - 1).cast("double"))
          / (ssw / (col("n") - col("k")).cast("double"))).as("f_stat"))
    },
    oracle = Some(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |d AS (SELECT dayofweek(day) AS dow, cents FROM daily),
        |g AS (SELECT dow, COUNT(*) AS n_i,
        |    CAST(SUM(cents) AS BIGINT) AS sv_i,
        |    CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sq_i
        |  FROM d GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS k, CAST(SUM(n_i) AS BIGINT) AS n,
        |    CAST(SUM(sv_i) AS BIGINT) AS sv FROM g),
        |t AS (SELECT k, n,
        |    CAST(floor(CAST(n_i AS DOUBLE)
        |      * (CAST(sv_i AS DOUBLE) / CAST(n_i AS DOUBLE)
        |         - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sv_i AS DOUBLE) / CAST(n_i AS DOUBLE)
        |         - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000000000.0
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS bt,
        |    CAST(floor((CAST(sq_i AS DOUBLE)
        |      - CAST(sv_i AS DOUBLE) * CAST(sv_i AS DOUBLE)
        |        / CAST(n_i AS DOUBLE)) / 1000000000000.0
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS wt
        |  FROM g CROSS JOIN tot),
        |s AS (SELECT MAX(k) AS k, MAX(n) AS n,
        |    CAST(SUM(bt) AS DECIMAL(38,9)) AS ssb,
        |    CAST(SUM(wt) AS DECIMAL(38,9)) AS ssw FROM t)
        |SELECT CAST(k AS BIGINT) AS k, n,
        |  floor(CAST(ssb AS DOUBLE) / (CAST(ssb AS DOUBLE)
        |    + CAST(ssw AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS eta2,
        |  floor((CAST(ssb AS DOUBLE) / (k - 1))
        |    / (CAST(ssw AS DOUBLE) / (n - k)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS f_stat
        |FROM s""".stripMargin))

  private val seasonalityDow = QueryDef(
    fn = (spark, dir) => {
      val daily = Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("vq"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("vq")).cast(d380).as("s"))
        .withColumn("dow", weekday(col("day")))
      val w = Window.partitionBy(col("event_type"))
      daily
        .withColumn("tot", sum(col("s")).over(w))
        .withColumn("nd", count(lit(1)).over(w))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("s")).as("sd"), max(col("tot")).as("tot"), max(col("nd")).as("nd"))
        .select(col("event_type"), col("dow"), col("n_days"),
          r6(col("sd").cast("double") / col("n_days").cast("double") / 1e6)
            .as("avg_total"),
          r6((col("sd").cast("double") / col("n_days").cast("double"))
            / (col("tot").cast("double") / col("nd").cast("double")))
            .as("seasonal_idx"))
        .orderBy("event_type", "dow")
    },
    oracle = Some(
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq FROM events),
        |d AS (SELECT event_type, day, SUM(vq) AS s FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, day, s, isodow(day) - 1 AS dow,
        |    SUM(s) OVER (PARTITION BY event_type) AS tot,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM d),
        |g AS (SELECT event_type, dow, COUNT(*) AS n_days, SUM(s) AS sd,
        |    MAX(tot) AS tot, MAX(nd) AS nd
        |  FROM t GROUP BY 1, 2)
        |SELECT event_type, CAST(dow AS INTEGER) AS dow, n_days,
        |  floor(CAST(sd AS DOUBLE) / CAST(n_days AS DOUBLE) / 1000000.0
        |    * 1000000.0 + 0.5) / 1000000.0 AS avg_total,
        |  floor((CAST(sd AS DOUBLE) / CAST(n_days AS DOUBLE))
        |      / (CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS seasonal_idx
        |FROM g ORDER BY event_type, dow""".stripMargin))

  // --- top-2 PCA via deflation ---------------------------------------------

  /** Top TWO principal components via Hotelling deflation: after the
    * q_pca_power iteration converges to (λ₁, v₁), the driver deflates
    * C₂ = C′ − λ₁v₁v₁ᵀ (sign-invariant — ±v₁ give the same outer
    * product, so the RAW iterate deflates before sign canon) and runs the
    * same 24 sequential-fold iterations on C₂ — the textbook
    * dimensionality-reduction step, still ONE data pass total (both
    * components come from the same MomentMatrix collect). The oracle
    * replays BOTH chains — 48 iterations plus the deflation as nested
    * list arithmetic — and matches every loading at 6dp.
    */
  private val pcaTop2 = QueryDef(
    fn = (spark, dir) => {
      val (cMat, trace, n) = pcaBase(spark, dir)
      val (v1, lam1) = pcaIterate(cMat)
      val c2 = Array.tabulate(64, 64)((i, j) => cMat(i)(j) - lam1 * v1(i) * v1(j))
      val (v2, lam2) = pcaIterate(c2)
      def rows(comp: Int, v: Array[Double], lam: Double) = {
        val sg = pcaSign(v)
        (1 to 64).map(i => (comp, i, r6d(sg * v(i - 1)),
          r6d(lam / (n.toDouble * n.toDouble) / 1e12), r6d(lam / trace), n))
      }
      import spark.implicits._
      (rows(1, v1, lam1) ++ rows(2, v2, lam2))
        .toDF("component", "dim", "loading", "eigval", "explained_ratio", "n_rows")
    },
    oracle = Some {
      def fold(terms: String) =
        s"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], $terms), (a, b) -> a + b)"
      def mv(c: String, v: String) =
        s"list_transform(range(1, 65), i -> ${fold(s"list_transform(range(1, 65), j -> $c[i][j] * $v[j])")})"
      def iters(tag: String) = (1 to 24).map { t =>
        s"""${tag}w$t AS (SELECT c, ${mv("c", "v")} AS w FROM ${tag}it${t - 1}),
           |${tag}it$t AS (SELECT c, list_transform(w, x ->
           |  x / sqrt(${fold("list_transform(w, y -> y * y)")})) AS v FROM ${tag}w$t)""".stripMargin
      }.mkString(",\n")
      def lamCte(tag: String) =
        s"""${tag}wf AS (SELECT c, v, ${mv("c", "v")} AS w FROM ${tag}it24),
           |${tag}lm AS (SELECT c, v,
           |    ${fold("list_transform(range(1, 65), i -> v[i] * w[i])")}
           |      / ${fold("list_transform(range(1, 65), i -> v[i] * v[i])")} AS lam
           |  FROM ${tag}wf)""".stripMargin
      def sgCte(tag: String) =
        s"""${tag}mx AS (SELECT v, lam,
           |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
           |      list_transform(v, x -> abs(x))), (a, b) -> greatest(a, b)) AS mx
           |  FROM ${tag}lm),
           |${tag}sg AS (SELECT v, lam,
           |    CASE WHEN v[list_filter(range(1, 65), i -> abs(v[i]) = mx)[1]] < 0
           |         THEN -1.0 ELSE 1.0 END AS sgn
           |  FROM ${tag}mx)""".stripMargin
      def outBranch(tag: String, comp: Int) =
        s"""SELECT $comp AS component, CAST(i AS INTEGER) AS dim,
           |  floor(sgn * v[i] * 1000000.0 + 0.5) / 1000000.0 AS loading,
           |  floor(lam / (CAST(n0.n AS DOUBLE) * CAST(n0.n AS DOUBLE))
           |    / 1000000000000.0 * 1000000.0 + 0.5) / 1000000.0 AS eigval,
           |  floor(lam / CAST(tr.tr AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
           |    AS explained_ratio,
           |  n0.n AS n_rows
           |FROM ${tag}sg, (SELECT unnest(range(1, 65)) AS i) z$tag, n0, tr""".stripMargin
      s"""WITH em AS (SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS e
         |  FROM embeddings),
         |n0 AS (SELECT COUNT(*) AS n FROM em),
         |ii AS (SELECT unnest(range(1, 65)) AS i),
         |jj AS (SELECT unnest(range(1, 65)) AS j),
         |s AS (SELECT i, SUM(e[i]) AS s FROM em, ii GROUP BY i),
         |m AS (SELECT i, j, SUM(e[i] * e[j]) AS m
         |      FROM em, ii, jj WHERE j >= i GROUP BY i, j),
         |cf AS (SELECT ii.i, jj.j,
         |    CAST(n0.n AS HUGEINT) * m.m - CAST(sa.s AS HUGEINT) * sb.s AS cc
         |  FROM ii CROSS JOIN jj
         |  JOIN m ON m.i = least(ii.i, jj.j) AND m.j = greatest(ii.i, jj.j)
         |  JOIN s sa ON sa.i = ii.i JOIN s sb ON sb.i = jj.j
         |  CROSS JOIN n0),
         |tr AS (SELECT SUM(cc) AS tr FROM cf WHERE i = j),
         |crow AS (SELECT i, list(CAST(cc AS DOUBLE) ORDER BY j) AS r FROM cf GROUP BY i),
         |cmat AS (SELECT list(r ORDER BY i) AS c FROM crow),
         |ait0 AS (SELECT c, list_transform(range(1, 65), x -> 1.0) AS v FROM cmat),
         |${iters("a")},
         |${lamCte("a")},
         |${sgCte("a")},
         |cm2 AS (SELECT list_transform(range(1, 65), i ->
         |    list_transform(range(1, 65), j -> c[i][j] - lam * v[i] * v[j])) AS c
         |  FROM alm),
         |bit0 AS (SELECT c, list_transform(range(1, 65), x -> 1.0) AS v FROM cm2),
         |${iters("b")},
         |${lamCte("b")},
         |${sgCte("b")}
         |${outBranch("a", 1)}
         |UNION ALL
         |${outBranch("b", 2)}
         |ORDER BY component, dim""".stripMargin
    })

  // --- PCA projection (2D embedding coordinates) ---------------------------

  /** Project every embedding onto the top-2 principal components — the
    * feature-engineering / visualization-coordinates step that completes
    * the PCA pipeline (moments → components → projected features). The
    * components come from the same shared chain as q_pca_top2; the
    * sign-canonical FULL-precision loadings ride into the scan as a
    * 64-double literal array, and each coordinate is one sequential
    * zip_with/aggregate fold over the ×1e6-quantized vector — identical
    * to the oracle's ordered list folds against its own replayed chain.
    * Scale shape: after the one-pass moment collect, the projection is a
    * pure scan-stage expression — no joins, no shuffles, 100 TB-safe.
    */
  private val pcaProject = QueryDef(
    fn = (spark, dir) => {
      val (cMat, _, _) = pcaBase(spark, dir)
      val (v1r, lam1) = pcaIterate(cMat)
      val c2 = Array.tabulate(64, 64)((i, j) => cMat(i)(j) - lam1 * v1r(i) * v1r(j))
      val (v2r, _) = pcaIterate(c2)
      val (s1, s2) = (pcaSign(v1r), pcaSign(v2r))
      val l1 = typedLit(v1r.map(_ * s1).toSeq)
      val l2 = typedLit(v2r.map(_ * s2).toSeq)
      def proj(l: Column) = aggregate(
        zip_with(
          transform(col("embedding"),
            x => floor(x.cast("double") * 1e6 + 0.5) / 1e6),
          l, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"),
          r6(proj(l1)).as("pc1"), r6(proj(l2)).as("pc2"))
        .orderBy("vec_id")
    },
    oracle = Some {
      def fold(terms: String) =
        s"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], $terms), (a, b) -> a + b)"
      def mv(c: String, v: String) =
        s"list_transform(range(1, 65), i -> ${fold(s"list_transform(range(1, 65), j -> $c[i][j] * $v[j])")})"
      def iters(tag: String) = (1 to 24).map { t =>
        s"""${tag}w$t AS (SELECT c, ${mv("c", "v")} AS w FROM ${tag}it${t - 1}),
           |${tag}it$t AS (SELECT c, list_transform(w, x ->
           |  x / sqrt(${fold("list_transform(w, y -> y * y)")})) AS v FROM ${tag}w$t)""".stripMargin
      }.mkString(",\n")
      def lamCte(tag: String) =
        s"""${tag}wf AS (SELECT c, v, ${mv("c", "v")} AS w FROM ${tag}it24),
           |${tag}lm AS (SELECT c, v,
           |    ${fold("list_transform(range(1, 65), i -> v[i] * w[i])")}
           |      / ${fold("list_transform(range(1, 65), i -> v[i] * v[i])")} AS lam
           |  FROM ${tag}wf)""".stripMargin
      def sgCte(tag: String) =
        s"""${tag}mx AS (SELECT v, lam,
           |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
           |      list_transform(v, x -> abs(x))), (a, b) -> greatest(a, b)) AS mx
           |  FROM ${tag}lm),
           |${tag}sg AS (SELECT
           |    list_transform(v, x -> x *
           |      CASE WHEN v[list_filter(range(1, 65), i -> abs(v[i]) = mx)[1]] < 0
           |           THEN -1.0 ELSE 1.0 END) AS l
           |  FROM ${tag}mx)""".stripMargin
      s"""WITH em AS (SELECT list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS e
         |  FROM embeddings),
         |em2 AS (SELECT vec_id, label, list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS e
         |  FROM embeddings),
         |n0 AS (SELECT COUNT(*) AS n FROM em),
         |ii AS (SELECT unnest(range(1, 65)) AS i),
         |jj AS (SELECT unnest(range(1, 65)) AS j),
         |s AS (SELECT i, SUM(e[i]) AS s FROM em, ii GROUP BY i),
         |m AS (SELECT i, j, SUM(e[i] * e[j]) AS m
         |      FROM em, ii, jj WHERE j >= i GROUP BY i, j),
         |cf AS (SELECT ii.i, jj.j,
         |    CAST(n0.n AS HUGEINT) * m.m - CAST(sa.s AS HUGEINT) * sb.s AS cc
         |  FROM ii CROSS JOIN jj
         |  JOIN m ON m.i = least(ii.i, jj.j) AND m.j = greatest(ii.i, jj.j)
         |  JOIN s sa ON sa.i = ii.i JOIN s sb ON sb.i = jj.j
         |  CROSS JOIN n0),
         |crow AS (SELECT i, list(CAST(cc AS DOUBLE) ORDER BY j) AS r FROM cf GROUP BY i),
         |cmat AS (SELECT list(r ORDER BY i) AS c FROM crow),
         |ait0 AS (SELECT c, list_transform(range(1, 65), x -> 1.0) AS v FROM cmat),
         |${iters("a")},
         |${lamCte("a")},
         |${sgCte("a")},
         |cm2 AS (SELECT list_transform(range(1, 65), i ->
         |    list_transform(range(1, 65), j -> c[i][j] - lam * v[i] * v[j])) AS c
         |  FROM alm),
         |bit0 AS (SELECT c, list_transform(range(1, 65), x -> 1.0) AS v FROM cm2),
         |${iters("b")},
         |${lamCte("b")},
         |${sgCte("b")}
         |SELECT em2.vec_id, em2.label,
         |  floor(${fold("list_transform(range(1, 65), i -> (CAST(e[i] AS DOUBLE) / 1000000.0) * asg.l[i])")}
         |    * 1000000.0 + 0.5) / 1000000.0 AS pc1,
         |  floor(${fold("list_transform(range(1, 65), i -> (CAST(e[i] AS DOUBLE) / 1000000.0) * bsg.l[i])")}
         |    * 1000000.0 + 0.5) / 1000000.0 AS pc2
         |FROM em2, asg, bsg ORDER BY vec_id""".stripMargin
    })

  // --- seasonal decomposition (STL-lite) -----------------------------------

  /** Classical additive decomposition of the daily series per event type:
    * trend = centered 7-day moving average, seasonal = per-weekday mean
    * of the detrended series CENTERED to zero day-weighted mean (the
    * textbook normalization — its offset collapses to the exact integer
    * ratio Σdetr/D), residual = the rest — the STL-lite step
    * behind every "is this drop seasonality or an incident" question.
    *
    * Exactness trick: the detrended value is kept as the INTEGER
    * 7·Sᵈ − Σ₇S (multiplying through by the window width — the CUSUM
    * D-scaling idea), so the per-weekday seasonal means are sums of
    * exact longs (order-free) and every emitted double is one fixed
    * composition, 6dp floored. Only full 7-day windows decompose (the
    * first/last 3 days have no centered trend). All windows run on the
    * ≤31-row per-type daily domain.
    */
  private val seasonalDecompose = QueryDef(
    fn = (spark, dir) => {
      val daily = Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("vq"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("vq")).as("s"))
      val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-3, 3)
      val t = daily
        .withColumn("m7", count(lit(1)).over(w7))
        .withColumn("sum7", sum(col("s")).over(w7))
        .filter(col("m7") === 7)
        .withColumn("detr", col("s") * 7 - col("sum7"))
        .withColumn("dow", weekday(col("day")))
      val seas0 = t.groupBy(col("event_type"), col("dow"))
        .agg(sum(col("detr")).as("sd"), count(lit(1)).as("nd"))
      val wt = Window.partitionBy(col("event_type"))
      // textbook centering: subtract the day-weighted seasonal mean, which
      // collapses to the EXACT integer ratio (Σ detr)/D — so the centered
      // component really does average to zero over the decomposed days
      val seas = seas0
        .withColumn("td", sum(col("sd")).over(wt))
        .withColumn("dd", sum(col("nd")).over(wt))
      val seasExpr = (col("sd").cast("double") / col("nd").cast("double")
        - col("td").cast("double") / col("dd").cast("double")) / 7.0 / 1e6
      t.join(seas, Seq("event_type", "dow"))
        .select(col("event_type"), col("day"),
          r6(col("s").cast("double") / 1e6).as("day_total"),
          r6(col("sum7").cast("double") / 7.0 / 1e6).as("trend"),
          r6(seasExpr).as("seasonal"),
          r6(col("detr").cast("double") / 7.0 / 1e6 - seasExpr).as("residual"))
        .orderBy("event_type", "day")
    },
    oracle = Some(
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq FROM events),
        |d AS (SELECT event_type, day, SUM(vq) AS s FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, day, s,
        |    COUNT(*) OVER w7 AS m7, SUM(s) OVER w7 AS sum7
        |  FROM d WINDOW w7 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |f AS (SELECT event_type, day, s, sum7, s * 7 - sum7 AS detr,
        |    isodow(day) - 1 AS dow
        |  FROM t WHERE m7 = 7),
        |seas0 AS (SELECT event_type, dow, SUM(detr) AS sd, COUNT(*) AS nd
        |  FROM f GROUP BY 1, 2),
        |seas AS (SELECT event_type, dow, sd, nd,
        |    SUM(sd) OVER (PARTITION BY event_type) AS td,
        |    SUM(nd) OVER (PARTITION BY event_type) AS dd
        |  FROM seas0)
        |SELECT f.event_type, f.day,
        |  floor(CAST(f.s AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0
        |    AS day_total,
        |  floor(CAST(f.sum7 AS DOUBLE) / 7.0 / 1000000.0 * 1000000.0 + 0.5)
        |    / 1000000.0 AS trend,
        |  floor((CAST(seas.sd AS DOUBLE) / CAST(seas.nd AS DOUBLE)
        |      - CAST(seas.td AS DOUBLE) / CAST(seas.dd AS DOUBLE)) / 7.0 / 1000000.0
        |    * 1000000.0 + 0.5) / 1000000.0 AS seasonal,
        |  floor((CAST(f.detr AS DOUBLE) / 7.0 / 1000000.0
        |      - (CAST(seas.sd AS DOUBLE) / CAST(seas.nd AS DOUBLE)
        |         - CAST(seas.td AS DOUBLE) / CAST(seas.dd AS DOUBLE)) / 7.0 / 1000000.0)
        |    * 1000000.0 + 0.5) / 1000000.0 AS residual
        |FROM f JOIN seas USING (event_type, dow)
        |ORDER BY f.event_type, f.day""".stripMargin))

  // --- Holt double-exponential smoothing ------------------------------------

  /** Holt's linear-trend smoother over the daily purchase-revenue series
    * (α = 0.2, β = 0.1): the level/trend recursion
    * fitted_t = l_{t−1} + b_{t−1};  l_t = α·y_t + (1−α)·fitted_t;
    * b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}, seeded l₂ = y₂,
    * b₂ = y₂ − y₁ — the one-step-ahead forecaster whose naive/seasonal
    * cousins q_forecast_eval scores. A COUPLED two-state recursion has no
    * window de-recursion (q_ewma_anomaly's power-of-two trick needs a
    * single dyadic state), so the series is folded SEQUENTIALLY: Spark
    * runs `aggregate` over the array_sort-collected day array; DuckDB
    * replays the identical fold as a recursive CTE. Every step is IEEE
    * + and × composed in the same written order with the same literals,
    * so the doubles are bit-identical across engines (the correctly-
    * rounded-ops class — no transcendental anywhere), and the 6dp floor
    * pin is safe.
    *
    * Scale shape: the fact scan collapses to the daily grid in one
    * partial-aggregatable shuffle; the fold runs over the
    * calendar-bounded grid array (~120 elements — O(days), not O(rows))
    * in a single task, exactly like the driver loop of a production
    * forecaster. Inputs y are exact µ$-quantized longs widened to
    * double (< 2⁵³, exact).
    */
  private val holtLinear = QueryDef(
    fn = (spark, dir) => {
      val daily = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(to_date(col("ts")).as("day"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("vq"))
        .groupBy(col("day")).agg(sum(col("vq")).as("s"))
        .select(col("day"), (col("s").cast("double") / 1e6).as("y"))
      daily.agg(array_sort(collect_list(struct(col("day"), col("y"))))
          .as("pts"))
        .select(explode(expr(
          """aggregate(
            |  slice(pts, 3, size(pts) - 2),
            |  named_struct(
            |    'l', CAST(element_at(pts, 2).y AS DOUBLE),
            |    'b', CAST(element_at(pts, 2).y - element_at(pts, 1).y
            |              AS DOUBLE),
            |    'rows', CAST(array()
            |      AS ARRAY<STRUCT<day: DATE, y: DOUBLE, fitted: DOUBLE>>)),
            |  (acc, p) -> named_struct(
            |    'l', 0.2D * p.y + 0.8D * (acc.l + acc.b),
            |    'b', 0.1D * ((0.2D * p.y + 0.8D * (acc.l + acc.b)) - acc.l)
            |         + 0.9D * acc.b,
            |    'rows', concat(acc.rows, array(named_struct(
            |      'day', p.day, 'y', p.y, 'fitted', acc.l + acc.b)))),
            |  acc -> acc.rows)""".stripMargin)).as("r"))
        .select(col("r.day").as("day"), col("r.y").as("y"),
          (floor(col("r.fitted") * 1e6 + 0.5) / 1e6).as("fitted"),
          (floor((col("r.y") - col("r.fitted")) * 1e6 + 0.5) / 1e6)
            .as("resid"))
        .orderBy("day")
    },
    oracle = Some(
      """WITH RECURSIVE daily AS (SELECT CAST(ts AS DATE) AS day,
        |    SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS s
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |idx AS (SELECT day, CAST(s AS DOUBLE) / 1000000.0 AS y,
        |    row_number() OVER (ORDER BY day) AS i
        |  FROM daily),
        |rec AS (
        |  SELECT 2 AS i, CAST(NULL AS DATE) AS day, CAST(NULL AS DOUBLE) AS y,
        |    CAST(NULL AS DOUBLE) AS fitted,
        |    (SELECT y FROM idx WHERE i = 2) AS l,
        |    (SELECT y FROM idx WHERE i = 2) - (SELECT y FROM idx WHERE i = 1)
        |      AS b
        |  UNION ALL
        |  SELECT x.i, x.day, x.y,
        |    r.l + r.b,
        |    0.2 * x.y + 0.8 * (r.l + r.b),
        |    0.1 * ((0.2 * x.y + 0.8 * (r.l + r.b)) - r.l) + 0.9 * r.b
        |  FROM rec r JOIN idx x ON x.i = r.i + 1)
        |SELECT day, y,
        |  floor(fitted * 1000000.0 + 0.5) / 1000000.0 AS fitted,
        |  floor((y - fitted) * 1000000.0 + 0.5) / 1000000.0 AS resid
        |FROM rec WHERE i >= 3 ORDER BY day""".stripMargin))

  /** Holt-Winters additive triple-exponential smoothing (α = 0.2, β = 0.1,
    * γ = 0.3, period m = 7) over the same daily purchase-revenue series as
    * [[holtLinear]] — level + trend + a 7-slot seasonal ring:
    * fitted_t = l + b + s₁;  l' = α(y_t − s₁) + (1−α)(l + b);
    * b' = β(l' − l) + (1−β)b;  s' = γ(y_t − (l + b)) + (1−γ)s₁, the ring
    * then rotates (drop s₁, append s'). Seeds from the first two weeks:
    * l₀ = mean(y₁..y₇), b₀ = (mean(y₈..y₁₄) − mean(y₁..y₇))/7,
    * sᵢ = yᵢ − l₀ — the classical two-period initialization. Emits
    * t ≥ 8. Same engine-portability argument as [[holtLinear]]: every
    * step is IEEE +, −, ×, ÷ composed in the same written order with the
    * same literals on both engines (the seed means are explicit 7-term
    * left-associated sums, NOT an engine-ordered SUM()), so the doubles
    * are bit-identical and the 6dp floor pin is safe.
    *
    * Scale shape: identical to [[holtLinear]] — one partial-aggregatable
    * shuffle collapses the fact scan to the ≤O(days) grid; the
    * three-state fold (two scalars + the m-slot ring) runs over the
    * collected grid array in a single task.
    */
  private val holtWinters = QueryDef(
    fn = (spark, dir) => {
      // explicit left-associated 7-term sums so the fold order is pinned
      def sum7(off: Int) = (1 to 7)
        .map(i => s"element_at(pts, ${off + i}).y").mkString(" + ")
      val l0 = s"((${sum7(0)}) / 7.0D)"
      val m2 = s"((${sum7(7)}) / 7.0D)"
      val seas = (1 to 7)
        .map(i => s"CAST(element_at(pts, $i).y - $l0 AS DOUBLE)")
        .mkString(", ")
      val newl = "0.2D * (p.y - element_at(acc.s, 1)) + 0.8D * (acc.l + acc.b)"
      val news = "0.3D * (p.y - (acc.l + acc.b)) + 0.7D * element_at(acc.s, 1)"
      val daily = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(to_date(col("ts")).as("day"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("vq"))
        .groupBy(col("day")).agg(sum(col("vq")).as("s"))
        .select(col("day"), (col("s").cast("double") / 1e6).as("y"))
      daily.agg(array_sort(collect_list(struct(col("day"), col("y"))))
          .as("pts"))
        .select(explode(expr(
          s"""aggregate(
             |  slice(pts, 8, size(pts) - 7),
             |  named_struct(
             |    'l', CAST($l0 AS DOUBLE),
             |    'b', CAST(($m2 - $l0) / 7.0D AS DOUBLE),
             |    's', array($seas),
             |    'rows', CAST(array()
             |      AS ARRAY<STRUCT<day: DATE, y: DOUBLE, fitted: DOUBLE>>)),
             |  (acc, p) -> named_struct(
             |    'l', $newl,
             |    'b', 0.1D * (($newl) - acc.l) + 0.9D * acc.b,
             |    's', concat(slice(acc.s, 2, 6), array($news)),
             |    'rows', concat(acc.rows, array(named_struct(
             |      'day', p.day, 'y', p.y,
             |      'fitted', acc.l + acc.b + element_at(acc.s, 1))))),
             |  acc -> acc.rows)""".stripMargin)).as("r"))
        .select(col("r.day").as("day"), col("r.y").as("y"),
          (floor(col("r.fitted") * 1e6 + 0.5) / 1e6).as("fitted"),
          (floor((col("r.y") - col("r.fitted")) * 1e6 + 0.5) / 1e6)
            .as("resid"))
        .orderBy("day")
    },
    oracle = Some {
      def sum7(off: Int) = (1 to 7)
        .map(i => s"ys[${off + i}]").mkString(" + ")
      val l0 = s"((${sum7(0)}) / 7.0)"
      val m2 = s"((${sum7(7)}) / 7.0)"
      val seas = (1 to 7).map(i => s"ys[$i] - $l0").mkString(", ")
      val newl = "0.2 * (x.y - r.s[1]) + 0.8 * (r.l + r.b)"
      val news = "0.3 * (x.y - (r.l + r.b)) + 0.7 * r.s[1]"
      s"""WITH RECURSIVE daily AS (SELECT CAST(ts AS DATE) AS day,
         |    SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS s
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
         |idx AS (SELECT day, CAST(s AS DOUBLE) / 1000000.0 AS y,
         |    row_number() OVER (ORDER BY day) AS i
         |  FROM daily),
         |lst AS (SELECT list(y ORDER BY day) AS ys FROM idx),
         |rec AS (
         |  SELECT 7 AS i, CAST(NULL AS DATE) AS day, CAST(NULL AS DOUBLE) AS y,
         |    CAST(NULL AS DOUBLE) AS fitted,
         |    $l0 AS l,
         |    ($m2 - $l0) / 7.0 AS b,
         |    [$seas] AS s
         |  FROM lst
         |  UNION ALL
         |  SELECT x.i, x.day, x.y,
         |    r.l + r.b + r.s[1],
         |    $newl,
         |    0.1 * (($newl) - r.l) + 0.9 * r.b,
         |    list_append(r.s[2:7], $news)
         |  FROM rec r JOIN idx x ON x.i = r.i + 1)
         |SELECT day, y,
         |  floor(fitted * 1000000.0 + 0.5) / 1000000.0 AS fitted,
         |  floor((y - fitted) * 1000000.0 + 0.5) / 1000000.0 AS resid
         |FROM rec WHERE i >= 8 ORDER BY day""".stripMargin
    })

  val defs: Map[String, QueryDef] = Map(
    "q_holt_linear" -> holtLinear,
    "q_holt_winters" -> holtWinters,
    "q_seasonal_decompose" -> seasonalDecompose,
    "q_pca_top2" -> pcaTop2,
    "q_emb_pca_project" -> pcaProject,
    "q_new_vs_returning" -> newVsReturning,
    "q_seasonality_dow" -> seasonalityDow,
    "q_seasonal_strength" -> seasonalStrength,
    "q_rolling_corr" -> rollingCorr,
    "q_forecast_eval" -> forecastEval,
    "q_power_analysis" -> powerAnalysis,
    "q_ab_test" -> abTest,
    "q_ab_srm" -> abSrm,
    "q_changepoint_binseg" -> changepointBinseg,
    "q_cusum_changepoint" -> cusumChangepoint,
    "q_survival_km" -> survivalKm,
    "q_key_skew" -> keySkew,
    "q_psi_drift" -> psiDrift,
    "q_mutual_info" -> mutualInfo,
    "q_benford" -> benford,
    "q_ewma_anomaly" -> ewmaAnomaly,
    "q_pca_power" -> pcaPower,
    "q_bitmap_distinct" -> bitmapDistinct)
}
