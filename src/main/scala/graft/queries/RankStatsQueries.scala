package graft.queries

import graft.QueryDef
import graft.ops.SessionCache.MemoOps
import graft.ops.{Tables, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-10 nonparametric / rank-statistics family: the distribution-level
  * significance tests a data platform reaches for when normality can't be
  * assumed — two-sample Kolmogorov-Smirnov, Mann-Whitney U, Spearman rank
  * correlation, and the Theil-Sen robust trend estimator.
  *
  * The shared scale stance: every statistic here is a RANK statistic, and
  * the naive formulation ranks individual rows (a global sort — the one
  * thing that cannot survive 100 TB). Instead each query reduces the data
  * to per-value counts over a BOUNDED value domain first (one
  * partial-aggregatable groupBy over the fact table), then derives exact
  * average ranks / ECDFs from running sums over that tiny domain grid
  * (≤ a few hundred rows — the only unpartitioned window in any plan
  * here runs on the grid, never on fact rows). Ties are handled exactly:
  * average ranks are kept as the INTEGER 2·rank (2·avg_rank = 2·preceding
  * + ties + 1), so every sufficient statistic is integer/DECIMAL(38,0)
  * and both engines see identical values; z/rho compositions then run on
  * doubles cast from those exact integers in the same order (house
  * numeric discipline — see StatsQueries), emitted 6dp floor-rounded.
  */
object RankStatsQueries {

  private def r6(c: Column): Column = TextAnalysis.round6(c)
  private val d380 = DecimalType(38, 0)

  // --- two-sample Kolmogorov-Smirnov ---------------------------------------

  /** Binned two-sample KS test: do high-priority orders ('1-URGENT' /
    * '2-HIGH') have a different total-price distribution than the rest?
    * Prices are quantized to $1000 bins (the binned KS statistic IS the
    * exact KS statistic of the quantized variable — the quantization is
    * part of the declared statistic, not an approximation of the
    * continuous one), so the ECDF grid is bounded (~500 bins) regardless
    * of row count. D = max over the grid of |F_a − F_b| computed in the
    * cross-multiplied integer form |cum_a·n_b − cum_b·n_a| (exact in
    * DECIMAL(38,0); cum·n overflows long at warehouse scale). Rejection
    * at alpha = 0.05 against c(alpha)·sqrt((n_a+n_b)/(n_a·n_b)),
    * c = 1.358, is decided by squaring both sides: D > crit ⟺
    * d_num²·10⁶ > 1843764·(n_a+n_b)·n_a·n_b — pure integer arithmetic.
    * ALL emitted statistics are integer/DECIMAL (ks_d_e6 = ⌊D·10⁶⌋ via
    * integral division, ks_crit2_e12 = ⌊crit²·10¹²⌋): no double exists
    * anywhere in the plan, so no engine-build-sensitive rounding can
    * flip a digit (round-11 driver-red root cause). Exact while
    * d_num²·10⁶ fits DECIMAL(38,0), i.e. n_a·n_b ≤ ~3·10¹⁵ (~10⁸ rows
    * worst-case; far more for any real D ≪ 1).
    *
    * Scale shape: one partial-aggregatable groupBy(bin) over orders, then
    * running sums on the ≤500-row grid (the only unpartitioned window),
    * then a single-row global max. No row-level sort anywhere.
    */
  private val ksTest = QueryDef(
    fn = (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(floor(col("o_totalprice") / 1000.0).cast("long").as("bin"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("ga"))
      val g = o.groupBy(col("bin"))
        .agg(sum(col("ga")).as("ca"), sum(lit(1L) - col("ga")).as("cb"))
      val wRun = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val c = g
        .withColumn("cuma", sum(col("ca")).over(wRun))
        .withColumn("cumb", sum(col("cb")).over(wRun))
        .withColumn("na", sum(col("ca")).over(wAll))
        .withColumn("nb", sum(col("cb")).over(wAll))
        .withColumn("dn", abs(col("cuma").cast(d380) * col("nb")
          - col("cumb").cast(d380) * col("na")))
      val s = c.agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("dn")).as("d_num"))
      val na = col("n_a").cast(d380)
      val nb = col("n_b").cast(d380)
      // d_num is DECIMAL(38,0) internally; emitted as its exact integer
      // STRING — the driver's hash gate cannot faithfully hash top-level
      // DECIMAL columns (round-12 root cause; see tools/check.py lint).
      s.select(col("n_a"), col("n_b"),
        col("d_num").cast("string").as("d_num"),
        expr("(d_num * CAST(1000000 AS DECIMAL(38,0)))" +
          " div (CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0)))")
          .as("ks_d_e6"),
        expr("(CAST(1843764 AS DECIMAL(38,0))" +
          " * (CAST(n_a AS DECIMAL(38,0)) + CAST(n_b AS DECIMAL(38,0)))" +
          " * CAST(1000000 AS DECIMAL(38,0)))" +
          " div (CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0)))")
          .as("ks_crit2_e12"),
        (col("d_num") * col("d_num") * lit(1000000L) >
          lit(1843764L).cast(d380) * (na + nb) * na * nb).as("reject"))
    },
    oracle = Some(
      """WITH b AS (SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bin,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS ga
        |  FROM orders),
        |g AS (SELECT bin, SUM(ga) AS ca, SUM(1 - ga) AS cb FROM b GROUP BY 1),
        |c AS (SELECT bin, ca, cb,
        |    SUM(ca) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    SUM(cb) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
        |  FROM g),
        |d AS (SELECT na, nb,
        |    abs(CAST(cuma AS DECIMAL(38,0)) * nb
        |      - CAST(cumb AS DECIMAL(38,0)) * na) AS dn
        |  FROM c),
        |s AS (SELECT MAX(na) AS n_a, MAX(nb) AS n_b, MAX(dn) AS d_num FROM d)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(CAST(d_num AS DECIMAL(38,0)) AS VARCHAR) AS d_num,
        |  CAST((CAST(d_num AS HUGEINT) * 1000000)
        |    // (CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)) AS BIGINT)
        |    AS ks_d_e6,
        |  CAST((CAST(1843764 AS HUGEINT)
        |      * (CAST(n_a AS HUGEINT) + CAST(n_b AS HUGEINT)) * 1000000)
        |    // (CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)) AS BIGINT)
        |    AS ks_crit2_e12,
        |  CAST(d_num AS HUGEINT) * CAST(d_num AS HUGEINT) * 1000000
        |    > CAST(1843764 AS HUGEINT) * (CAST(n_a AS HUGEINT)
        |        + CAST(n_b AS HUGEINT))
        |      * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS reject
        |FROM s""".stripMargin))

  // --- Mann-Whitney U ------------------------------------------------------

  /** Mann-Whitney U (Wilcoxon rank-sum) test: do open ('O') and finished
    * ('F') line items differ in quantity distribution? Quantity is a
    * bounded integer domain (1..50), so exact tie-averaged ranks come
    * from the per-value count grid: for a value with p rows preceding it
    * and t rows tied at it, 2·avg_rank = 2p + t + 1 (integer — no .5
    * ranks ever materialize). The rank sum R_a, U statistic, and the
    * tie-corrected normal approximation
    * z = (U − n_a·n_b/2) / sqrt(n_a·n_b/12·((n+1) − Σ(t³−t)/(n(n−1))))
    * all derive from DECIMAL(38,0) sufficient statistics (t³ overflows
    * long at warehouse scale).
    *
    * Numeric discipline: z itself needs a sqrt, so the SQUARE is emitted
    * instead — z2_e4 = sign(num)·⌊z²·10⁴⌋ with
    * z² = num²·3·n·(n−1) / (n_a·n_b·M), M = n(n−1)(n+1) − Σ(t³−t),
    * num = u2 − n_a·n_b — pure DECIMAL(38,0) integral arithmetic, and
    * significance at α=0.05 by the cross-multiplied integer comparison
    * num²·3n(n−1)·10⁴ > 38416·n_a·n_b·M (1.96² = 3.8416). No double
    * exists anywhere in the plan (round-11 driver-red root cause: a
    * floored double through sqrt whose last ulp differed between DuckDB
    * builds). Exact while num²·3·10⁴·n² fits DECIMAL(38,0) — always for
    * balanced real data (num ~ √varU), worst-case to n ≈ 10⁷ rows.
    *
    * Scale shape: one groupBy(quantity) over lineitem; every window runs
    * on the ≤50-row grid. Emitted u2 = 2·U_a stays exact DECIMAL.
    */
  private val mannWhitney = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(floor(col("l_quantity") + 0.5).cast("long").as("q"),
          when(col("l_linestatus") === "O", 1L).otherwise(0L).as("ga"))
      val g = li.groupBy(col("q"))
        .agg(sum(col("ga")).as("ca"), sum(lit(1L) - col("ga")).as("cb"))
        .withColumn("t", col("ca") + col("cb"))
      val wPrev = Window.orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val c = g.withColumn("p", coalesce(sum(col("t")).over(wPrev), lit(0L)))
        // 2 x tie-averaged rank of every row at this value, as an integer
        .withColumn("r2", lit(2L) * col("p") + col("t") + lit(1L))
      val s = c.agg(
        sum(col("ca")).cast(d380).as("n_a"),
        sum(col("cb")).cast(d380).as("n_b"),
        sum(col("ca").cast(d380) * col("r2")).as("r2a"),
        sum(col("t").cast(d380) * col("t") * col("t") - col("t")).as("ties"))
      // num, T, A2 are exact DECIMAL(38,0); z2_e4 and sig never touch a
      // double (see the numeric-discipline note above)
      s.withColumn("u2", col("r2a") - col("n_a") * (col("n_a") + 1))
        .withColumn("num", col("u2") - col("n_a") * col("n_b"))
        .withColumn("n", col("n_a") + col("n_b"))
        .withColumn("m",
          col("n") * (col("n") - 1) * (col("n") + 1) - col("ties"))
        .withColumn("t_num",
          col("num") * col("num") * lit(30000L) * col("n") * (col("n") - 1))
        .withColumn("a2", col("n_a") * col("n_b") * col("m"))
        .select(col("n_a").cast("long").as("n_a"),
          col("n_b").cast("long").as("n_b"),
          // u2 is DECIMAL(38,0) internally; emitted as its exact integer
          // STRING (driver hash gate cannot hash top-level DECIMALs —
          // round-12 root cause; see tools/check.py lint).
          col("u2").cast("string").as("u2"),
          (when(col("num") < 0, -1L).otherwise(1L)
            * expr("t_num div a2")).as("z2_e4"),
          (col("t_num") > lit(38416L).cast(d380) * col("a2")).as("sig"))
    },
    oracle = Some(
      """WITH b AS (SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
        |    CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS ga
        |  FROM lineitem),
        |g AS (SELECT q, SUM(ga) AS ca, SUM(1 - ga) AS cb, COUNT(*) AS t
        |  FROM b GROUP BY 1),
        |c AS (SELECT q, ca, cb, t,
        |    COALESCE(SUM(t) OVER (ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
        |  FROM g),
        |s AS (SELECT
        |    CAST(SUM(ca) AS DECIMAL(38,0)) AS n_a,
        |    CAST(SUM(cb) AS DECIMAL(38,0)) AS n_b,
        |    SUM(CAST(ca AS DECIMAL(38,0)) * (2 * p + t + 1)) AS r2a,
        |    SUM(CAST(t AS DECIMAL(38,0)) * t * t - t) AS ties
        |  FROM c),
        |x AS (SELECT
        |    CAST(n_a AS HUGEINT) AS n_a, CAST(n_b AS HUGEINT) AS n_b,
        |    CAST(r2a - n_a * (n_a + 1) AS HUGEINT) AS u2,
        |    CAST(r2a - n_a * (n_a + 1) - n_a * n_b AS HUGEINT) AS num,
        |    CAST(n_a + n_b AS HUGEINT) AS n, CAST(ties AS HUGEINT) AS ties
        |  FROM s),
        |y AS (SELECT n_a, n_b, u2, num,
        |    num * num * 30000 * n * (n - 1) AS t_num,
        |    n_a * n_b * (n * (n - 1) * (n + 1) - ties) AS a2
        |  FROM x)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(CAST(u2 AS DECIMAL(38,0)) AS VARCHAR) AS u2,
        |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) * (t_num // a2)
        |    AS BIGINT) AS z2_e4,
        |  t_num > 38416 * a2 AS sig
        |FROM y""".stripMargin))

  // --- Spearman rank correlation -------------------------------------------

  /** Spearman rank correlation between quantity and discount per return
    * flag — the monotone-association sibling of the Pearson family
    * (q_corr_matrix measures linear association on raw values; Spearman
    * is Pearson on tie-averaged ranks, robust to any monotone transform).
    * Both variables live on bounded domains (quantity 1..50, discount
    * 0..10 cents), so per-group ranks come from the count grids exactly
    * as in q_mann_whitney (2·avg_rank = 2·preceding + ties + 1, integer).
    * The joint (quantity, discount) cell counts then carry each cell's
    * two rank values, and the five Pearson sufficient statistics over
    * rows — n, Σx, Σy, Σx², Σy², Σxy on the 2·rank scale (the factor 2
    * cancels in rho) — are exact DECIMAL(38,0) sums over the ≤550-cell
    * joint grid. The final rho composition runs on doubles cast from
    * those exact decimals (their differences exceed 38 digits at extreme
    * scale; IEEE composition is engine-deterministic), 6dp floored.
    *
    * Scale shape: one groupBy(flag, q, d) over lineitem (the only
    * fact-sized op), two marginal grids with windows partitioned by
    * flag over ≤50 rows, two broadcast-sized joins onto the joint grid.
    */
  private val spearmanCorr = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("rf"),
          floor(col("l_quantity") + 0.5).cast("long").as("q"),
          floor(col("l_discount") * 100.0 + 0.5).cast("long").as("d"))
      val joint = li.groupBy(col("rf"), col("q"), col("d"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds both marginal grids AND the join
      def rankGrid(key: String): org.apache.spark.sql.DataFrame = {
        val g = joint.groupBy(col("rf"), col(key))
          .agg(sum(col("c")).as("t"))
        val wPrev = Window.partitionBy(col("rf")).orderBy(col(key))
          .rowsBetween(Window.unboundedPreceding, -1)
        g.withColumn("p", coalesce(sum(col("t")).over(wPrev), lit(0L)))
          .select(col("rf"), col(key),
            (lit(2L) * col("p") + col("t") + lit(1L)).as(s"r2_$key"))
      }
      val withRanks = joint
        .join(rankGrid("q"), Seq("rf", "q"))
        .join(rankGrid("d"), Seq("rf", "d"))
      val s = withRanks.groupBy(col("rf")).agg(
        sum(col("c")).cast(d380).as("n"),
        sum(col("c").cast(d380) * col("r2_q")).as("sx"),
        sum(col("c").cast(d380) * col("r2_d")).as("sy"),
        sum(col("c").cast(d380) * col("r2_q") * col("r2_q")).as("sxx"),
        sum(col("c").cast(d380) * col("r2_d") * col("r2_d")).as("syy"),
        sum(col("c").cast(d380) * col("r2_q") * col("r2_d")).as("sxy"))
      def dd(c: Column) = c.cast("double")
      val num = dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
      val den = sqrt((dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx")))
        * (dd(col("n")) * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))))
      s.select(col("rf"), col("n").cast("long").as("n"),
        r6(num / den).as("rho")).orderBy(col("rf"))
    },
    oracle = Some(
      """WITH b AS (SELECT l_returnflag AS rf,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
        |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS d
        |  FROM lineitem),
        |joint AS (SELECT rf, q, d, COUNT(*) AS c FROM b GROUP BY 1, 2, 3),
        |gq AS (SELECT rf, q, SUM(c) AS t FROM joint GROUP BY 1, 2),
        |rq AS (SELECT rf, q, 2 * COALESCE(SUM(t) OVER (PARTITION BY rf ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2_q
        |  FROM gq),
        |gd AS (SELECT rf, d, SUM(c) AS t FROM joint GROUP BY 1, 2),
        |rd AS (SELECT rf, d, 2 * COALESCE(SUM(t) OVER (PARTITION BY rf ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2_d
        |  FROM gd),
        |j AS (SELECT joint.rf, joint.c, rq.r2_q, rd.r2_d
        |  FROM joint JOIN rq ON joint.rf = rq.rf AND joint.q = rq.q
        |    JOIN rd ON joint.rf = rd.rf AND joint.d = rd.d),
        |s AS (SELECT rf,
        |    CAST(SUM(c) AS DECIMAL(38,0)) AS n,
        |    SUM(CAST(c AS DECIMAL(38,0)) * r2_q) AS sx,
        |    SUM(CAST(c AS DECIMAL(38,0)) * r2_d) AS sy,
        |    SUM(CAST(c AS DECIMAL(38,0)) * r2_q * r2_q) AS sxx,
        |    SUM(CAST(c AS DECIMAL(38,0)) * r2_d * r2_d) AS syy,
        |    SUM(CAST(c AS DECIMAL(38,0)) * r2_q * r2_d) AS sxy
        |  FROM j GROUP BY 1)
        |SELECT rf, CAST(n AS BIGINT) AS n,
        |  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS rho
        |FROM s ORDER BY rf""".stripMargin))

  // --- Theil-Sen robust trend ----------------------------------------------

  /** Theil-Sen robust trend over the daily purchase-revenue series: the
    * slope estimate is the MEDIAN of all pairwise slopes
    * (v_j − v_i)/(d_j − d_i), the intercept the median of the residuals
    * v_i − slope·d_i — the estimator that shrugs off up to ~29% outlier
    * days where OLS (q_regr_ols) folds. The series is first reduced to
    * one exact µ$-sum per day (partial-aggregatable groupBy), so the
    * pairwise stage is bounded by |days|² — a calendar-bounded domain
    * (~10⁴ pairs for a 4-month season), NOT data-sized; at 100 TB the
    * fact scan still dominates and the pair frame stays tiny. Slopes are
    * IEEE-divided from exact integers (deterministic across engines),
    * 9dp floor-rounded, and the median is rank-exact: row_number over
    * (slope, i, j) on the bounded pair frame, averaging the two middle
    * elements for even counts.
    */
  private val theilSen = QueryDef(
    fn = (spark, dir) => {
      // day-domain-bounded grid, checkpointed: d0 / pairs (twice) /
      // resid all re-reference it — without the checkpoint each
      // reference re-planned the events scan (6 corpus scans;
      // ScanCountLintSpec)
      val daily = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(to_date(col("ts")).as("day"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("vq"))
        .groupBy(col("day")).agg(sum(col("vq")).cast(d380).as("v"))
        .memoCheckpoint(spark, dir, "theil_daily")
      val d0 = daily.agg(min(col("day")).as("d0"))
      val pts = daily.crossJoin(broadcast(d0))
        .select(datediff(col("day"), col("d0")).cast("long").as("di"),
          col("v"))
      def f9d(c: Column) = floor(c * 1e9 + 0.5) / 1e9
      val l = pts.select(col("di").as("i"), col("v").as("vi"))
      val r = pts.select(col("di").as("j"), col("v").as("vj"))
      val pairs = l.join(r, col("i") < col("j"))
        .select(col("i"), col("j"),
          f9d((col("vj") - col("vi")).cast("double") / 1e6
            / (col("j") - col("i")).cast("double")).as("slope"))
      val wp = Window.orderBy(col("slope"), col("i"), col("j"))
      val ranked = pairs
        .withColumn("rk", row_number().over(wp))
        .withColumn("m", count(lit(1)).over(
          Window.orderBy(col("slope"), col("i"), col("j"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      // integer floor-division for the median ranks (Column./ is double division)
      val med = ranked
        .filter(col("rk") === expr("(m + 1) div 2") ||
          col("rk") === expr("(m + 2) div 2"))
        .agg(avg(col("slope")).as("slope_med"), max(col("m")).as("n_pairs"))
      val resid = pts.crossJoin(broadcast(med))
        .select(col("slope_med"), col("n_pairs"),
          f9d(col("v").cast("double") / 1e6
            - col("slope_med") * col("di").cast("double")).as("res"),
          col("di"))
      val wr = Window.orderBy(col("res"), col("di"))
      val rr = resid
        .withColumn("rk", row_number().over(wr))
        .withColumn("nd", count(lit(1)).over(
          Window.orderBy(col("res"), col("di"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      rr.filter(col("rk") === expr("(nd + 1) div 2") ||
          col("rk") === expr("(nd + 2) div 2"))
        .agg(max(col("nd")).as("n_days"), max(col("n_pairs")).as("n_pairs"),
          r6(max(col("slope_med"))).as("slope"),
          r6(avg(col("res"))).as("intercept"))
    },
    oracle = Some(
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
        |      AS DECIMAL(38,0)) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |d0 AS (SELECT MIN(day) AS d0 FROM daily),
        |pts AS (SELECT CAST(date_diff('day', d0.d0, daily.day) AS BIGINT) AS di, v
        |  FROM daily CROSS JOIN d0),
        |pairs AS (SELECT l.di AS i, r.di AS j,
        |    floor((CAST(r.v AS DOUBLE) - CAST(l.v AS DOUBLE)) / 1000000.0
        |        / (CAST(r.di AS DOUBLE) - CAST(l.di AS DOUBLE))
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS slope
        |  FROM pts l JOIN pts r ON l.di < r.di),
        |ranked AS (SELECT slope,
        |    row_number() OVER (ORDER BY slope, i, j) AS rk,
        |    COUNT(*) OVER () AS m
        |  FROM pairs),
        |med AS (SELECT AVG(slope) AS slope_med, MAX(m) AS n_pairs FROM ranked
        |  WHERE rk = (m + 1) // 2 OR rk = (m + 2) // 2),
        |resid AS (SELECT med.slope_med, med.n_pairs, pts.di,
        |    floor((CAST(pts.v AS DOUBLE) / 1000000.0
        |        - med.slope_med * CAST(pts.di AS DOUBLE))
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS res
        |  FROM pts CROSS JOIN med),
        |rr AS (SELECT slope_med, n_pairs, res,
        |    row_number() OVER (ORDER BY res, di) AS rk,
        |    COUNT(*) OVER () AS nd
        |  FROM resid)
        |SELECT MAX(nd) AS n_days, MAX(n_pairs) AS n_pairs,
        |  floor(MAX(slope_med) * 1000000.0 + 0.5) / 1000000.0 AS slope,
        |  floor(AVG(res) * 1000000.0 + 0.5) / 1000000.0 AS intercept
        |FROM rr WHERE rk = (nd + 1) // 2 OR rk = (nd + 2) // 2""".stripMargin))

  /** Wald–Wolfowitz runs test: is the daily above-/below-mean pattern of
    * order revenue random, or does it cluster (trend/seasonality leaves
    * too FEW runs; oscillation too many)? The sign sequence is
    * above-mean by the cross-multiplied integer comparison day_cents·n >
    * total_cents (no mean is ever divided out); R = 1 + sign changes
    * along the date-ordered day grid. Under H₀, E[R] = 1 + 2n₁n₂/n and
    * Var = 2n₁n₂(2n₁n₂−n)/(n²(n−1)); the α = 0.05 two-sided decision is
    * the pure-DECIMAL(38,0) cross-multiplication
    * (Rn − n − 2n₁n₂)²·(n−1)·10⁴ > 38416·2n₁n₂(2n₁n₂−n), and z²·10⁶ is
    * emitted by the same integral division. No double anywhere.
    *
    * Scale shape: one partial-aggregatable groupBy(day) over orders;
    * the sign/lag/run machinery runs on the bounded day grid (the
    * calendar-domain window the house style documents per-query). */
  private val runsTest = QueryDef(
    fn = (spark, dir) => {
      val daily = Tables.orders(spark, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("cents"))
      val tot = daily.agg(count(lit(1)).as("n"), sum(col("cents")).as("t"))
      val signed = daily.crossJoin(broadcast(tot))
        .select(col("day"),
          (col("cents").cast(d380) * col("n") > col("t")).as("up"),
          col("n"))
      val wDay = Window.orderBy(col("day"))
      val s = signed
        .withColumn("chg",
          when(lag(col("up"), 1).over(wDay).isNull, 0L)
            .when(col("up") =!= lag(col("up"), 1).over(wDay), 1L)
            .otherwise(0L))
        .agg(max(col("n")).as("n"),
          sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("up"), 1L).otherwise(0L)).as("n2"),
          (sum(col("chg")) + 1L).as("r"))
      val n = col("n").cast(d380); val n1 = col("n1").cast(d380)
      val n2 = col("n2").cast(d380); val r = col("r").cast(d380)
      val dev = r * n - n - lit(2L).cast(d380) * n1 * n2 // (R−ER)·n
      val varNum = (lit(2L).cast(d380) * n1 * n2) *
        (lit(2L).cast(d380) * n1 * n2 - n) // Var·n²(n−1), sans the (n−1)
      s.select(col("n"), col("n1"), col("n2"), col("r"),
        expr("((CAST(r AS DECIMAL(38,0)) * n - n - 2 * CAST(n1 AS DECIMAL(38,0)) * n2)" +
          " * (CAST(r AS DECIMAL(38,0)) * n - n - 2 * CAST(n1 AS DECIMAL(38,0)) * n2)" +
          " * (n - 1) * CAST(1000000 AS DECIMAL(38,0)))" +
          " div (2 * CAST(n1 AS DECIMAL(38,0)) * n2" +
          " * (2 * CAST(n1 AS DECIMAL(38,0)) * n2 - n))").as("z2_e6"),
        (dev * dev * (n - lit(1L)) * lit(10000L) >
          lit(38416L).cast(d380) * varNum).as("reject"))
    },
    oracle = Some(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n, SUM(cents) AS t FROM daily),
        |sg AS (SELECT day, CAST(cents AS HUGEINT) * n > t AS up, n
        |  FROM daily CROSS JOIN tot),
        |ch AS (SELECT n, up,
        |    CASE WHEN lag(up, 1) OVER (ORDER BY day) IS NULL THEN 0
        |         WHEN up <> lag(up, 1) OVER (ORDER BY day) THEN 1
        |         ELSE 0 END AS chg
        |  FROM sg),
        |s AS (SELECT CAST(MAX(n) AS HUGEINT) AS n,
        |    CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        |    CAST(SUM(CASE WHEN up THEN 0 ELSE 1 END) AS HUGEINT) AS n2,
        |    CAST(SUM(chg) + 1 AS HUGEINT) AS r
        |  FROM ch)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n1 AS BIGINT) AS n1,
        |  CAST(n2 AS BIGINT) AS n2, CAST(r AS BIGINT) AS r,
        |  CAST(((r * n - n - 2 * n1 * n2) * (r * n - n - 2 * n1 * n2)
        |      * (n - 1) * 1000000)
        |    // (2 * n1 * n2 * (2 * n1 * n2 - n)) AS BIGINT) AS z2_e6,
        |  (r * n - n - 2 * n1 * n2) * (r * n - n - 2 * n1 * n2)
        |    * (n - 1) * 10000
        |    > 38416 * 2 * n1 * n2 * (2 * n1 * n2 - n) AS reject
        |FROM s""".stripMargin))

  // --- Kruskal-Wallis H ------------------------------------------------------

  /** Kruskal-Wallis H test: do the three return-flag populations differ
    * in quantity distribution? The k-group extension of q_mann_whitney,
    * on the same bounded-grid rank machinery: ranks are GLOBAL pooled
    * tie-averaged ranks from the ≤50-row quantity count grid
    * (2·avg_rank = 2·preceding + ties + 1, integer), so the per-group
    * sufficient statistics — n_g and the doubled rank sum 2R_g — are
    * exact DECIMAL(38,0). With D_g = 2R_g − n_g(n+1),
    * H = 3/(n(n+1)) · Σ_g D_g²/n_g, tie-corrected
    * H_c = H / (1 − ΣT/(n³−n)), ΣT = Σ(t³−t).
    *
    * Numeric discipline: the q_anova engine-portable pattern (division
    * and multiplication only — IEEE-correctly-rounded, no
    * transcendental): each group's D_g²/(n_g·n(n+1)) term is composed on
    * doubles cast from the exact integers in one fixed order, 9dp
    * floor-pinned into DECIMAL(28,9), summed in DECIMAL
    * (associativity-safe), and H = 3·Σterm / tie-correction composed
    * identically on both engines, 6dp floored. The α=0.05 decision
    * against χ²(k−1=2) = 5.991465 compares the two identical doubles.
    * The term is pre-divided by n(n+1) BEFORE the pin so term ≤ n and
    * the pinned product fits int64 (Spark's floor(double) returns
    * LONG): valid to n ≲ 10⁹ rows; widen the pin scale past that.
    *
    * Scale shape: one partial-aggregatable groupBy(rf, q) over lineitem;
    * the pooled-rank window runs on the ≤50-row grid; everything after
    * is k = 3 rows. */
  private val kruskalWallis = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("rf"),
          floor(col("l_quantity") + 0.5).cast("long").as("q"))
      val cells = li.groupBy(col("rf"), col("q"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds the pooled grid AND the group join
      val pooled = cells.groupBy(col("q")).agg(sum(col("c")).as("t"))
      val wPrev = Window.orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = pooled
        .withColumn("p", coalesce(sum(col("t")).over(wPrev), lit(0L)))
        .select(col("q"),
          (lit(2L) * col("p") + col("t") + lit(1L)).as("r2"),
          (col("t").cast(d380) * col("t") * col("t") - col("t")).as("tt"))
      val grp = cells.join(ranked.select(col("q"), col("r2")), Seq("q"))
        .groupBy(col("rf"))
        .agg(sum(col("c")).cast(d380).as("n_g"),
          sum(col("c").cast(d380) * col("r2")).as("r2g"))
      val tot = grp.agg(count(lit(1)).as("k"),
          sum(col("n_g")).cast(d380).as("n"))
        .crossJoin(broadcast(
          ranked.agg(sum(col("tt")).as("ties"))))
      def dd(c: Column) = c.cast("double")
      // f9-pinned per-group term (the q_anova pattern)
      // term_g is pre-divided by n(n+1) BEFORE the 9dp pin so its
      // magnitude stays ≤ n — Spark's floor(double) returns LONG, so the
      // pinned product must fit int64 (term·10⁹ ≤ n·10⁹; bound n ≲ 10⁹)
      val terms = grp.crossJoin(broadcast(tot))
        .withColumn("d_g", col("r2g") - col("n_g") * (col("n") + 1))
        .select(col("k"), col("n"), col("ties"),
          (floor(dd(col("d_g")) * dd(col("d_g")) / dd(col("n_g"))
            / (dd(col("n")) * (dd(col("n")) + 1.0))
            * 1e9 + 0.5) / 1e9).cast(DecimalType(28, 9)).as("term"))
      val s = terms.agg(max(col("k")).as("k"), max(col("n")).as("n"),
        max(col("ties")).as("ties"), sum(col("term")).as("sterm"))
      val h = lit(3.0) * dd(col("sterm"))
      val corr = lit(1.0) - (dd(col("ties"))
        / (dd(col("n")) * dd(col("n")) * dd(col("n")) - dd(col("n"))))
      s.select(col("k"), col("n").cast("long").as("n"),
        r6(h).as("h"), r6(h / corr).as("h_adj"),
        (h / corr > 5.991465).as("reject"))
    },
    oracle = Some(
      """WITH b AS (SELECT l_returnflag AS rf,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS q FROM lineitem),
        |cells AS (SELECT rf, q, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |pooled AS (SELECT q, SUM(c) AS t FROM cells GROUP BY 1),
        |ranked AS (SELECT q,
        |    2 * COALESCE(SUM(t) OVER (ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1
        |      AS r2,
        |    CAST(t AS DECIMAL(38,0)) * t * t - t AS tt
        |  FROM pooled),
        |grp AS (SELECT rf,
        |    CAST(SUM(c) AS DECIMAL(38,0)) AS n_g,
        |    SUM(CAST(c AS DECIMAL(38,0)) * r2) AS r2g
        |  FROM cells JOIN ranked USING (q) GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS k, CAST(SUM(n_g) AS DECIMAL(38,0)) AS n
        |  FROM grp),
        |tsum AS (SELECT CAST(SUM(tt) AS DECIMAL(38,0)) AS ties FROM ranked),
        |terms AS (SELECT k, n, ties,
        |    CAST(floor(CAST(r2g - n_g * (n + 1) AS DOUBLE)
        |        * CAST(r2g - n_g * (n + 1) AS DOUBLE)
        |        / CAST(n_g AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS term
        |  FROM grp CROSS JOIN tot CROSS JOIN tsum),
        |s AS (SELECT MAX(k) AS k, MAX(n) AS n, MAX(ties) AS ties,
        |    CAST(SUM(term) AS DECIMAL(38,9)) AS sterm FROM terms)
        |SELECT k, CAST(n AS BIGINT) AS n,
        |  floor(3.0 * CAST(sterm AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS h,
        |  floor(3.0 * CAST(sterm AS DOUBLE)
        |      / (1.0 - CAST(ties AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |           - CAST(n AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS h_adj,
        |  3.0 * CAST(sterm AS DOUBLE)
        |      / (1.0 - CAST(ties AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |           - CAST(n AS DOUBLE)))
        |    > 5.991465 AS reject
        |FROM s""".stripMargin))

  // --- Kendall tau-b ---------------------------------------------------------

  /** ROW-LEVEL Kendall tau-b between quantity and discount — the
    * concordance-based sibling of q_spearman_corr, exact under heavy
    * ties. Both variables live on bounded domains, so the statistic
    * derives ENTIRELY from the ≤550-cell joint count grid: nc (= pairs
    * ordered the same way on both axes) and nd (= pairs ordered
    * oppositely) come from one grid×grid self-join — each unordered pair
    * of distinct cells contributes c₁·c₂ to exactly one bucket, counted
    * once from the lexicographically smaller cell — and the tie terms
    * from the marginal grids. All sufficient statistics are exact
    * integers; tau-b's sqrt denominator never materializes: the output
    * is the sign-split squared form tau2_e6 = sign(nc−nd) ·
    * ⌊4·(nc−nd)²·10⁶ / (A·B)⌋ with A = n(n−1)−Σtx(tx−1) and
    * B = n(n−1)−Σty(ty−1). A·B = 4(n0−n1)(n0−n2) (the doubled
    * tie-corrected forms), while nc−nd counts each unordered pair
    * ONCE, so tau² = (nc−nd)²/((n0−n1)(n0−n2)) = 4(nc−nd)²/(A·B) —
    * the factor 4 must ride the numerator (a perfectly concordant
    * tie-free input yields tau2_e6 = 10⁶ exactly). Pure DECIMAL(38,0)
    * integral arithmetic, the q_mann_whitney z² pattern. Exact while
    * 4·(nc−nd)²·10⁶ fits DECIMAL(38,0): (nc−nd) ≤ n(n−1)/2 bounds
    * n ≲ 10⁸ rows worst-case, far more for any real |tau| ≪ 1.
    *
    * Scale shape: one partial-aggregatable groupBy(q, d) over lineitem;
    * the pair stage is the 550²-cell GRID self-join (bounded by the
    * value domains, never data-sized) and two ≤50-row marginal sums. */
  private val kendallTau = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(floor(col("l_quantity") + 0.5).cast("long").as("q"),
          floor(col("l_discount") * 100.0 + 0.5).cast("long").as("d"))
      val cells = li.groupBy(col("q"), col("d"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds the self-join twice + 3 marginals
      val a = cells.select(col("q").as("q1"), col("d").as("d1"),
        col("c").as("c1"))
      val b = cells.select(col("q").as("q2"), col("d").as("d2"),
        col("c").as("c2"))
      // lexicographically-ordered cell pairs: each unordered pair once
      val pairs = a.join(b,
        col("q1") < col("q2") ||
          (col("q1") === col("q2") && col("d1") < col("d2")))
      val cd = pairs.agg(
        sum(when(col("q1") < col("q2") && col("d1") < col("d2"),
          col("c1").cast(d380) * col("c2")).otherwise(lit(0L).cast(d380)))
          .as("nc"),
        sum(when(col("q1") < col("q2") && col("d1") > col("d2"),
          col("c1").cast(d380) * col("c2")).otherwise(lit(0L).cast(d380)))
          .as("nd"))
      val tx = cells.groupBy(col("q")).agg(sum(col("c")).as("t"))
        .agg(sum(col("t").cast(d380) * (col("t") - 1)).as("ttx"),
          sum(col("t")).cast(d380).as("n"))
      val ty = cells.groupBy(col("d")).agg(sum(col("c")).as("t"))
        .agg(sum(col("t").cast(d380) * (col("t") - 1)).as("tty"))
      val s = cd.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
        .withColumn("a2", col("n") * (col("n") - 1) - col("ttx"))
        .withColumn("b2", col("n") * (col("n") - 1) - col("tty"))
        .withColumn("diff", col("nc") - col("nd"))
      s.select(col("n").cast("long").as("n"),
        col("nc").cast("long").as("nc"), col("nd").cast("long").as("nd"),
        (when(col("diff") < 0, -1L).otherwise(1L)
          * expr("(diff * diff * CAST(4000000 AS DECIMAL(38,0)))"
            + " div (a2 * b2)")).as("tau2_e6"))
    },
    oracle = Some(
      """WITH b AS (SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
        |    CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS d
        |  FROM lineitem),
        |cells AS (SELECT q, d, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |pr AS (SELECT x.q AS q1, x.d AS d1, x.c AS c1,
        |         y.q AS q2, y.d AS d2, y.c AS c2
        |  FROM cells x JOIN cells y
        |    ON x.q < y.q OR (x.q = y.q AND x.d < y.d)),
        |cd AS (SELECT
        |    SUM(CASE WHEN q1 < q2 AND d1 < d2
        |      THEN CAST(c1 AS HUGEINT) * c2 ELSE 0 END) AS nc,
        |    SUM(CASE WHEN q1 < q2 AND d1 > d2
        |      THEN CAST(c1 AS HUGEINT) * c2 ELSE 0 END) AS nd
        |  FROM pr),
        |tx AS (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT)
        |    AS ttx, CAST(SUM(t) AS HUGEINT) AS n
        |  FROM (SELECT q, SUM(c) AS t FROM cells GROUP BY 1)),
        |ty AS (SELECT CAST(SUM(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT)
        |    AS tty
        |  FROM (SELECT d, SUM(c) AS t FROM cells GROUP BY 1)),
        |s AS (SELECT n, nc, nd,
        |    n * (n - 1) - ttx AS a2, n * (n - 1) - tty AS b2,
        |    nc - nd AS diff
        |  FROM cd CROSS JOIN tx CROSS JOIN ty)
        |SELECT CAST(n AS BIGINT) AS n, CAST(nc AS BIGINT) AS nc,
        |  CAST(nd AS BIGINT) AS nd,
        |  CAST((CASE WHEN diff < 0 THEN -1 ELSE 1 END)
        |    * ((diff * diff * 4000000) // (a2 * b2)) AS BIGINT) AS tau2_e6
        |FROM s""".stripMargin))

  // --- Hodges-Lehmann pseudomedian -------------------------------------------

  /** Hodges–Lehmann location estimator (the pseudomedian, Hodges &
    * Lehmann 1963) of quantity per return flag — the robust one-sample
    * location partner of q_theil_sen's robust slope: the median of all
    * Walsh averages (x_i + x_j)/2 over unordered pairs i ≤ j. Breakdown
    * point 0.29 where the mean's is 0; the estimator behind the
    * Wilcoxon signed-rank confidence interval.
    *
    * The naive form is an O(n²) pair space; quantity lives on a bounded
    * domain, so the pair space collapses to the VALUE-pair grid
    * (≤ 50·51/2 cells): a pair of distinct values (v₁ < v₂) carries
    * weight c₁·c₂, a within-value pair weight c(c+1)/2 (i ≤ j includes
    * singletons), and the weighted median over Walsh sums s = v₁+v₂
    * comes from a running sum on the ≤99-row s-grid. Everything is an
    * exact integer: the output hl_x4 = 4·HL is s_lo + s_hi of the two
    * middle Walsh sums (equal when the pair count is odd) — no division
    * ever happens; n_pairs = W = n(n+1)/2 cross-checks the grid against
    * the row count.
    *
    * Scale shape: one partial-aggregatable groupBy(rf, q) over lineitem;
    * the pair join, the s-grid window, and the median probe all run on
    * value-domain-sized frames. Weights fit long to n ≈ 4·10⁹ rows per
    * flag (W = n(n+1)/2 < 2⁶³). */
  private val hodgesLehmann = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("rf"),
          floor(col("l_quantity") + 0.5).cast("long").as("q"))
      val cells = li.groupBy(col("rf"), col("q"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds both sides of the value-pair join
      val a = cells.select(col("rf"), col("q").as("v1"), col("c").as("c1"))
      val b = cells.select(col("rf").as("rf2"), col("q").as("v2"),
        col("c").as("c2"))
      val pairs = a.join(b,
          col("rf") === col("rf2") && col("v1") <= col("v2"))
        .select(col("rf"), (col("v1") + col("v2")).as("s"),
          when(col("v1") < col("v2"), col("c1") * col("c2"))
            .otherwise(expr("c1 * (c1 + 1) div 2")).as("w"))
      val g = pairs.groupBy(col("rf"), col("s")).agg(sum(col("w")).as("ws"))
      val wRun = Window.partitionBy(col("rf")).orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("rf"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = g.withColumn("cw", sum(col("ws")).over(wRun))
        .withColumn("tw", sum(col("ws")).over(wAll))
      cum
        .withColumn("k1", expr("(tw + 1) div 2"))
        .withColumn("k2", expr("(tw + 2) div 2"))
        .groupBy(col("rf"))
        .agg(max(col("tw")).as("n_pairs"),
          min(when(col("cw") >= col("k1"), col("s"))).as("s_lo"),
          min(when(col("cw") >= col("k2"), col("s"))).as("s_hi"))
        .select(col("rf"), col("n_pairs"),
          (col("s_lo") + col("s_hi")).as("hl_x4"))
        .orderBy("rf")
    },
    oracle = Some(
      """WITH b AS (SELECT l_returnflag AS rf,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS q FROM lineitem),
        |cells AS (SELECT rf, q, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |pr AS (SELECT x.rf, x.q + y.q AS s,
        |    CASE WHEN x.q < y.q THEN x.c * y.c
        |      ELSE x.c * (x.c + 1) // 2 END AS w
        |  FROM cells x JOIN cells y ON x.rf = y.rf AND x.q <= y.q),
        |g AS (SELECT rf, s, SUM(w) AS ws FROM pr GROUP BY 1, 2),
        |cum AS (SELECT rf, s, ws,
        |    SUM(ws) OVER (PARTITION BY rf ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(ws) OVER (PARTITION BY rf) AS tw
        |  FROM g)
        |SELECT rf, CAST(MAX(tw) AS BIGINT) AS n_pairs,
        |  CAST(MIN(CASE WHEN cw >= (tw + 1) // 2 THEN s END)
        |    + MIN(CASE WHEN cw >= (tw + 2) // 2 THEN s END) AS BIGINT)
        |    AS hl_x4
        |FROM cum GROUP BY rf ORDER BY rf""".stripMargin))

  // --- Friedman test -----------------------------------------------------------

  /** Friedman test (the blocked k-treatment rank test — repeated-measures
    * ANOVA's nonparametric form): do the five order priorities differ in
    * monthly revenue once month-to-month level shifts are blocked out?
    * Blocks = order months, treatments = priorities, the cell metric =
    * exact cent revenue. Within each block the k = 5 cell values are
    * ranked (tie-averaged, the integer 2·rank form: 2r = 2·|smaller| +
    * |equal| + 1, from two ≤5-row windows); with D_j = 2R_j − b(k+1),
    * Q = 3·Σ_j D_j² / (b·k·(k+1)).
    *
    * EVERYTHING is integer: q_e6 = ⌊Q·10⁶⌋ by one integral division and
    * the α = 0.05 decision against χ²(k−1 = 4) cross-multiplies
    * 3·ΣD²·10⁶ > 9487729·b·k·(k+1) — no double exists in the plan
    * (9.487729 = the χ²₄ critical value). Exact while ΣD² ≲ 10¹² — D is
    * bounded by b·k, so long arithmetic holds to ~10⁸ blocks.
    *
    * Scale shape: one partial-aggregatable groupBy(month, priority) over
    * orders; ranking windows partition by month over exactly k = 5 rows;
    * the treatment rollup is k rows. */
  private val friedman = QueryDef(
    fn = (spark, dir) => {
      val cells = Tables.orders(spark, dir)
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"),
          col("o_orderpriority").as("trt"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("v"))
      // complete blocks only (every priority present) — the Friedman
      // design requires a full b×k table; the fixture always is, but the
      // guard keeps the statistic well-defined on any input
      val wB = Window.partitionBy(col("m"))
      val full = cells.withColumn("kk", count(lit(1)).over(wB))
      val kTot = full.agg(max(col("kk")).as("k"))
      val ranked = full.crossJoin(broadcast(kTot))
        .filter(col("kk") === col("k"))
        .withColumn("smaller", coalesce(count(lit(1)).over(
          wB.orderBy(col("v")).rangeBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("equal", count(lit(1)).over(
          wB.orderBy(col("v")).rangeBetween(0, 0)))
        .withColumn("r2", lit(2L) * col("smaller") + col("equal") + 1)
      val perTrt = ranked.groupBy(col("trt"), col("k"))
        .agg(sum(col("r2")).as("r2j"), count(lit(1)).as("b"))
      val s = perTrt
        .withColumn("d", col("r2j") - col("b") * (col("k") + 1))
        .agg(max(col("k")).cast("long").as("k"), max(col("b")).as("b"),
          sum(col("d") * col("d")).as("d2"))
      s.select(col("k"), col("b"),
        expr("(3 * d2 * 1000000) div (b * k * (k + 1))").as("q_e6"),
        (col("d2") * 3000000L >
          lit(9487729L) * col("b") * col("k") * (col("k") + 1))
          .as("reject"))
    },
    oracle = Some(
      """WITH cells AS (SELECT strftime(o_orderdate, '%Y-%m') AS m,
        |    o_orderpriority AS trt,
        |    CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders GROUP BY 1, 2),
        |full_b AS (SELECT m, trt, v, COUNT(*) OVER (PARTITION BY m) AS kk
        |  FROM cells),
        |kt AS (SELECT MAX(kk) AS k FROM full_b),
        |rk AS (SELECT m, trt, k,
        |    2 * (COUNT(*) OVER (PARTITION BY m ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |    + (COUNT(*) OVER (PARTITION BY m ORDER BY v
        |      RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) + 1 AS r2
        |  FROM full_b CROSS JOIN kt WHERE kk = k),
        |pt AS (SELECT trt, k, SUM(r2) AS r2j, COUNT(*) AS b
        |  FROM rk GROUP BY 1, 2),
        |s AS (SELECT MAX(k) AS k, MAX(b) AS b,
        |    SUM((r2j - b * (k + 1)) * (r2j - b * (k + 1))) AS d2
        |  FROM pt)
        |SELECT CAST(k AS BIGINT) AS k, CAST(b AS BIGINT) AS b,
        |  CAST((3 * d2 * 1000000) // (b * k * (k + 1)) AS BIGINT) AS q_e6,
        |  d2 * 3000000 > 9487729 * b * k * (k + 1) AS reject
        |FROM s""".stripMargin))

  // --- Mood's median test --------------------------------------------------------

  /** Mood's median test: do the three return-flag groups differ in the
    * fraction of line items above the pooled grand median quantity? The
    * crudest-but-unkillable k-group location test (a 2×k chi-square on
    * above/not-above the grand median) — the robustness backstop to
    * q_kruskal_wallis. The grand median is the exact order statistic at
    * rank ⌈n/2⌉ read off the pooled ≤50-row count grid's running sum;
    * the 2×k table is one conditional aggregation.
    *
    * Numeric discipline: the q_anova f9 pattern — each cell's
    * (O·n − r·c)²/(n·r·c) term is composed on doubles cast from exact
    * longs in one fixed order, 9dp floor-pinned, summed in DECIMAL;
    * the α = 0.05 decision against χ²(k−1 = 2) = 5.991465 compares
    * identical doubles.
    *
    * Scale shape: one groupBy(rf, q) over lineitem feeds BOTH the pooled
    * median grid and the 2×k table — the corpus is scanned once; all
    * windows run on ≤50-row grids. */
  private val moodMedian = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("rf"),
          floor(col("l_quantity") + 0.5).cast("long").as("q"))
      val cells = li.groupBy(col("rf"), col("q"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds the pooled grid AND the 2xk table
      val wRun = Window.orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val med = cells.groupBy(col("q")).agg(sum(col("c")).as("t"))
        .withColumn("cum", sum(col("t")).over(wRun))
        .withColumn("n", sum(col("t")).over(wAll))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .agg(min(col("q")).as("gm"))
      val tab = cells.crossJoin(broadcast(med))
        .groupBy(col("rf"))
        .agg(sum(when(col("q") > col("gm"), col("c")).otherwise(0L))
          .as("above"),
          sum(col("c")).as("r"))
        .localCheckpoint(false) // k rows feed totals AND the term sum
      val tot = tab.agg(count(lit(1)).as("k"), sum(col("above")).as("ca"),
        sum(col("r")).as("n"))
      def dd(c: Column) = c.cast("double")
      val t2 = tab.crossJoin(broadcast(tot))
        .withColumn("cb", col("n") - col("ca"))
        .withColumn("below", col("r") - col("above"))
        .withColumn("t_above",
          (floor((dd(col("above")) * dd(col("n")) - dd(col("r")) * dd(col("ca")))
            * (dd(col("above")) * dd(col("n")) - dd(col("r")) * dd(col("ca")))
            / (dd(col("n")) * dd(col("r")) * dd(col("ca")))
            * 1e9 + 0.5) / 1e9).cast(DecimalType(28, 9)))
        .withColumn("t_below",
          (floor((dd(col("below")) * dd(col("n")) - dd(col("r")) * dd(col("cb")))
            * (dd(col("below")) * dd(col("n")) - dd(col("r")) * dd(col("cb")))
            / (dd(col("n")) * dd(col("r")) * dd(col("cb")))
            * 1e9 + 0.5) / 1e9).cast(DecimalType(28, 9)))
      val s = t2.agg(max(col("k")).as("k"), max(col("n")).as("n"),
        max(col("ca")).as("n_above"),
        sum(col("t_above") + col("t_below")).as("chi2d"))
      s.select(col("k"), col("n").cast("long").as("n"),
        col("n_above"),
        r6(dd(col("chi2d"))).as("chi2"),
        (dd(col("chi2d")) > 5.991465).as("reject"))
    },
    oracle = Some(
      """WITH b AS (SELECT l_returnflag AS rf,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS q FROM lineitem),
        |cells AS (SELECT rf, q, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |pooled AS (SELECT q, SUM(c) AS t FROM cells GROUP BY 1),
        |med AS (SELECT MIN(q) AS gm FROM (
        |  SELECT q, SUM(t) OVER (ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(t) OVER () AS n FROM pooled) WHERE cum >= (n + 1) // 2),
        |tab AS (SELECT rf,
        |    CAST(SUM(CASE WHEN q > gm THEN c ELSE 0 END) AS BIGINT) AS above,
        |    CAST(SUM(c) AS BIGINT) AS r
        |  FROM cells CROSS JOIN med GROUP BY rf),
        |tot AS (SELECT COUNT(*) AS k, CAST(SUM(above) AS BIGINT) AS ca,
        |    CAST(SUM(r) AS BIGINT) AS n FROM tab),
        |t2 AS (SELECT k, n, ca, rf, above, r, n - ca AS cb, r - above AS below
        |  FROM tab CROSS JOIN tot),
        |t3 AS (SELECT k, n, ca,
        |    CAST(floor((CAST(above AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(r AS DOUBLE) * CAST(ca AS DOUBLE))
        |      * (CAST(above AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(r AS DOUBLE) * CAST(ca AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(ca AS DOUBLE))
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9))
        |    + CAST(floor((CAST(below AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(r AS DOUBLE) * CAST(cb AS DOUBLE))
        |      * (CAST(below AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(r AS DOUBLE) * CAST(cb AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(cb AS DOUBLE))
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS term
        |  FROM t2),
        |s AS (SELECT MAX(k) AS k, MAX(n) AS n, MAX(ca) AS n_above,
        |    CAST(SUM(term) AS DECIMAL(38,9)) AS chi2d FROM t3)
        |SELECT k, CAST(n AS BIGINT) AS n, n_above,
        |  floor(CAST(chi2d AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS chi2,
        |  CAST(chi2d AS DOUBLE) > 5.991465 AS reject
        |FROM s""".stripMargin))

  // --- Q-Q decile table -------------------------------------------------------

  /** Q–Q table between open ('O') and finished ('F') line items'
    * quantity distributions: the nine decile order statistics of each
    * group, side by side — the tabular form of a Q–Q plot (points on
    * the diagonal = same distribution), the visual-diagnostic partner
    * of q_ks_test's single-number verdict. Deciles are EXACT type-1
    * order statistics (smallest value whose running count reaches
    * ⌈p·n/100⌉) read off each group's bounded count grid — integers
    * end to end, no interpolation, no double.
    *
    * Scale shape: one groupBy(flag, q) over lineitem; running sums on
    * two ≤50-row grids; a 9-row decile probe joined against each grid
    * (grid-sized theta-join). */
  private val qqTable = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .filter(col("l_linestatus").isin("O", "F"))
        .select(col("l_linestatus").as("g"),
          floor(col("l_quantity") + 0.5).cast("long").as("q"))
      val cells = li.groupBy(col("g"), col("q"))
        .agg(count(lit(1)).as("c"))
      val wRun = Window.partitionBy(col("g")).orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("g"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = cells
        .withColumn("cw", sum(col("c")).over(wRun))
        .withColumn("n", sum(col("c")).over(wAll))
        .localCheckpoint(false) // the ≤100-row grid feeds the 9-decile probe
      val ps = spark.range(10, 100, 10).select(col("id").as("p"))
      val dec = ps.join(cum,
          col("cw") >= expr("(p * n + 99) div 100"), "inner")
        .groupBy(col("p"), col("g"))
        .agg(min(col("q")).as("qv"))
      dec.groupBy(col("p"))
        .agg(max(when(col("g") === "O", col("qv"))).as("q_open"),
          max(when(col("g") === "F", col("qv"))).as("q_finished"))
        .orderBy("p")
    },
    oracle = Some(
      """WITH b AS (SELECT l_linestatus AS g,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS q
        |  FROM lineitem WHERE l_linestatus IN ('O', 'F')),
        |cells AS (SELECT g, q, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |cum AS (SELECT g, q,
        |    SUM(c) OVER (PARTITION BY g ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(c) OVER (PARTITION BY g) AS n
        |  FROM cells),
        |ps AS (SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS p),
        |dec AS (SELECT ps.p, cum.g, MIN(cum.q) AS qv
        |  FROM ps JOIN cum ON cum.cw >= (ps.p * cum.n + 99) // 100
        |  GROUP BY 1, 2)
        |SELECT CAST(p AS BIGINT) AS p,
        |  MAX(CASE WHEN g = 'O' THEN qv END) AS q_open,
        |  MAX(CASE WHEN g = 'F' THEN qv END) AS q_finished
        |FROM dec GROUP BY p ORDER BY p""".stripMargin))

  // --- Cramér's V ----------------------------------------------------------------

  /** Cramér's V between return flag and line status — the normalized
    * effect size of the r×c contingency chi-square (q_chisq reports the
    * test; V reports HOW associated, 0..1, comparable across table
    * shapes). Cell terms follow the q_anova f9 pattern (exact counts →
    * fixed-order double composition → 9dp pin → DECIMAL sum); the sqrt
    * never materializes: v2_e6 = ⌊χ²/(n·min(r−1, c−1))·10⁶⌋ emits the
    * SQUARE (the q_mann_whitney z² convention).
    *
    * Scale shape: one partial-aggregatable groupBy over lineitem onto
    * the r×c ≤ dozens-cell table; margins and terms are table-sized. */
  private val cramersV = QueryDef(
    fn = (spark, dir) => {
      val tab = Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag").as("rf"),
          col("l_linestatus").as("ls"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(false) // cell table feeds margins AND terms
      val rm = tab.groupBy(col("rf")).agg(sum(col("o")).as("r"))
      val cm = tab.groupBy(col("ls")).agg(sum(col("o")).as("c"))
      val tot = tab.agg(sum(col("o")).as("n"),
        countDistinct(col("rf")).as("kr"),
        countDistinct(col("ls")).as("kc"))
      def dd(c: Column) = c.cast("double")
      val terms = tab.join(rm, "rf").join(cm, "ls")
        .crossJoin(broadcast(tot))
        .withColumn("term",
          (floor((dd(col("o")) * dd(col("n")) - dd(col("r")) * dd(col("c")))
            * (dd(col("o")) * dd(col("n")) - dd(col("r")) * dd(col("c")))
            / (dd(col("n")) * dd(col("r")) * dd(col("c")))
            * 1e9 + 0.5) / 1e9).cast(DecimalType(28, 9)))
      val s = terms.agg(max(col("kr")).as("kr"), max(col("kc")).as("kc"),
        max(col("n")).as("n"), sum(col("term")).as("chi2d"))
      s.select(col("kr"), col("kc"), col("n"),
        r6(dd(col("chi2d"))).as("chi2"),
        floor(dd(col("chi2d"))
          / (dd(col("n")) * dd(least(col("kr"), col("kc")) - 1))
          * 1e6 + 0.5).cast("long").as("v2_e6"))
    },
    oracle = Some(
      """WITH tab AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    COUNT(*) AS o FROM lineitem GROUP BY 1, 2),
        |rm AS (SELECT rf, SUM(o) AS r FROM tab GROUP BY 1),
        |cm AS (SELECT ls, SUM(o) AS c FROM tab GROUP BY 1),
        |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    COUNT(DISTINCT rf) AS kr, COUNT(DISTINCT ls) AS kc FROM tab),
        |t AS (SELECT kr, kc, n,
        |    CAST(floor((CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |      * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS term
        |  FROM tab JOIN rm USING (rf) JOIN cm USING (ls) CROSS JOIN tot),
        |s AS (SELECT MAX(kr) AS kr, MAX(kc) AS kc, MAX(n) AS n,
        |    CAST(SUM(term) AS DECIMAL(38,9)) AS chi2d FROM t)
        |SELECT kr, kc, n,
        |  floor(CAST(chi2d AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS chi2,
        |  CAST(floor(CAST(chi2d AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(LEAST(kr, kc) - 1 AS DOUBLE))
        |    * 1000000.0 + 0.5) AS BIGINT) AS v2_e6
        |FROM s""".stripMargin))

  // --- Jonckheere-Terpstra --------------------------------------------------

  /** Jonckheere–Terpstra test for an ORDERED trend (Jonckheere 1954,
    * Terpstra 1952): do quantities drift monotonically across the 1996
    * ship months? The a-priori-ordered-alternative sibling of
    * q_kruskal_wallis (which only detects SOME difference): J = Σ over
    * ordered group pairs i<j of the Mann-Whitney count
    * U_ij = #(x_i < x_j) + ½·#(x_i = x_j).
    *
    * Both axes are bounded (12 months × ≤50 quantities), so everything
    * derives from the ≤600-cell (month, quantity) grid: J from one
    * grid×grid join restricted to g1 < g2 (each ordered group pair's
    * value-pair mass in one pass), the null mean from group sizes, and
    * the TIE-CORRECTED variance (the Kendall-form three-term formula)
    * from the group-size and pooled-value-tie marginals. Integer
    * discipline: jt2 = 2J (doubles the ½-ties away) and
    * e4 = 4·E[J] = N²−Σnᵢ² are EXACT BIGINTs; the variance terms are
    * exact integer sums (< 2⁵³, so their double images are exact) and z
    * composes through division/sqrt only — IEEE-correctly-rounded on
    * both engines, the q_anova lint-safe pattern — pinned at 1e-6 with
    * the identical association order in the oracle. z = (2·jt2 − e4) /
    * (4·√V), V = S1/72 + S2g·S2t/(36·N(N−1)(N−2)) + S3g·S3t/(8·N(N−1)).
    *
    * Scale shape: one partial-aggregatable groupBy(month, qty) over the
    * year's lineitems; the pair join and every marginal run on the
    * value-domain grid. */
  private val jonckheere = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .filter(year(col("l_shipdate").cast("date")) === 1996)
        .select(month(col("l_shipdate").cast("date")).cast("long").as("g"),
          floor(col("l_quantity") + 0.5).cast("long").as("q"))
      val cells = li.groupBy(col("g"), col("q"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds the pair join twice + 2 marginals
      val a = cells.select(col("g").as("g1"), col("q").as("q1"),
        col("c").as("c1"))
      val b = cells.select(col("g").as("g2"), col("q").as("q2"),
        col("c").as("c2"))
      val jt = a.join(b, col("g1") < col("g2"))
        .agg(sum(when(col("q1") < col("q2"), lit(2L) * col("c1") * col("c2"))
          .when(col("q1") === col("q2"), col("c1") * col("c2"))
          .otherwise(0L)).as("jt2"))
      val gm = cells.groupBy(col("g")).agg(sum(col("c")).as("n"))
        .agg(sum(col("n")).as("nn"),
          sum(col("n") * col("n")).as("sn2"),
          sum(col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)).as("s1g"),
          sum(col("n") * (col("n") - 1) * (col("n") - 2)).as("s2g"),
          sum(col("n") * (col("n") - 1)).as("s3g"))
      val tm = cells.groupBy(col("q")).agg(sum(col("c")).as("t"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("s1t"),
          sum(col("t") * (col("t") - 1) * (col("t") - 2)).as("s2t"),
          sum(col("t") * (col("t") - 1)).as("s3t"))
      jt.crossJoin(broadcast(gm)).crossJoin(broadcast(tm))
        .withColumn("e4", col("nn") * col("nn") - col("sn2"))
        .withColumn("s1", expr("nn * (nn - 1) * (2 * nn + 5) - s1g - s1t"))
        .withColumn("v", expr(
          "CAST(s1 AS DOUBLE) / 72.0"
            + " + (CAST(s2g AS DOUBLE) * CAST(s2t AS DOUBLE))"
            + " / (36.0 * CAST(nn * (nn - 1) * (nn - 2) AS DOUBLE))"
            + " + (CAST(s3g AS DOUBLE) * CAST(s3t AS DOUBLE))"
            + " / (8.0 * CAST(nn * (nn - 1) AS DOUBLE))"))
        // V = 0 (every row one value — degenerate) leaves z undefined:
        // pinned to NULL/false explicitly on both engines rather than
        // leaning on division-by-zero behavior (the q_capture_recapture
        // m = 0 discipline)
        .withColumn("zr", expr(
          "CASE WHEN v <= 0.0 THEN CAST(NULL AS DOUBLE)"
            + " ELSE CAST(2 * jt2 - e4 AS DOUBLE) / (4.0 * sqrt(v)) END"))
        .select(col("nn").as("n"), col("jt2"), col("e4"),
          // 1e6 (a DOUBLE literal) — 1000000.0 parses as DECIMAL in
          // Spark SQL and would leak a DECIMAL emission column
          expr("floor(zr * 1e6 + 0.5) / 1e6").as("z"),
          expr("CASE WHEN zr IS NULL THEN false"
            + " ELSE abs(zr) > 1.959964 END").as("reject"))
    },
    oracle = Some(
      """WITH b AS (SELECT CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT)
        |    AS g, CAST(floor(l_quantity + 0.5) AS BIGINT) AS q
        |  FROM lineitem
        |  WHERE year(CAST(l_shipdate AS DATE)) = 1996),
        |cells AS (SELECT g, q, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |jt AS (SELECT CAST(SUM(CASE WHEN x.q < y.q THEN 2 * x.c * y.c
        |    WHEN x.q = y.q THEN x.c * y.c ELSE 0 END) AS BIGINT) AS jt2
        |  FROM cells x JOIN cells y ON x.g < y.g),
        |gm AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(n * n) AS BIGINT) AS sn2,
        |    CAST(SUM(n * (n - 1) * (2 * n + 5)) AS BIGINT) AS s1g,
        |    CAST(SUM(n * (n - 1) * (n - 2)) AS BIGINT) AS s2g,
        |    CAST(SUM(n * (n - 1)) AS BIGINT) AS s3g
        |  FROM (SELECT g, SUM(c) AS n FROM cells GROUP BY 1)),
        |tm AS (SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS s1t,
        |    CAST(SUM(t * (t - 1) * (t - 2)) AS BIGINT) AS s2t,
        |    CAST(SUM(t * (t - 1)) AS BIGINT) AS s3t
        |  FROM (SELECT q, SUM(c) AS t FROM cells GROUP BY 1)),
        |s AS (SELECT jt2, nn, nn * nn - sn2 AS e4,
        |    nn * (nn - 1) * (2 * nn + 5) - s1g - s1t AS s1,
        |    s2g, s2t, s3g, s3t
        |  FROM jt CROSS JOIN gm CROSS JOIN tm),
        |v AS (SELECT jt2, nn, e4,
        |    CAST(s1 AS DOUBLE) / 72.0
        |      + (CAST(s2g AS DOUBLE) * CAST(s2t AS DOUBLE))
        |      / (36.0 * CAST(nn * (nn - 1) * (nn - 2) AS DOUBLE))
        |      + (CAST(s3g AS DOUBLE) * CAST(s3t AS DOUBLE))
        |      / (8.0 * CAST(nn * (nn - 1) AS DOUBLE)) AS vv
        |  FROM s),
        |z AS (SELECT jt2, nn, e4,
        |    CASE WHEN vv <= 0.0 THEN CAST(NULL AS DOUBLE)
        |      ELSE CAST(2 * jt2 - e4 AS DOUBLE) / (4.0 * sqrt(vv)) END AS zr
        |  FROM v)
        |SELECT nn AS n, jt2, e4,
        |  floor(zr * 1000000.0 + 0.5) / 1000000.0 AS z,
        |  CASE WHEN zr IS NULL THEN false
        |    ELSE abs(zr) > 1.959964 END AS reject
        |FROM z""".stripMargin))

  // --- Page's L ---------------------------------------------------------------

  /** Page's L trend test (Page 1963): the BLOCKED ordered-alternative
    * sibling of q_jonckheere (and the ordered sibling of
    * q_friedman_test): within each complete ship YEAR (block), the 12
    * monthly revenues rank 1..12; L = Σ_j j·R_j with R_j = month j's
    * rank sum across blocks. A monotone within-year revenue drift pushes
    * L away from its null mean b·k(k+1)²/4.
    *
    * Blocks must be complete for the 1..k rank frame, so years missing a
    * month are dropped BY DATA (count(distinct month) = 12 — the fixture
    * cuts 2001 at November, so b = 6 at every SF, derived not assumed).
    * Rank keys are the exact rev_e6 integers (ties measure-zero, broken
    * by month deterministically on both engines). Everything integral:
    * with d = 4L − b·k(k+1)², z² = 9·d²/(b·k²(k+1)²(k−1)) — emitted
    * sign-split as z2_e6 (the q_mann_whitney pattern) and the 5%
    * decision cross-multiplied against 3.841459·denominator. No double
    * anywhere.
    *
    * Scale shape: one partial-aggregatable (year, month) revenue rollup;
    * ranks ride year-partitioned windows on the ≤84-row grid. */
  private val pageTrend = QueryDef(
    fn = (spark, dir) => {
      val vol = (col("l_extendedprice").cast(DecimalType(12, 4))
        * (lit(1) - col("l_discount").cast(DecimalType(12, 4))))
      val grid = Tables.lineitem(spark, dir)
        .select(year(col("l_shipdate").cast("date")).cast("long").as("y"),
          month(col("l_shipdate").cast("date")).cast("long").as("m"),
          vol.as("v"))
        .groupBy(col("y"), col("m"))
        .agg((sum(col("v")) * 1000000).cast("long").as("rev_e6"))
      val complete = grid.groupBy(col("y"))
        .agg(countDistinct(col("m")).as("nm"))
        .filter(col("nm") === 12).select(col("y"))
      val ranked = grid.join(broadcast(complete), "y")
        .withColumn("r", row_number().over(
          Window.partitionBy(col("y"))
            .orderBy(col("rev_e6").asc, col("m").asc)))
      val s = ranked.agg(
        countDistinct(col("y")).as("b"),
        sum(col("m") * col("r")).as("l"))
        .withColumn("k", lit(12L))
        .withColumn("d", expr(
          "CAST(4 * l - b * k * (k + 1) * (k + 1) AS DECIMAL(38,0))"))
        .withColumn("den", expr(
          "CAST(b * k * k * (k + 1) * (k + 1) * (k - 1) AS DECIMAL(38,0))"))
      s.select(col("b"), col("k"), col("l"),
        (when(col("d") < 0, -1L).otherwise(1L)
          * expr("(9 * d * d * CAST(1000000 AS DECIMAL(38,0))) div den"))
          .as("z2_e6"),
        expr("9 * d * d * CAST(1000000 AS DECIMAL(38,0))"
          + " > CAST(3841459 AS DECIMAL(38,0)) * den").as("reject"))
        // degenerate no-complete-year pin (round-14 ADVICE): the
        // ungrouped agg emits one b=0/null row over an empty grid while
        // a grouped oracle would emit none — drop it on BOTH engines so
        // a fixture without a complete ship year stays hash-identical
        .filter(col("b") > 0)
    },
    oracle = Some(
      """WITH g AS (SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT)
        |    AS y, CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS m,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |      * (1 - CAST(l_discount AS DECIMAL(12,4)))) * 1000000
        |      AS BIGINT) AS rev_e6
        |  FROM lineitem GROUP BY 1, 2),
        |cy AS (SELECT y FROM g GROUP BY y
        |  HAVING COUNT(DISTINCT m) = 12),
        |rk AS (SELECT g.y, g.m, row_number() OVER (
        |    PARTITION BY g.y ORDER BY g.rev_e6 ASC, g.m ASC) AS r
        |  FROM g JOIN cy USING (y)),
        |s AS (SELECT CAST(COUNT(DISTINCT y) AS HUGEINT) AS b,
        |    CAST(12 AS HUGEINT) AS k,
        |    CAST(SUM(m * r) AS HUGEINT) AS l
        |  FROM rk),
        |t AS (SELECT b, k, l,
        |    4 * l - b * k * (k + 1) * (k + 1) AS d,
        |    b * k * k * (k + 1) * (k + 1) * (k - 1) AS den
        |  FROM s)
        |SELECT CAST(b AS BIGINT) AS b, CAST(k AS BIGINT) AS k,
        |  CAST(l AS BIGINT) AS l,
        |  CAST((CASE WHEN d < 0 THEN -1 ELSE 1 END)
        |    * ((9 * d * d * 1000000) // den) AS BIGINT) AS z2_e6,
        |  9 * d * d * 1000000 > 3841459 * den AS reject
        |FROM t
        |WHERE b > 0""".stripMargin))

  // --- Kendall's W ------------------------------------------------------------

  /** Kendall's coefficient of concordance W (Kendall & Babington Smith
    * 1939): how strongly do the complete ship YEARS agree on the
    * within-year ranking of the 12 months by revenue? The many-rater
    * ranking-agreement statistic — the rankings sibling of
    * q_cohens_kappa, on the same blocks × treatments grid as
    * q_page_trend (which asks for a SPECIFIC monotone order; W asks for
    * ANY shared order). W = 1 means every year ranks the months
    * identically; the χ² link χ² = b(k−1)·W gives the Friedman
    * decision.
    *
    * Fully integral: with R_j = month j's rank sum and
    * d_j = 2R_j − b(k+1) (integer deviations from the null mean),
    * W = 3·Σd² / (b²·k(k²−1)) and χ² = 3·Σd² / (b·k(k+1)) — both
    * emitted as exact cross-multiplied ⌊·10⁶⌋ integers, the 5% χ²₁₁
    * decision compared without any division. No double anywhere.
    *
    * Scale shape: the (year, month) revenue rollup + year-partitioned
    * ranks on the ≤84-row grid (shared shape with q_page_trend);
    * everything after is a 12-row marginal. */
  private val kendallW = QueryDef(
    fn = (spark, dir) => {
      val vol = (col("l_extendedprice").cast(DecimalType(12, 4))
        * (lit(1) - col("l_discount").cast(DecimalType(12, 4))))
      val grid = Tables.lineitem(spark, dir)
        .select(year(col("l_shipdate").cast("date")).cast("long").as("y"),
          month(col("l_shipdate").cast("date")).cast("long").as("m"),
          vol.as("v"))
        .groupBy(col("y"), col("m"))
        .agg((sum(col("v")) * 1000000).cast("long").as("rev_e6"))
      val complete = grid.groupBy(col("y"))
        .agg(countDistinct(col("m")).as("nm"))
        .filter(col("nm") === 12).select(col("y"))
      val ranked = grid.join(broadcast(complete), "y")
        .withColumn("r", row_number().over(
          Window.partitionBy(col("y"))
            .orderBy(col("rev_e6").asc, col("m").asc)))
      // b (complete-year count) is a bounded scalar — collected and
      // re-injected as a literal (the documented driver-collect
      // pattern), keeping d_j = 2R_j − b(k+1) a plain scan expression
      val b = complete.count()
      val marg = ranked.groupBy(col("m")).agg(sum(col("r")).as("rj"))
      val s = marg.agg(count(lit(1)).as("k"),
        sum((lit(2) * col("rj") - lit(b * 13))
          * (lit(2) * col("rj") - lit(b * 13))).as("sd2"))
        .withColumn("b", lit(b))
      s.select(col("b"), col("k"),
          expr("CAST(3 * sd2 AS DECIMAL(38,0))").as("num"),
          expr("CAST(b * b * k * (k * k - 1) AS DECIMAL(38,0))").as("denw"),
          expr("CAST(b * k * (k + 1) AS DECIMAL(38,0))").as("denc"))
        .select(col("b"), col("k"),
          expr("CAST((num * CAST(1000000 AS DECIMAL(38,0))) div denw"
            + " AS BIGINT)").as("w_e6"),
          expr("CAST((num * CAST(1000000 AS DECIMAL(38,0))) div denc"
            + " AS BIGINT)").as("chi2_e6"),
          expr("num * CAST(1000000 AS DECIMAL(38,0))"
            + " > CAST(19675138 AS DECIMAL(38,0)) * denc").as("reject"))
        // degenerate no-complete-year pin (round-14 ADVICE): with an
        // empty grid the ungrouped agg emits one k=0/null row, but the
        // oracle's GROUP BY over the empty marginal emits none — drop
        // the b=0 row so both engines emit zero rows identically
        .filter(col("b") > 0)
    },
    oracle = Some(
      """WITH g AS (SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT)
        |    AS y, CAST(month(CAST(l_shipdate AS DATE)) AS BIGINT) AS m,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |      * (1 - CAST(l_discount AS DECIMAL(12,4)))) * 1000000
        |      AS BIGINT) AS rev_e6
        |  FROM lineitem GROUP BY 1, 2),
        |cy AS (SELECT y FROM g GROUP BY y
        |  HAVING COUNT(DISTINCT m) = 12),
        |rk AS (SELECT g.y, g.m, row_number() OVER (
        |    PARTITION BY g.y ORDER BY g.rev_e6 ASC, g.m ASC) AS r
        |  FROM g JOIN cy USING (y)),
        |bb AS (SELECT CAST(COUNT(*) AS HUGEINT) AS b FROM cy),
        |mg AS (SELECT m, CAST(SUM(r) AS HUGEINT) AS rj FROM rk GROUP BY m),
        |s AS (SELECT bb.b, CAST(COUNT(*) AS HUGEINT) AS k,
        |    SUM((2 * mg.rj - bb.b * 13) * (2 * mg.rj - bb.b * 13)) AS sd2
        |  FROM mg CROSS JOIN bb GROUP BY bb.b),
        |t AS (SELECT b, k, 3 * sd2 AS num,
        |    b * b * k * (k * k - 1) AS denw,
        |    b * k * (k + 1) AS denc
        |  FROM s)
        |SELECT CAST(b AS BIGINT) AS b, CAST(k AS BIGINT) AS k,
        |  CAST((num * 1000000) // denw AS BIGINT) AS w_e6,
        |  CAST((num * 1000000) // denc AS BIGINT) AS chi2_e6,
        |  num * 1000000 > 19675138 * denc AS reject
        |FROM t
        |WHERE b > 0""".stripMargin))

  // --- Cochran's Q ------------------------------------------------------------

  /** Cochran's Q test (Cochran 1950): do k = 3 BINARY order-risk flags —
    * high priority, any returned line, any 60-days-late line — fire at
    * different rates, accounting for their within-order correlation?
    * The binary sibling of q_friedman_test (Q IS Friedman on 0/1
    * responses) and the blocked complement of q_mcnemar's 2-treatment
    * case.
    *
    * Fully integral: with row sums Rᵢ (flags per order), column sums Cⱼ
    * and S = ΣCⱼ, Q = (k−1)(k·ΣCⱼ² − S²) / (k·ΣRᵢ − ΣRᵢ²) — emitted
    * cross-multiplied as q_e6 plus the χ²₂ 5% decision
    * ((k−1)(kΣC²−S²)·10⁶ > 5991465·denominator), exact DECIMAL(38,0)
    * end to end. Orders with Rᵢ ∈ {0, k} contribute nothing to either
    * side (the textbook's concordant-rows remark) but stay in n — the
    * statistic is identical either way, so nothing is filtered.
    *
    * Scale shape: the line-level flags collapse in ONE
    * partial-aggregatable groupBy(orderkey) over lineitem, join orders
    * (order-keyed hash join), then a single 5-sum aggregation; the
    * column grid is 3 values carried as conditional sums. */
  private val cochranQ = QueryDef(
    fn = (spark, dir) => {
      val lateByOrder = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(
          max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("f_ret"),
          max(when(col("l_shipdate").cast("date")
              > expr("CAST(o_orderdate AS DATE) + INTERVAL 60 DAY"), 1L)
            .otherwise(0L)).as("f_late"),
          max(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("f_pri"))
      val s = lateByOrder.agg(
        count(lit(1)).as("n"),
        sum(col("f_pri")).as("c1"),
        sum(col("f_ret")).as("c2"),
        sum(col("f_late")).as("c3"),
        sum(col("f_pri") + col("f_ret") + col("f_late")).as("sr"),
        sum((col("f_pri") + col("f_ret") + col("f_late"))
          * (col("f_pri") + col("f_ret") + col("f_late"))).as("sr2"))
      s.select(col("n"), col("c1"), col("c2"), col("c3"),
          expr("CAST(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)"
            + " - (c1 + c2 + c3) * (c1 + c2 + c3)) AS DECIMAL(38,0))")
            .as("num"),
          expr("CAST(3 * sr - sr2 AS DECIMAL(38,0))").as("den"))
        .select(col("n"), col("c1"), col("c2"), col("c3"),
          expr("CASE WHEN den = 0 THEN CAST(NULL AS BIGINT)"
            + " ELSE CAST((num * CAST(1000000 AS DECIMAL(38,0))) div den"
            + " AS BIGINT) END").as("q_e6"),
          expr("CASE WHEN den = 0 THEN false"
            + " ELSE num * CAST(1000000 AS DECIMAL(38,0))"
            + " > CAST(5991465 AS DECIMAL(38,0)) * den END").as("reject"))
    },
    oracle = Some(
      """WITH f AS (SELECT o_orderkey,
        |    MAX(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS f_pri,
        |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS f_ret,
        |    MAX(CASE WHEN CAST(l_shipdate AS DATE)
        |        > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
        |      THEN 1 ELSE 0 END) AS f_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1),
        |s AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(f_pri) AS HUGEINT) AS c1,
        |    CAST(SUM(f_ret) AS HUGEINT) AS c2,
        |    CAST(SUM(f_late) AS HUGEINT) AS c3,
        |    CAST(SUM(f_pri + f_ret + f_late) AS HUGEINT) AS sr,
        |    CAST(SUM((f_pri + f_ret + f_late) * (f_pri + f_ret + f_late))
        |      AS HUGEINT) AS sr2
        |  FROM f),
        |t AS (SELECT n, c1, c2, c3,
        |    2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)
        |      - (c1 + c2 + c3) * (c1 + c2 + c3)) AS num,
        |    3 * sr - sr2 AS den
        |  FROM s)
        |SELECT n, CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
        |  CAST(c3 AS BIGINT) AS c3,
        |  CASE WHEN den = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST((num * 1000000) // den AS BIGINT) END AS q_e6,
        |  CASE WHEN den = 0 THEN false
        |    ELSE num * 1000000 > 5991465 * den END AS reject
        |FROM t""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_cochran_q" -> cochranQ,
    "q_kendall_w" -> kendallW,
    "q_jonckheere" -> jonckheere,
    "q_page_trend" -> pageTrend,
    "q_qq_table" -> qqTable,
    "q_cramers_v" -> cramersV,
    "q_friedman_test" -> friedman,
    "q_mood_median" -> moodMedian,
    "q_hodges_lehmann" -> hodgesLehmann,
    "q_ks_test" -> ksTest,
    "q_kruskal_wallis" -> kruskalWallis,
    "q_kendall_tau_rows" -> kendallTau,
    "q_mann_whitney" -> mannWhitney,
    "q_runs_test" -> runsTest,
    "q_spearman_corr" -> spearmanCorr,
    "q_theil_sen" -> theilSen)
}
