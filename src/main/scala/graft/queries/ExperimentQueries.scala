package graft.queries

import graft.QueryDef
import graft.ops.SessionCache.MemoOps
import graft.ops.{Tables, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 experimentation / inference extensions: one-way ANOVA,
  * CUPED variance reduction, Benjamini-Hochberg FDR control, and
  * Kendall's tau-b — the readouts that turn the q_ab_test family into a
  * full experimentation platform (omnibus test across >2 groups,
  * pre-period covariate adjustment, many-comparisons discipline, and a
  * rank correlation robust to the outliers Pearson is not).
  *
  * Numeric discipline (inherited from StatsQueries): metrics quantized to
  * integer micro-units, sufficient statistics exact (long /
  * DECIMAL(38,0)), per-group transcendental-free terms floored to 9dp
  * DECIMALs before any cross-group SUM (decimal addition is exact and
  * order-insensitive — double partials are not), emitted doubles 6dp
  * floored. The DuckDB twins replay the identical expression tree.
  *
  * Scale stance: every query is sufficient-statistics-shaped — one
  * fact-sized partial-aggregatable shuffle down to a user / group / month
  * key, then all remaining arithmetic on a domain-sized frame (5 event
  * types, 2 variants, 25 nations, ~80 months). Nothing row-sized reaches
  * a window or a driver.
  */
object ExperimentQueries {

  private def r6(c: Column): Column = TextAnalysis.round6(c)
  private val d380 = DecimalType(38, 0)
  private val d289 = DecimalType(28, 9)
  /** floor-round a double term to 9dp before it enters an exact sum. */
  private def f9(c: Column): Column = (floor(c * 1e9 + 0.5) / 1e9).cast(d289)
  /** 9dp floor of a scalar double kept as double (no sum follows). */
  private def f9d(c: Column): Column = floor(c * 1e9 + 0.5) / 1e9

  // --- one-way ANOVA ---------------------------------------------------------

  /** One-way ANOVA across the five event types on the event value: is any
    * type's mean value different? F = (SSB/(k−1)) / (SSW/(n−k)), with
    * effect size η² = SSB/(SSB+SSW).
    *
    * Sufficient statistics per group: n, Σv, Σv² over µ$-quantized longs
    * (v ≤ ~1e9 µ$, so the long square is exact); grand totals are the
    * exact sums of the five group rows. The per-group between/within
    * terms — n_i(m_i−m)² and (Σv²_i − (Σv_i)²/n_i)/1e12 — are doubles
    * composed identically on both engines from those exact integers,
    * floored to 9dp DECIMAL(28,9) and summed exactly, so group iteration
    * order cannot split the engines.
    *
    * Scale shape: ONE partial-aggregatable groupBy over the fact table
    * (combine collapses each map task to ≤k rows), then k=5 rows of
    * arithmetic with the one-row totals broadcast back — no window, no
    * second scan, no driver state.
    */
  private val anova = QueryDef(
    fn = (spark, dir) => {
      val vq = floor(col("value") * 1e6 + 0.5).cast("long")
      val g = Tables.events(spark, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"), vq.as("vq"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_i"), sum(col("vq")).as("sv_i"),
          sum((col("vq") * col("vq")).cast(d380)).as("sq_i"))
      val tot = g.agg(count(lit(1)).as("k"), sum(col("n_i")).as("n"),
        sum(col("sv_i")).as("sv"))
      val mi = col("sv_i").cast("double") / col("n_i").cast("double") / 1e6
      val m = col("sv").cast("double") / col("n").cast("double") / 1e6
      val terms = g.crossJoin(broadcast(tot))
        .select(col("k"), col("n"),
          f9(col("n_i").cast("double") * (mi - m) * (mi - m)).as("bt"),
          f9((col("sq_i").cast("double")
            - col("sv_i").cast("double") * col("sv_i").cast("double")
              / col("n_i").cast("double")) / 1e12).as("wt"))
      val s = terms.agg(max(col("k")).as("k"), max(col("n")).as("n"),
        sum(col("bt")).as("ssb"), sum(col("wt")).as("ssw"))
      val ssb = col("ssb").cast("double")
      val ssw = col("ssw").cast("double")
      val df1 = (col("k") - 1).cast("double")
      val df2 = (col("n") - col("k")).cast("double")
      s.select(col("k"), col("n"), r6(ssb).as("ss_between"),
        r6(ssw).as("ss_within"),
        r6((ssb / df1) / (ssw / df2)).as("f_stat"),
        r6(ssb / (ssb + ssw)).as("eta_sq"))
    },
    oracle = Some(
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type, COUNT(*) AS n_i,
        |    CAST(SUM(vq) AS BIGINT) AS sv_i,
        |    CAST(SUM(CAST(vq * vq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq_i
        |  FROM e GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS k, CAST(SUM(n_i) AS BIGINT) AS n,
        |    CAST(SUM(sv_i) AS BIGINT) AS sv FROM g),
        |t AS (SELECT k, n,
        |    CAST(floor(CAST(n_i AS DOUBLE)
        |      * (CAST(sv_i AS DOUBLE) / CAST(n_i AS DOUBLE) / 1000000.0
        |         - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
        |      * (CAST(sv_i AS DOUBLE) / CAST(n_i AS DOUBLE) / 1000000.0
        |         - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS bt,
        |    CAST(floor((CAST(sq_i AS DOUBLE)
        |      - CAST(sv_i AS DOUBLE) * CAST(sv_i AS DOUBLE) / CAST(n_i AS DOUBLE))
        |      / 1000000000000.0
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS wt
        |  FROM g CROSS JOIN tot),
        |s AS (SELECT MAX(k) AS k, MAX(n) AS n,
        |    CAST(SUM(bt) AS DECIMAL(38,9)) AS ssb,
        |    CAST(SUM(wt) AS DECIMAL(38,9)) AS ssw FROM t)
        |SELECT k, n,
        |  floor(CAST(ssb AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS ss_between,
        |  floor(CAST(ssw AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS ss_within,
        |  floor((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
        |    / (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS f_stat,
        |  floor(CAST(ssb AS DOUBLE) / (CAST(ssb AS DOUBLE) + CAST(ssw AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS eta_sq
        |FROM s""".stripMargin))

  // --- CUPED variance reduction ----------------------------------------------

  /** CUPED-adjusted A/B readout (Deng et al., WSDM'13): per user, X = the
    * pre-period value total (first half of the event window) and Y = the
    * experiment-period total; θ = cov(X,Y)/var(X) fitted on ALL users
    * (X is pre-assignment, so pooling is unbiased); the adjusted metric
    * Y' = Y − θ(X − X̄) keeps the same mean but sheds the variance X
    * explains (reduction = ρ²(X,Y)). Reported: θ, the variance-reduction
    * ratio, per-variant adjusted means, and Welch's t on Y'.
    *
    * Exactness: per-user µ$-sums are longs; the global/per-variant
    * sufficient statistics (Σx, Σy, Σx², Σy², Σxy) accumulate long
    * products in DECIMAL(38,0); θ is composed from their doubles in one
    * fixed order and floored to 9dp before it enters the adjusted means
    * and variances, so both engines adjust by the identical θ.
    *
    * Scale shape: one user-keyed partial-aggregatable groupBy, then a
    * 2-row conditional aggregation — the q_ab_test pattern with a
    * covariate column riding along. No second scan for the pre-period:
    * both X and Y come from the same pass as conditional sums.
    */
  private val cuped = QueryDef(
    fn = (spark, dir) => {
      val vq = floor(col("value") * 1e6 + 0.5).cast("long")
      val pre = to_date(col("ts")) < lit("2024-01-15").cast("date")
      val perUser = Tables.events(spark, dir)
        .filter(col("value").isNotNull)
        .select(col("user_id"), vq.as("vq"), pre.as("pre"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("pre"), col("vq")).otherwise(0L)).as("x"),
          sum(when(!col("pre"), col("vq")).otherwise(0L)).as("y"))
        .withColumn("variant", TextAnalysis.hashBucket(col("user_id"), 2))
      def side(v: Int, c: Column) = sum(when(col("variant") === v, c))
      val g = perUser.agg(
        side(0, lit(1L)).as("n_a"), side(1, lit(1L)).as("n_b"),
        side(0, col("x")).as("sx_a"), side(1, col("x")).as("sx_b"),
        side(0, col("y")).as("sy_a"), side(1, col("y")).as("sy_b"),
        side(0, (col("x").cast(d380) * col("x"))).as("sxx_a"),
        side(1, (col("x").cast(d380) * col("x"))).as("sxx_b"),
        side(0, (col("y").cast(d380) * col("y"))).as("syy_a"),
        side(1, (col("y").cast(d380) * col("y"))).as("syy_b"),
        side(0, (col("x").cast(d380) * col("y"))).as("sxy_a"),
        side(1, (col("x").cast(d380) * col("y"))).as("sxy_b"))
      def d(n: String) = col(n).cast("double")
      val nd = (col("n_a") + col("n_b")).cast("double")
      val sx = d("sx_a") + d("sx_b")
      val sy = d("sy_a") + d("sy_b")
      val sxx = d("sxx_a") + d("sxx_b")
      val syy = d("syy_a") + d("syy_b")
      val sxy = d("sxy_a") + d("sxy_b")
      val covN = nd * sxy - sx * sy
      val varxN = nd * sxx - sx * sx
      val varyN = nd * syy - sy * sy
      // zero pre-period variance (degenerate fixture) → NULL, not an
      // ANSI error; DuckDB's /0 is NULL, so the engines agree
      val g2 = g.withColumn("theta",
          f9d(when(varxN =!= 0.0, covN / varxN)))
        .withColumn("vr",
          r6(when(varxN * varyN =!= 0.0, covN * covN / (varxN * varyN))))
      val th = col("theta")
      val xbar = (d("sx_a") + d("sx_b")) / (col("n_a") + col("n_b")).cast("double")
      def meanAdj(s: String) = {
        val n = d("n_" + s)
        (d("sy_" + s) / n - th * (d("sx_" + s) / n - xbar)) / 1e6
      }
      def varAdj(s: String) = {
        val n = d("n_" + s)
        val sAdj = d("sy_" + s) - th * d("sx_" + s)
        val sqAdj = d("syy_" + s) - th * 2.0 * d("sxy_" + s) +
          th * th * d("sxx_" + s)
        // a 1-user variant has no sample variance; the guard emits NULL
        // instead of an ANSI divide-by-zero (DuckDB's /0 is NULL too, so
        // the engines agree on degenerate fixtures)
        when(n > 1.0, (sqAdj - sAdj * sAdj / n) / (n - 1.0) / 1e12)
      }
      val tAdj = (meanAdj("a") - meanAdj("b")) /
        sqrt(varAdj("a") / d("n_a") + varAdj("b") / d("n_b"))
      g2.select(col("n_a"), col("n_b"), r6(th).as("theta"),
        col("vr").as("var_reduction"),
        r6(meanAdj("a")).as("mean_adj_a"), r6(meanAdj("b")).as("mean_adj_b"),
        r6(tAdj).as("t_adj"), (abs(tAdj) > 1.96).as("sig_adj"))
    },
    oracle = Some {
      val h = ExtensionQueries.dHash32("CAST(user_id AS VARCHAR)")
      s"""WITH pu AS (
         |  SELECT user_id, $h % 2 AS variant,
         |    SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
         |      THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
         |      ELSE 0 END) AS x,
         |    SUM(CASE WHEN NOT (CAST(ts AS DATE) < DATE '2024-01-15')
         |      THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
         |      ELSE 0 END) AS y
         |  FROM events WHERE value IS NOT NULL GROUP BY user_id, variant),
         |g AS (SELECT
         |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(SUM(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
         |    CAST(SUM(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
         |    CAST(SUM(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
         |    CAST(SUM(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
         |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(x AS HUGEINT) * x END) AS DECIMAL(38,0)) AS sxx_a,
         |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(x AS HUGEINT) * x END) AS DECIMAL(38,0)) AS sxx_b,
         |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(y AS HUGEINT) * y END) AS DECIMAL(38,0)) AS syy_a,
         |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(y AS HUGEINT) * y END) AS DECIMAL(38,0)) AS syy_b,
         |    CAST(SUM(CASE WHEN variant = 0 THEN CAST(x AS HUGEINT) * y END) AS DECIMAL(38,0)) AS sxy_a,
         |    CAST(SUM(CASE WHEN variant = 1 THEN CAST(x AS HUGEINT) * y END) AS DECIMAL(38,0)) AS sxy_b
         |  FROM pu),
         |c AS (SELECT *,
         |    CAST(n_a + n_b AS DOUBLE) AS nd,
         |    CAST(sx_a AS DOUBLE) + CAST(sx_b AS DOUBLE) AS sx,
         |    CAST(sy_a AS DOUBLE) + CAST(sy_b AS DOUBLE) AS sy,
         |    CAST(sxx_a AS DOUBLE) + CAST(sxx_b AS DOUBLE) AS sxx,
         |    CAST(syy_a AS DOUBLE) + CAST(syy_b AS DOUBLE) AS syy,
         |    CAST(sxy_a AS DOUBLE) + CAST(sxy_b AS DOUBLE) AS sxy
         |  FROM g),
         |c2 AS (SELECT *,
         |    floor((nd * sxy - sx * sy) / (nd * sxx - sx * sx)
         |      * 1000000000.0 + 0.5) / 1000000000.0 AS theta,
         |    floor((nd * sxy - sx * sy) * (nd * sxy - sx * sy)
         |      / ((nd * sxx - sx * sx) * (nd * syy - sy * sy))
         |      * 1000000.0 + 0.5) / 1000000.0 AS vr,
         |    sx / nd AS xbar
         |  FROM c),
         |c3 AS (SELECT *,
         |    (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         |      - theta * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) - xbar)) / 1000000.0 AS ma,
         |    (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         |      - theta * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) - xbar)) / 1000000.0 AS mb,
         |    ((CAST(syy_a AS DOUBLE) - theta * 2.0 * CAST(sxy_a AS DOUBLE)
         |        + theta * theta * CAST(sxx_a AS DOUBLE))
         |      - (CAST(sy_a AS DOUBLE) - theta * CAST(sx_a AS DOUBLE))
         |        * (CAST(sy_a AS DOUBLE) - theta * CAST(sx_a AS DOUBLE))
         |        / CAST(n_a AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) - 1.0) / 1000000000000.0 AS va,
         |    ((CAST(syy_b AS DOUBLE) - theta * 2.0 * CAST(sxy_b AS DOUBLE)
         |        + theta * theta * CAST(sxx_b AS DOUBLE))
         |      - (CAST(sy_b AS DOUBLE) - theta * CAST(sx_b AS DOUBLE))
         |        * (CAST(sy_b AS DOUBLE) - theta * CAST(sx_b AS DOUBLE))
         |        / CAST(n_b AS DOUBLE))
         |      / (CAST(n_b AS DOUBLE) - 1.0) / 1000000000000.0 AS vb
         |  FROM c2),
         |c4 AS (SELECT *,
         |    (ma - mb) / sqrt(va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE)) AS t
         |  FROM c3)
         |SELECT n_a, n_b,
         |  floor(theta * 1000000.0 + 0.5) / 1000000.0 AS theta,
         |  vr AS var_reduction,
         |  floor(ma * 1000000.0 + 0.5) / 1000000.0 AS mean_adj_a,
         |  floor(mb * 1000000.0 + 0.5) / 1000000.0 AS mean_adj_b,
         |  floor(t * 1000000.0 + 0.5) / 1000000.0 AS t_adj,
         |  abs(t) > 1.96 AS sig_adj
         |FROM c4""".stripMargin
    })

  // --- Benjamini-Hochberg FDR ------------------------------------------------

  /** Many-comparisons discipline: per-nation two-proportion z of the
    * high-value-order share (orders > $200k) vs the rest of the world,
    * converted to a distribution-free Chebyshev p-value bound
    * p = min(1, 1/z²), then Benjamini-Hochberg at α = 0.10: rank the m
    * p-values ascending, reject ranks ≤ i* = max{i : p(i) ≤ α·i/m}, and
    * report the BH-adjusted p — the tail-running minimum of p·m/i. The
    * Chebyshev bound is a valid (conservative) p-value for ANY metric
    * distribution, and — unlike a normal-CDF p — is a closed-form
    * rational both engines compute bit-identically (no erf anywhere).
    *
    * Scale shape: one orders⋈customer join (customer side is the
    * broadcast dim), one nation-keyed aggregation, then every window runs
    * on the 25-row nation frame. The tail-running minimum is the
    * (currentRow → unboundedFollowing) frame ordered by (p, name) — the
    * step-down scan expressed as a plan, not a loop.
    */
  private val fdrBh = QueryDef(
    fn = (spark, dir) => {
      val hi = (col("o_totalprice") > 200000).cast("long")
      val byNat = Tables.orders(spark, dir)
        .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(hi).as("x"), count(lit(1)).as("n"))
      val tot = byNat.agg(sum(col("x")).as("xt"), sum(col("n")).as("nt"),
        count(lit(1)).as("m"))
      val xd = col("x").cast("double")
      val nd = col("n").cast("double")
      val x2 = (col("xt") - col("x")).cast("double")
      val n2 = (col("nt") - col("n")).cast("double")
      val p1 = xd / nd
      val p2 = x2 / n2
      val pb = col("xt").cast("double") / col("nt").cast("double")
      val z = (p1 - p2) / sqrt(pb * (lit(1.0) - pb) * (lit(1.0) / nd + lit(1.0) / n2))
      val scored = byNat.crossJoin(broadcast(tot))
        .withColumn("z", z)
        // z = 0 (a nation exactly at the global rate) means no evidence:
        // p = 1 by definition. The explicit branch also keeps ANSI mode
        // from throwing on 1/z² (DuckDB would yield NULL there instead —
        // the CASE pins both engines to the same 1.0).
        .withColumn("p", f9d(when(col("z") * col("z") === 0.0, lit(1.0))
          .otherwise(least(lit(1.0), lit(1.0) / (col("z") * col("z"))))))
      val ord = Window.orderBy(col("p").asc, col("n_name").asc)
      val all = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val tail = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      scored
        .withColumn("i", row_number().over(ord))
        .withColumn("istar",
          max(when(col("p") * col("m").cast("double") / lit(0.10) <= col("i"),
            col("i"))).over(all))
        .withColumn("p_adj", least(lit(1.0),
          min(col("p") * col("m").cast("double") / col("i").cast("double"))
            .over(tail)))
        .select(col("n_name"), col("x"), col("n"), r6(col("z")).as("z"),
          col("p"), col("i"), r6(col("p_adj")).as("p_adj"),
          (col("i") <= coalesce(col("istar"), lit(0))).as("reject"))
        .orderBy("i")
    },
    oracle = Some(
      """WITH byn AS (
        |  SELECT n_name,
        |    CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    COUNT(*) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name),
        |tot AS (SELECT CAST(SUM(x) AS BIGINT) AS xt, CAST(SUM(n) AS BIGINT) AS nt,
        |    COUNT(*) AS m FROM byn),
        |sc AS (SELECT n_name, x, n, m,
        |    (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(xt - x AS DOUBLE) / CAST(nt - n AS DOUBLE))
        |    / sqrt(CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
        |        * (1.0 - CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))
        |        * (1.0 / CAST(n AS DOUBLE) + 1.0 / CAST(nt - n AS DOUBLE))) AS z
        |  FROM byn CROSS JOIN tot),
        |sp AS (SELECT *,
        |    floor(CASE WHEN z * z = 0.0 THEN 1.0
        |      ELSE least(1.0, 1.0 / (z * z)) END * 1000000000.0 + 0.5)
        |      / 1000000000.0 AS p
        |  FROM sc),
        |rk AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY p ASC, n_name ASC) AS INTEGER) AS i
        |  FROM sp),
        |st AS (SELECT *,
        |    MAX(CASE WHEN p * CAST(m AS DOUBLE) / 0.10 <= i THEN i END)
        |      OVER (ORDER BY p ASC, n_name ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS istar,
        |    least(1.0, MIN(p * CAST(m AS DOUBLE) / CAST(i AS DOUBLE))
        |      OVER (ORDER BY p ASC, n_name ASC
        |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS padj
        |  FROM rk)
        |SELECT n_name, x, n,
        |  floor(z * 1000000.0 + 0.5) / 1000000.0 AS z,
        |  p, i,
        |  floor(padj * 1000000.0 + 0.5) / 1000000.0 AS p_adj,
        |  i <= COALESCE(istar, 0) AS reject
        |FROM st ORDER BY i""".stripMargin))

  // --- Kendall's tau-b -------------------------------------------------------

  /** Kendall's tau-b between monthly order count and monthly revenue —
    * the rank correlation (robust to outlier months) with the standard
    * tie correction: τ_b = (C−D)/√((C+D+Tx)(C+D+Ty)).
    *
    * The pair space is DOMAIN-sized by construction: facts collapse to
    * the ~80-month grid first (one partial-aggregatable shuffle), and the
    * all-pairs comparison runs on months² ≈ 3k pairs — constant in the
    * corpus size, so the O(n²) step never touches fact rows (the same
    * stance as the calendar windows in ActivityQueries). Counts and
    * cent-quantized revenue are exact integers; the only double is the
    * final ratio.
    */
  private val kendallTau = QueryDef(
    fn = (spark, dir) => {
      val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
      val m = Tables.orders(spark, dir)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
          cents.as("cents"))
        .groupBy(col("mon"))
        .agg(count(lit(1)).as("c"), sum(col("cents")).as("rev"))
      val a = m.select(col("mon").as("mon_a"), col("c").as("ca"), col("rev").as("ra"))
      val b = m.select(col("mon").as("mon_b"), col("c").as("cb"), col("rev").as("rb"))
      val pairs = a.join(broadcast(b), col("mon_a") < col("mon_b"))
      val conc = ((col("ca") < col("cb") && col("ra") < col("rb")) ||
        (col("ca") > col("cb") && col("ra") > col("rb"))).cast("long")
      val disc = ((col("ca") < col("cb") && col("ra") > col("rb")) ||
        (col("ca") > col("cb") && col("ra") < col("rb"))).cast("long")
      val tx = (col("ca") === col("cb") && col("ra") =!= col("rb")).cast("long")
      val ty = (col("ra") === col("rb") && col("ca") =!= col("cb")).cast("long")
      val s = pairs.agg(sum(conc).as("conc"), sum(disc).as("disc"),
        sum(tx).as("ties_x"), sum(ty).as("ties_y"), count(lit(1)).as("n_pairs"))
      val cd = col("conc").cast("double")
      val dd = col("disc").cast("double")
      val txd = col("ties_x").cast("double")
      val tyd = col("ties_y").cast("double")
      s.select(col("conc"), col("disc"), col("ties_x"), col("ties_y"),
        col("n_pairs"),
        r6((cd - dd) / sqrt((cd + dd + txd) * (cd + dd + tyd))).as("tau_b"))
    },
    oracle = Some(
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS mon, COUNT(*) AS c,
        |    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |p AS (SELECT a.c AS ca, a.rev AS ra, b.c AS cb, b.rev AS rb
        |  FROM m a JOIN m b ON a.mon < b.mon),
        |s AS (SELECT
        |    CAST(SUM(CASE WHEN (ca < cb AND ra < rb) OR (ca > cb AND ra > rb)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS conc,
        |    CAST(SUM(CASE WHEN (ca < cb AND ra > rb) OR (ca > cb AND ra < rb)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS disc,
        |    CAST(SUM(CASE WHEN ca = cb AND ra <> rb THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
        |    CAST(SUM(CASE WHEN ra = rb AND ca <> cb THEN 1 ELSE 0 END) AS BIGINT) AS ties_y,
        |    COUNT(*) AS n_pairs
        |  FROM p)
        |SELECT conc, disc, ties_x, ties_y, n_pairs,
        |  floor((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
        |    / sqrt((CAST(conc AS DOUBLE) + CAST(disc AS DOUBLE) + CAST(ties_x AS DOUBLE))
        |         * (CAST(conc AS DOUBLE) + CAST(disc AS DOUBLE) + CAST(ties_y AS DOUBLE)))
        |    * 1000000.0 + 0.5) / 1000000.0 AS tau_b
        |FROM s""".stripMargin))

  /** Difference-in-differences: did BUILDING-segment customers' average
    * order value move differently across the 1996-01-01 boundary than
    * everyone else's? The canonical quasi-experimental estimator —
    * DID = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre) —
    * over the orders × customer join, outcome in EXACT integer cents
    * (floor(price·100 + 0.5), the q_er_clusters pattern).
    *
    * Numeric discipline: the four cell means never exist as doubles —
    * DID is ONE cross-multiplied rational (numerator = Σ±s_g·Πn_other,
    * denominator = Πn_g, both DECIMAL(38,0)-exact while s·n³ < 10³⁸ ≈
    * any realistic warehouse) emitted as round-toward-zero fixed-point:
    * sign(N)·⌊|N|·10⁶/D⌋. (Round-12 correction: on INTEGER/HUGEINT
    * operands the pinned DuckDB's `//` TRUNCATES toward zero — verified
    * -7 // 2 = -3 — matching Spark `div`, so negative-numerator
    * integer pairs are actually consistent; but on DECIMAL operands
    * DuckDB `//` degenerates to plain division (-7.0 // 2.0 = -3.5,
    * verified), so the sign split stays as belt-and-braces and is
    * REQUIRED wherever the oracle divides DECIMALs.) Per-cell means
    * are also emitted as ⌊·10⁶⌋ of the non-negative cent sums.
    *
    * Scale shape: one fact-sized join (orders × customer on custkey,
    * AQE picks the side) into ONE partial-aggregatable 4-cell groupBy;
    * everything after runs on 4 rows. */
  private val did = QueryDef(
    fn = (spark, dir) => {
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val o = Tables.orders(spark, dir)
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
          (col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
            .as("post"))
      val c = Tables.customer(spark, dir)
        .select(col("c_custkey"), (col("c_mktsegment") === "BUILDING").as("treat"))
      val cells = o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("treat"), col("post"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      val p = cells.agg(
        max(when(col("treat") && col("post"), col("n"))).as("n_tp"),
        max(when(col("treat") && col("post"), col("s"))).as("s_tp"),
        max(when(col("treat") && !col("post"), col("n"))).as("n_tr"),
        max(when(col("treat") && !col("post"), col("s"))).as("s_tr"),
        max(when(!col("treat") && col("post"), col("n"))).as("n_cp"),
        max(when(!col("treat") && col("post"), col("s"))).as("s_cp"),
        max(when(!col("treat") && !col("post"), col("n"))).as("n_cr"),
        max(when(!col("treat") && !col("post"), col("s"))).as("s_cr"))
      p.select(
        col("n_tp"), col("n_tr"), col("n_cp"), col("n_cr"),
        expr("(s_tp * CAST(1000000 AS BIGINT)) div n_tp").as("mean_tp_e6"),
        expr("(s_tr * CAST(1000000 AS BIGINT)) div n_tr").as("mean_tr_e6"),
        expr("(s_cp * CAST(1000000 AS BIGINT)) div n_cp").as("mean_cp_e6"),
        expr("(s_cr * CAST(1000000 AS BIGINT)) div n_cr").as("mean_cr_e6"),
        expr("CAST(CASE WHEN" +
          "  CAST(s_tp AS DECIMAL(38,0)) * n_tr * n_cp * n_cr" +
          "  - CAST(s_tr AS DECIMAL(38,0)) * n_tp * n_cp * n_cr" +
          "  - CAST(s_cp AS DECIMAL(38,0)) * n_tp * n_tr * n_cr" +
          "  + CAST(s_cr AS DECIMAL(38,0)) * n_tp * n_tr * n_cp < 0" +
          " THEN -1 ELSE 1 END AS BIGINT)").as("did_sign"),
        expr("CAST((abs(" +
          "  CAST(s_tp AS DECIMAL(38,0)) * n_tr * n_cp * n_cr" +
          "  - CAST(s_tr AS DECIMAL(38,0)) * n_tp * n_cp * n_cr" +
          "  - CAST(s_cp AS DECIMAL(38,0)) * n_tp * n_tr * n_cr" +
          "  + CAST(s_cr AS DECIMAL(38,0)) * n_tp * n_tr * n_cp)" +
          "  * CAST(1000000 AS DECIMAL(38,0)))" +
          " div (CAST(n_tp AS DECIMAL(38,0)) * n_tr * n_cp * n_cr)" +
          " AS BIGINT)").as("did_abs_e6"))
    },
    oracle = Some(
      """WITH j AS (SELECT
        |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    o.o_orderdate >= TIMESTAMP '1996-01-01' AS post,
        |    c.c_mktsegment = 'BUILDING' AS treat
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |cells AS (SELECT treat, post, COUNT(*) AS n, SUM(cents) AS s
        |  FROM j GROUP BY 1, 2),
        |p AS (SELECT
        |    MAX(CASE WHEN treat AND post THEN n END) AS n_tp,
        |    MAX(CASE WHEN treat AND post THEN s END) AS s_tp,
        |    MAX(CASE WHEN treat AND NOT post THEN n END) AS n_tr,
        |    MAX(CASE WHEN treat AND NOT post THEN s END) AS s_tr,
        |    MAX(CASE WHEN NOT treat AND post THEN n END) AS n_cp,
        |    MAX(CASE WHEN NOT treat AND post THEN s END) AS s_cp,
        |    MAX(CASE WHEN NOT treat AND NOT post THEN n END) AS n_cr,
        |    MAX(CASE WHEN NOT treat AND NOT post THEN s END) AS s_cr
        |  FROM cells),
        |d AS (SELECT *,
        |    CAST(s_tp AS HUGEINT) * n_tr * n_cp * n_cr
        |    - CAST(s_tr AS HUGEINT) * n_tp * n_cp * n_cr
        |    - CAST(s_cp AS HUGEINT) * n_tp * n_tr * n_cr
        |    + CAST(s_cr AS HUGEINT) * n_tp * n_tr * n_cp AS nn
        |  FROM p)
        |SELECT CAST(n_tp AS BIGINT) AS n_tp, CAST(n_tr AS BIGINT) AS n_tr,
        |  CAST(n_cp AS BIGINT) AS n_cp, CAST(n_cr AS BIGINT) AS n_cr,
        |  CAST((s_tp * 1000000) // n_tp AS BIGINT) AS mean_tp_e6,
        |  CAST((s_tr * 1000000) // n_tr AS BIGINT) AS mean_tr_e6,
        |  CAST((s_cp * 1000000) // n_cp AS BIGINT) AS mean_cp_e6,
        |  CAST((s_cr * 1000000) // n_cr AS BIGINT) AS mean_cr_e6,
        |  CAST(CASE WHEN nn < 0 THEN -1 ELSE 1 END AS BIGINT) AS did_sign,
        |  CAST((abs(nn) * 1000000)
        |    // (CAST(n_tp AS HUGEINT) * n_tr * n_cp * n_cr) AS BIGINT)
        |    AS did_abs_e6
        |FROM d""".stripMargin))

  /** Cohen's d effect size between URGENT and LOW order values — the
    * "is the significant difference actually big?" companion to the
    * test family (p-values scale with n; d does not). The pooled-SD
    * standardized difference is computed as ONE exact rational:
    * d² = D²(n₁+n₂−2) / (n₁n₂·[n₂(n₁·Σx₁²−(Σx₁)²) + n₁(n₂·Σx₂²−(Σx₂)²)])
    * with D = Σx₁·n₂ − Σx₂·n₁, every term a DECIMAL(38,0) of exact
    * cents (fits while D²(n₁+n₂) < 10³⁸ — ~10⁶ rows at these price
    * magnitudes; larger scales shard the moments). |d| then takes the
    * ONE allowed double step — a division and a sqrt, both
    * IEEE-correctly-rounded, identical on both engines — into a 6dp
    * floor; the sign is split out (the q_did discipline).
    */
  private val cohensD = QueryDef(
    fn = (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select((col("o_orderpriority") === "1-URGENT").as("g"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val m = o.groupBy(col("g")).agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sv"),
        sum(col("cents").cast(d380) * col("cents")).as("sq"))
      val p = m.agg(
        max(when(col("g"), col("n"))).as("n1"),
        max(when(col("g"), col("sv"))).as("sv1"),
        max(when(col("g"), col("sq"))).as("sq1"),
        max(when(!col("g"), col("n"))).as("n2"),
        max(when(!col("g"), col("sv"))).as("sv2"),
        max(when(!col("g"), col("sq"))).as("sq2"))
      p.select(col("n1"), col("n2"),
        expr("CAST(CASE WHEN CAST(sv1 AS DECIMAL(38,0)) * n2" +
          " - CAST(sv2 AS DECIMAL(38,0)) * n1 < 0 THEN -1 ELSE 1 END" +
          " AS BIGINT)").as("d_sign"),
        expr("CAST(floor(sqrt(" +
          " CAST((CAST(sv1 AS DECIMAL(38,0)) * n2 - CAST(sv2 AS DECIMAL(38,0)) * n1)" +
          "  * (CAST(sv1 AS DECIMAL(38,0)) * n2 - CAST(sv2 AS DECIMAL(38,0)) * n1)" +
          "  * (n1 + n2 - 2) AS DOUBLE)" +
          " / CAST(CAST(n1 AS DECIMAL(38,0)) * n2" +
          "  * (n2 * (n1 * sq1 - CAST(sv1 AS DECIMAL(38,0)) * sv1)" +
          "   + n1 * (n2 * sq2 - CAST(sv2 AS DECIMAL(38,0)) * sv2)) AS DOUBLE)" +
          ") * 1000000.0 + 0.5) AS BIGINT)").as("d_abs_e6"))
    },
    oracle = Some(
      """WITH o AS (SELECT o_orderpriority = '1-URGENT' AS g,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |m AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(cents) AS HUGEINT) AS sv,
        |    CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sq
        |  FROM o GROUP BY 1),
        |p AS (SELECT
        |    MAX(CASE WHEN g THEN n END) AS n1,
        |    MAX(CASE WHEN g THEN sv END) AS sv1,
        |    MAX(CASE WHEN g THEN sq END) AS sq1,
        |    MAX(CASE WHEN NOT g THEN n END) AS n2,
        |    MAX(CASE WHEN NOT g THEN sv END) AS sv2,
        |    MAX(CASE WHEN NOT g THEN sq END) AS sq2
        |  FROM m)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(CASE WHEN sv1 * n2 - sv2 * n1 < 0 THEN -1 ELSE 1 END
        |    AS BIGINT) AS d_sign,
        |  CAST(floor(sqrt(
        |    CAST((sv1 * n2 - sv2 * n1) * (sv1 * n2 - sv2 * n1)
        |      * (n1 + n2 - 2) AS DOUBLE)
        |    / CAST(n1 * n2 * (n2 * (n1 * sq1 - sv1 * sv1)
        |      + n1 * (n2 * sq2 - sv2 * sv2)) AS DOUBLE)
        |    ) * 1000000.0 + 0.5) AS BIGINT) AS d_abs_e6
        |FROM p""".stripMargin))

  /** Levene's test, Brown–Forsythe variant: are quantity VARIANCES
    * homogeneous across return-status groups? (The assumption q_anova
    * silently makes — this is its pre-flight.) Deviations are taken
    * from the group MEDIAN (the robust BF choice), which on the bounded
    * integer quantity domain is an EXACT grid statistic (lower median:
    * smallest v with 2·cum ≥ n — no percentile interpolation); the
    * one-way F over |x − med| then follows q_anova's proven arithmetic
    * exactly (integer moments; identically-composed double divisions;
    * 9dp-floored terms; no transcendental).
    *
    * Scale shape: one (group, value) combine over the fact table, grid
    * medians from running sums, moments per group weighted by the grid
    * counts — nothing row-level past the first aggregation. */
  private val levene = QueryDef(
    fn = (spark, dir) => {
      // (flag × quantity)-domain grid (≤ ~150 cells), checkpointed: the
      // median pass and the deviation join both re-reference it, and
      // their consumers compound — un-materialized the plan re-scanned
      // lineitem 4× (ScanCountLintSpec)
      val grid = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("v"))
        .groupBy(col("g"), col("v")).agg(count(lit(1)).as("t"))
        .memoCheckpoint(spark, dir, "levene_grid")
      val wRun = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("g"))
      val med = grid
        .withColumn("cum", sum(col("t")).over(wRun))
        .withColumn("ng", sum(col("t")).over(wAll))
        .filter(col("cum") * 2 >= col("ng"))
        .groupBy(col("g")).agg(min(col("v")).as("med"))
      val z = grid.join(med, "g")
        .select(col("g"), abs(col("v") - col("med")).as("z"), col("t"))
      val mo = z.groupBy(col("g")).agg(sum(col("t")).as("n_i"),
        sum(col("z") * col("t")).as("sv_i"),
        sum((col("z") * col("z")).cast(d380) * col("t")).as("sq_i"))
      val tot = mo.agg(count(lit(1)).as("k"), sum(col("n_i")).as("n"),
        sum(col("sv_i")).as("sv"))
      val mi = col("sv_i").cast("double") / col("n_i").cast("double")
      val mAll = col("sv").cast("double") / col("n").cast("double")
      val terms = mo.crossJoin(broadcast(tot))
        .select(col("k"), col("n"),
          f9(col("n_i").cast("double") * (mi - mAll) * (mi - mAll)).as("bt"),
          f9(col("sq_i").cast("double")
            - col("sv_i").cast("double") * col("sv_i").cast("double")
              / col("n_i").cast("double")).as("wt"))
      val s = terms.agg(max(col("k")).as("k"), max(col("n")).as("n"),
        sum(col("bt")).as("ssb"), sum(col("wt")).as("ssw"))
      val ssb = col("ssb").cast("double")
      val ssw = col("ssw").cast("double")
      s.select(col("k"), col("n"), r6(ssb).as("ss_between"),
        r6(ssw).as("ss_within"),
        r6((ssb / (col("k") - 1).cast("double"))
          / (ssw / (col("n") - col("k")).cast("double"))).as("f_stat"))
    },
    oracle = Some(
      """WITH grid AS (SELECT l_returnflag AS g,
        |    CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS t
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT g, v, t,
        |    SUM(t) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(t) OVER (PARTITION BY g) AS ng
        |  FROM grid),
        |med AS (SELECT g, MIN(v) AS med FROM c WHERE cum * 2 >= ng
        |  GROUP BY g),
        |z AS (SELECT grid.g, abs(v - med) AS z, t
        |  FROM grid JOIN med USING (g)),
        |mo AS (SELECT g, CAST(SUM(t) AS BIGINT) AS n_i,
        |    CAST(SUM(z * t) AS BIGINT) AS sv_i,
        |    CAST(SUM(CAST(z * z AS HUGEINT) * t) AS HUGEINT) AS sq_i
        |  FROM z GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS k, CAST(SUM(n_i) AS BIGINT) AS n,
        |    CAST(SUM(sv_i) AS BIGINT) AS sv FROM mo),
        |t AS (SELECT k, n,
        |    CAST(floor(CAST(n_i AS DOUBLE)
        |      * (CAST(sv_i AS DOUBLE) / CAST(n_i AS DOUBLE)
        |         - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sv_i AS DOUBLE) / CAST(n_i AS DOUBLE)
        |         - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS bt,
        |    CAST(floor((CAST(sq_i AS DOUBLE)
        |      - CAST(sv_i AS DOUBLE) * CAST(sv_i AS DOUBLE)
        |        / CAST(n_i AS DOUBLE))
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS wt
        |  FROM mo CROSS JOIN tot),
        |s AS (SELECT MAX(k) AS k, MAX(n) AS n,
        |    CAST(SUM(bt) AS DECIMAL(38,9)) AS ssb,
        |    CAST(SUM(wt) AS DECIMAL(38,9)) AS ssw FROM t)
        |SELECT CAST(k AS BIGINT) AS k, n,
        |  floor(CAST(ssb AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS ss_between,
        |  floor(CAST(ssw AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS ss_within,
        |  floor((CAST(ssb AS DOUBLE) / (k - 1))
        |    / (CAST(ssw AS DOUBLE) / (n - k)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS f_stat
        |FROM s""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_anova" -> anova,
    "q_cohens_d" -> cohensD,
    "q_cuped" -> cuped,
    "q_did" -> did,
    "q_fdr_bh" -> fdrBh,
    "q_kendall_tau" -> kendallTau,
    "q_levene" -> levene)
}
