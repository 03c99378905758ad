package graft.queries

import graft.QueryDef
import graft.ops.SessionCache.MemoOps
import graft.ops.{Tables, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-12 agreement / paired-test pair: Cohen's kappa (inter-annotator
  * agreement — the quality gate every labeled-training-data pipeline runs
  * on its raters before trusting labels) and the Wilcoxon signed-rank
  * test (the paired nonparametric complement to the existing
  * Mann-Whitney rank-sum — "did the same population shift?").
  *
  * House numeric discipline throughout (see RankStatsQueries): every
  * statistic reduces to INTEGER sufficient statistics over a bounded
  * grid; ratios are emitted as ⌊·10⁶⌋ integral divisions and decisions
  * as cross-multiplied integer comparisons — no double exists anywhere
  * in either plan, so no engine-build-sensitive rounding can flip a
  * digit (the round-11 driver-red class).
  */
object AgreementQueries {

  private val d380 = DecimalType(38, 0)

  /** Cohen's kappa between two deterministic document "annotators":
    * A tiers docs by raw length (n_chars < 220 / < 380 / else) and B by
    * token count (< 40 / < 69 / else) — tercile-calibrated cutoffs that
    * mostly agree (tokens ≈ chars/5.5 on this corpus), so kappa measures
    * real chance-corrected agreement, not hash noise. kappa =
    * (p_o − p_e)/(1 − p_e) with p_o = Σ n_kk / n and p_e = Σ row_k·col_k
    * / n², emitted exactly as kappa_e6 = ⌊(po_num·n − pe_num)·10⁶ /
    * (n² − pe_num)⌋ — pure DECIMAL(38,0) cross-multiplication.
    *
    * Scale shape: ONE partial-aggregatable groupBy over the corpus to the
    * (a, b) confusion grid (≤ 9 rows); marginals and the kappa compose on
    * the grid. Nothing row-level survives the first aggregation.
    */
  private val cohensKappa = QueryDef(
    fn = (spark, dir) => {
      val m = Tables.documents(spark, dir).select(
        when(col("n_chars") < 220, 0).when(col("n_chars") < 380, 1)
          .otherwise(2).as("a"),
        when(TextAnalysis.tokenCount(col("text")) < 40, 0)
          .when(TextAnalysis.tokenCount(col("text")) < 69, 1)
          .otherwise(2).as("b"))
      // 9-cell confusion grid, checkpointed: r/c/s all re-reference it,
      // each re-planning the documents scan (ScanCountLintSpec)
      val g = m.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .memoCheckpoint(spark, dir, "kappa_grid")
      val r = g.groupBy(col("a").as("k")).agg(sum(col("c")).as("rk"))
      val c = g.groupBy(col("b").as("k")).agg(sum(col("c")).as("ck"))
      val pe = r.join(c, "k")
        .agg(sum(col("rk").cast(d380) * col("ck")).as("pe_num"))
      val s = g.agg(sum(col("c")).as("n"),
        sum(when(col("a") === col("b"), col("c")).otherwise(0L)).as("po_num"))
      s.crossJoin(pe).select(
        col("n"), col("po_num"), col("pe_num").cast("long").as("pe_num"),
        expr("((CAST(po_num AS DECIMAL(38,0)) * n - pe_num)" +
          " * CAST(1000000 AS DECIMAL(38,0)))" +
          " div (CAST(n AS DECIMAL(38,0)) * n - pe_num)").as("kappa_e6"))
    },
    oracle = Some {
      val nTok = s"len(${ExtensionQueries.dToks("text")})"
      s"""WITH m AS (SELECT
         |    CASE WHEN n_chars < 220 THEN 0 WHEN n_chars < 380 THEN 1
         |      ELSE 2 END AS a,
         |    CASE WHEN $nTok < 40 THEN 0 WHEN $nTok < 69 THEN 1
         |      ELSE 2 END AS b
         |  FROM documents),
         |g AS (SELECT a, b, COUNT(*) AS c FROM m GROUP BY 1, 2),
         |r AS (SELECT a AS k, SUM(c) AS rk FROM g GROUP BY 1),
         |cl AS (SELECT b AS k, SUM(c) AS ck FROM g GROUP BY 1),
         |pe AS (SELECT CAST(SUM(CAST(rk AS HUGEINT) * ck) AS HUGEINT)
         |    AS pe_num FROM r JOIN cl USING (k)),
         |s AS (SELECT CAST(SUM(c) AS HUGEINT) AS n,
         |    CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS HUGEINT)
         |      AS po_num FROM g)
         |SELECT CAST(n AS BIGINT) AS n, CAST(po_num AS BIGINT) AS po_num,
         |  CAST(pe_num AS BIGINT) AS pe_num,
         |  CAST(((po_num * n - pe_num) * 1000000) // (n * n - pe_num)
         |    AS BIGINT) AS kappa_e6
         |FROM s CROSS JOIN pe""".stripMargin
    })

  /** Wilcoxon signed-rank test on PAIRED per-customer counts: does the
    * same customer place more '1-URGENT' than '5-LOW' orders? The paired
    * difference d = n_urgent − n_low is an exact small integer, zero
    * differences drop (standard), and |d| ranks live on a bounded grid
    * (|d| ≤ max orders per customer), so average ranks come from running
    * sums over the grid — the RankStatsQueries 2·rank trick: 2·avgrank =
    * 2·cum_prev + t + 1 keeps every rank integral. W2⁺ = Σ over positive
    * d of 2·avgrank(|d|); under H₀, E[W2⁺] = n(n+1)/2 and
    * 12·Var(W2⁺) = 2n(n+1)(2n+1) − Σ(t³−t) (tie-corrected). z² is
    * emitted cross-multiplied (z2_e6 = ⌊Δ²·12·10⁶ / var12⌋) and the
    * α = 0.05 two-sided decision as the pure-integer comparison
    * Δ²·12·10⁴ > 38416·var12 (1.96² = 3.8416).
    *
    * Scale shape: one groupBy(customer) over orders (partial-agg), one
    * groupBy(|d|) to the grid, running sums on the grid only.
    */
  private val wilcoxonSigned = QueryDef(
    fn = (spark, dir) => {
      val d = Tables.orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg((sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          - sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L)))
          .as("d"))
        .filter(col("d") =!= 0L)
      val g = d.groupBy(abs(col("d")).as("ad"))
        .agg(count(lit(1)).as("t"),
          sum(when(col("d") > 0, 1L).otherwise(0L)).as("p"))
      val wPrev = Window.orderBy(col("ad"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val c = g.withColumn("cp", coalesce(sum(col("t")).over(wPrev), lit(0L)))
      val s = c.agg(
        sum(col("t")).cast(d380).as("n"),
        sum(col("p").cast(d380) * (lit(2L) * col("cp") + col("t") + lit(1L)))
          .as("w2p"),
        sum(col("t").cast(d380) * col("t") * col("t") - col("t")).as("tie"))
      s.select(
        col("n").cast("long").as("n_pairs"),
        col("w2p").cast("long").as("w2_plus"),
        expr("CAST((n * (n + 1)) div 2 AS BIGINT)").as("mean2"),
        expr("CAST(2 * n * (n + 1) * (2 * n + 1) - tie AS DECIMAL(38,0))")
          .cast("long").as("var12"),
        expr("((w2p - (n * (n + 1)) div 2) * (w2p - (n * (n + 1)) div 2)" +
          " * 12 * CAST(1000000 AS DECIMAL(38,0)))" +
          " div (2 * n * (n + 1) * (2 * n + 1) - tie)").as("z2_e6"),
        ((col("w2p") - expr("(n * (n + 1)) div 2"))
          * (col("w2p") - expr("(n * (n + 1)) div 2"))
          * lit(12L) * lit(10000L) >
          lit(38416L).cast(d380)
            * expr("2 * n * (n + 1) * (2 * n + 1) - tie")).as("reject"))
    },
    oracle = Some(
      """WITH d AS (SELECT o_custkey,
        |    SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
        |    - SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
        |      AS d
        |  FROM orders GROUP BY 1),
        |nz AS (SELECT d, abs(d) AS ad FROM d WHERE d <> 0),
        |g AS (SELECT ad, COUNT(*) AS t,
        |    SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS p
        |  FROM nz GROUP BY 1),
        |c AS (SELECT ad, t, p,
        |    COALESCE(SUM(t) OVER (ORDER BY ad
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp
        |  FROM g),
        |s AS (SELECT CAST(SUM(t) AS HUGEINT) AS n,
        |    CAST(SUM(CAST(p AS HUGEINT) * (2 * cp + t + 1)) AS HUGEINT)
        |      AS w2p,
        |    CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tie
        |  FROM c)
        |SELECT CAST(n AS BIGINT) AS n_pairs, CAST(w2p AS BIGINT) AS w2_plus,
        |  CAST((n * (n + 1)) // 2 AS BIGINT) AS mean2,
        |  CAST(2 * n * (n + 1) * (2 * n + 1) - tie AS BIGINT) AS var12,
        |  CAST(((w2p - (n * (n + 1)) // 2) * (w2p - (n * (n + 1)) // 2)
        |      * 12 * 1000000)
        |    // (2 * n * (n + 1) * (2 * n + 1) - tie) AS BIGINT) AS z2_e6,
        |  (w2p - (n * (n + 1)) // 2) * (w2p - (n * (n + 1)) // 2)
        |    * 12 * 10000
        |    > 38416 * (2 * n * (n + 1) * (2 * n + 1) - tie) AS reject
        |FROM s""".stripMargin))

  /** Split-conformal prediction interval (Vovk et al.; the
    * distribution-free coverage guarantee modern ML eval reaches for):
    * customers split by key hash into a CALIBRATION and a TEST half; the
    * point predictor is the per-segment calibration mean of account
    * balance (exact integer cents, floored division — a declared
    * predictor, not a claim of optimality); the conformal quantile q̂ is
    * the ⌈(n_cal+1)·0.9⌉-th smallest calibration |residual| — an EXACT
    * order statistic, no percentile interpolation — and the readout is
    * test-half coverage of ±q̂, which split conformal guarantees ≥ 0.9
    * in expectation regardless of the predictor.
    *
    * Scale shape: residual ranks come from a groupBy(residual) value
    * grid + one running sum over that grid (the weighted-median
    * pattern) — no row-level global sort; the q̂ pick is a filtered min
    * on the grid. Everything integer: cents, |residuals|, the rank
    * threshold, coverage_e6.
    */
  private val conformalInterval = QueryDef(
    fn = (spark, dir) => {
      val c = Tables.customer(spark, dir).select(
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"),
        (TextAnalysis.hashBucket(col("c_custkey"), 2) === 0L).as("is_cal"))
      val pred = c.filter(col("is_cal"))
        .groupBy(col("seg"))
        .agg(expr("sum(cents) div count(1)").as("mean_cents"))
      val resid = c.join(broadcast(pred), "seg")
        .select(col("is_cal"), abs(col("cents") - col("mean_cents")).as("r"))
      val calGrid = resid.filter(col("is_cal"))
        .groupBy(col("r")).agg(count(lit(1)).as("t"))
      val wRun = Window.orderBy(col("r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      // rank threshold k = ceil((n_cal + 1) * 0.9) = (9*(n+1) + 9) div 10
      val qhat = calGrid
        .withColumn("cum", sum(col("t")).over(wRun))
        .withColumn("n_cal", sum(col("t")).over(wAll))
        .filter(col("cum") >= expr("(9 * (n_cal + 1) + 9) div 10"))
        .agg(min(col("r")).as("q_hat"), max(col("n_cal")).as("n_cal"))
      resid.filter(!col("is_cal"))
        .crossJoin(broadcast(qhat))
        .agg(max(col("n_cal")).as("n_cal"), count(lit(1)).as("n_test"),
          max(col("q_hat")).as("q_hat"),
          sum(when(col("r") <= col("q_hat"), 1L).otherwise(0L)).as("n_covered"))
        .select(col("n_cal"), col("n_test"), col("q_hat"), col("n_covered"),
          expr("(n_covered * CAST(1000000 AS BIGINT)) div n_test")
            .as("coverage_e6"))
    },
    oracle = Some {
      val bucket = s"${ExtensionQueries.dHash32("CAST(c_custkey AS VARCHAR)")} % 2"
      s"""WITH c AS (SELECT c_mktsegment AS seg,
         |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
         |    $bucket = 0 AS is_cal
         |  FROM customer),
         |pred AS (SELECT seg, SUM(cents) // COUNT(*) AS mean_cents
         |  FROM c WHERE is_cal GROUP BY 1),
         |resid AS (SELECT is_cal, abs(cents - mean_cents) AS r
         |  FROM c JOIN pred USING (seg)),
         |grid AS (SELECT r, COUNT(*) AS t FROM resid WHERE is_cal GROUP BY 1),
         |cum AS (SELECT r, SUM(t) OVER (ORDER BY r
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(t) OVER () AS n_cal
         |  FROM grid),
         |qh AS (SELECT MIN(r) AS q_hat, MAX(n_cal) AS n_cal FROM cum
         |  WHERE cum >= (9 * (n_cal + 1) + 9) // 10)
         |SELECT CAST(MAX(qh.n_cal) AS BIGINT) AS n_cal,
         |  COUNT(*) AS n_test,
         |  CAST(MAX(q_hat) AS BIGINT) AS q_hat,
         |  CAST(SUM(CASE WHEN r <= q_hat THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_covered,
         |  CAST((SUM(CASE WHEN r <= q_hat THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS coverage_e6
         |FROM resid CROSS JOIN qh WHERE NOT is_cal""".stripMargin
    })

  val defs: Map[String, QueryDef] = Map(
    "q_cohens_kappa" -> cohensKappa,
    "q_conformal_interval" -> conformalInterval,
    "q_wilcoxon_signed" -> wilcoxonSigned)
}
