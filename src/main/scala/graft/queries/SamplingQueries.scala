package graft.queries

import graft.QueryDef
import graft.ops.SessionCache.MemoOps
import graft.ops.{Tables, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 corpus-sampling family: the budgeted-selection math a
  * training-data pipeline runs when it cannot take everything — optimal
  * stratified sample allocation (Neyman 1934), quality-threshold corpus
  * fill under a token budget, and the Flesch readability screen that
  * feeds such thresholds.
  *
  * Shared scale stance: all three reduce the corpus to a BOUNDED domain
  * first (the stratum list, the 6dp quality-value grid, the source list)
  * with one partial-aggregatable groupBy, and every window/rank runs on
  * that domain frame — never on document rows. Doubles only ever ride
  * identically-composed ratios of exact integer/decimal sufficient
  * statistics (house numeric discipline — see StatsQueries).
  */
object SamplingQueries {

  private def r6(c: Column): Column = TextAnalysis.round6(c)
  private val d380 = DecimalType(38, 0)
  private val d189 = DecimalType(18, 9)

  // --- Neyman allocation ----------------------------------------------------

  /** Neyman-optimal stratified sample allocation: for a fixed total budget
    * B = 1000 documents, allocate n_h ∝ N_h·σ_h (stratum size × stratum
    * std-dev of document length) — the allocation that minimizes the
    * variance of the stratified mean estimator (Neyman 1934). Integerized
    * with the largest-remainder method (floor every raw share, then award
    * the leftover units by descending fractional part, source-ascending
    * ties), so allocations sum to exactly B. The proportional allocation
    * (n_h ∝ N_h) rides along for contrast — the gap between the two
    * columns IS the variance win sampling theory buys.
    *
    * Exactness: per-stratum (n, Σx, Σx²) are exact integer/DECIMAL(38,0)
    * sums; σ_h = √((n·Σx² − (Σx)²)/(n(n−1))) is one identically-composed
    * double; the Neyman weights are 9dp-floored into DECIMAL(18,9) before
    * the cross-stratum total so the shared denominator is an order-free
    * decimal sum. Scale shape: ONE partial-aggregatable groupBy(source)
    * over the corpus; every window below it runs on the stratum domain.
    */
  private val neymanAllocation = QueryDef(
    fn = (spark, dir) => {
      val B = 1000L
      val g = Tables.documents(spark, dir)
        .select(col("source"), col("n_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast(d380).as("s1"),
          sum((col("n_chars") * col("n_chars")).cast(d380)).as("s2"))
      val sigma = sqrt(
        (col("n").cast(d380) * col("s2") - col("s1") * col("s1")).cast("double")
          / (col("n").cast("double") * (col("n") - 1).cast("double")))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val t = g
        .withColumn("sigma", sigma)
        .withColumn("w", (floor(col("n").cast("double") * col("sigma") * 1e9 + 0.5) / 1e9).cast(d189))
        .withColumn("wsum", sum(col("w")).over(wAll))
        .withColumn("ntot", sum(col("n")).over(wAll))
        .withColumn("raw", lit(B.toDouble) * (col("w").cast("double") / col("wsum").cast("double")))
        .withColumn("base", floor(col("raw")).cast("long"))
        .withColumn("frac", col("raw") - col("base"))
        .withColumn("deficit", lit(B) - sum(col("base")).over(wAll))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("frac").desc, col("source").asc)))
      t.select(col("source"), col("n").as("n_docs"),
          r6(col("sigma")).as("sigma"),
          r6(col("w").cast("double") / col("wsum").cast("double")).as("share"),
          (col("base") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
            .as("n_neyman"),
          floor(lit(B.toDouble) * col("n").cast("double")
            / col("ntot").cast("double")).cast("long").as("n_prop_floor"))
        .orderBy("source")
    },
    oracle = Some(
      """WITH g AS (SELECT source, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS DECIMAL(38,0)) AS s1,
        |    SUM(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS s2
        |  FROM documents GROUP BY source),
        |s AS (SELECT source, n, sqrt(
        |    CAST(CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sigma
        |  FROM g),
        |w AS (SELECT source, n, sigma,
        |    CAST(floor(CAST(n AS DOUBLE) * sigma * 1000000000.0 + 0.5)
        |      / 1000000000.0 AS DECIMAL(18,9)) AS w
        |  FROM s),
        |t AS (SELECT source, n, sigma, w,
        |    SUM(w) OVER () AS wsum, SUM(n) OVER () AS ntot
        |  FROM w),
        |r AS (SELECT *,
        |    1000.0 * (CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE)) AS raw
        |  FROM t),
        |b AS (SELECT *, CAST(floor(raw) AS BIGINT) AS base,
        |    raw - floor(raw) AS frac
        |  FROM r),
        |d AS (SELECT *,
        |    1000 - SUM(base) OVER () AS deficit,
        |    row_number() OVER (ORDER BY frac DESC, source ASC) AS rk
        |  FROM b)
        |SELECT source, n AS n_docs,
        |  floor(sigma * 1000000.0 + 0.5) / 1000000.0 AS sigma,
        |  floor(CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE) * 1000000.0 + 0.5)
        |    / 1000000.0 AS share,
        |  CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_neyman,
        |  CAST(floor(1000.0 * CAST(n AS DOUBLE) / CAST(ntot AS DOUBLE))
        |    AS BIGINT) AS n_prop_floor
        |FROM d ORDER BY source""".stripMargin))

  // --- token-budget corpus fill ---------------------------------------------

  /** Quality-threshold corpus fill under a token budget: spend HALF the
    * corpus's token budget on the highest-quality documents — the
    * curation step that turns a quality score into a dataset. Selection
    * is level-granular on the 6dp quality grid (a quality level is taken
    * entirely or not at all), which makes the greedy fill a THRESHOLD
    * SEARCH instead of a per-document global sort: aggregate tokens by
    * quality value (the grid is ≤ 10⁶ cells at ANY corpus size), run one
    * cumulative sum down the grid, and the cutoff is the last level that
    * still fits. The per-doc ranked alternative is a full corpus sort —
    * the one thing that cannot survive 100 TB; this shape shuffles the
    * corpus once (partial-aggregatable) and windows only the grid.
    */
  private val tokenBudgetFill = QueryDef(
    fn = (spark, dir) => {
      val byLevel = Tables.documents(spark, dir)
        .select(
          floor(TextAnalysis.qualityScore(col("text")) * 1e6 + 0.5)
            .cast("long").as("q6"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tok"))
        .groupBy(col("q6"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("t"))
      val wRun = Window.orderBy(col("q6").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("q6").desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val c = byLevel
        .withColumn("cum", sum(col("t")).over(wRun))
        .withColumn("total", sum(col("t")).over(wAll))
        .withColumn("budget", expr("total div 2"))
        .withColumn("sel", col("cum") <= col("budget"))
      c.agg(
          max(col("total")).as("total_tokens"),
          max(col("budget")).as("budget"),
          sum(when(col("sel"), col("n_docs")).otherwise(0L)).as("n_selected"),
          coalesce(sum(when(col("sel"), col("t"))), lit(0L)).as("tokens_selected"),
          min(when(col("sel"), col("q6"))).as("cut6"))
        .select(col("total_tokens"), col("budget"),
          r6(col("cut6").cast("double") / 1e6).as("cutoff_quality"),
          col("n_selected"), col("tokens_selected"),
          r6(col("tokens_selected").cast("double") / col("budget").cast("double"))
            .as("utilization"),
          (col("tokens_selected") <= col("budget")).as("within_budget"),
          (col("tokens_selected") === col("total_tokens")).as("all_fit"))
    },
    oracle = Some {
      val qual = ExtensionQueries.dQualityCte("")
      s"""WITH $qual,
         |tk AS (SELECT q.doc_id,
         |    CAST(floor(q.quality * 1000000.0 + 0.5) AS BIGINT) AS q6,
         |    CAST(len(${ExtensionQueries.dToks("d.text")}) AS BIGINT) AS tok
         |  FROM qual q JOIN documents d ON q.doc_id = d.doc_id),
         |lvl AS (SELECT q6, COUNT(*) AS n_docs, SUM(tok) AS t
         |        FROM tk GROUP BY q6),
         |c AS (SELECT q6, n_docs, t,
         |    SUM(t) OVER (ORDER BY q6 DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(t) OVER () AS total
         |  FROM lvl),
         |s AS (SELECT q6, n_docs, t, cum, total, total // 2 AS budget,
         |    cum <= total // 2 AS sel
         |  FROM c),
         |a AS (SELECT
         |    MAX(total) AS total_tokens, MAX(budget) AS budget,
         |    SUM(CASE WHEN sel THEN n_docs ELSE 0 END) AS n_selected,
         |    COALESCE(SUM(CASE WHEN sel THEN t END), 0) AS tokens_selected,
         |    MIN(CASE WHEN sel THEN q6 END) AS cut6
         |  FROM s)
         |SELECT CAST(total_tokens AS BIGINT) AS total_tokens,
         |  CAST(budget AS BIGINT) AS budget,
         |  floor(CAST(cut6 AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5)
         |    / 1000000.0 AS cutoff_quality,
         |  CAST(n_selected AS BIGINT) AS n_selected,
         |  CAST(tokens_selected AS BIGINT) AS tokens_selected,
         |  floor(CAST(tokens_selected AS DOUBLE) / CAST(budget AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS utilization,
         |  tokens_selected <= budget AS within_budget,
         |  tokens_selected = total_tokens AS all_fit
         |FROM a""".stripMargin
    })

  // --- readability screen ---------------------------------------------------

  /** Flesch reading-ease profile per source ([[TextAnalysis.fleschScore]]):
    * document counts, the mean score (6dp — per-doc scores are already
    * 6dp-floored, so the DECIMAL(12,6) sum is exact and order-free), the
    * min/max, and the share of "standard or easier" documents
    * (score ≥ 60 on Flesch's scale). Scan-stage per-doc scoring (regex
    * counts + one fixed-order double composition), one source-domain
    * rollup — text never shuffles.
    */
  private val readability = QueryDef(
    fn = (spark, dir) => {
      val d126 = DecimalType(12, 6)
      Tables.documents(spark, dir)
        .select(col("source"),
          TextAnalysis.fleschScore(col("text")).as("f"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          r6(sum(col("f").cast(d126)).cast("double")
            / count(lit(1)).cast("double")).as("avg_flesch"),
          min(col("f")).as("min_flesch"),
          max(col("f")).as("max_flesch"),
          sum(when(col("f") >= 60.0, 1L).otherwise(0L)).as("n_easy"))
        .withColumn("easy_share",
          r6(col("n_easy").cast("double") / col("n_docs").cast("double")))
        .orderBy("source")
    },
    oracle = Some {
      val toks = ExtensionQueries.dToks("text")
      s"""WITH m AS (SELECT source,
         |    CAST(len($toks) AS DOUBLE) AS w,
         |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS s,
         |    CAST(GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS DOUBLE) AS y
         |  FROM documents),
         |f AS (SELECT source,
         |    CASE WHEN w > 0 THEN
         |      floor((206.835 - 1.015 * (w / s) - 84.6 * (y / w))
         |        * 1000000.0 + 0.5) / 1000000.0
         |    ELSE 0.0 END AS f
         |  FROM m)
         |SELECT source, COUNT(*) AS n_docs,
         |  floor(CAST(SUM(CAST(f AS DECIMAL(12,6))) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         |    AS avg_flesch,
         |  MIN(f) AS min_flesch, MAX(f) AS max_flesch,
         |  CAST(SUM(CASE WHEN f >= 60.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy,
         |  floor(CAST(SUM(CASE WHEN f >= 60.0 THEN 1 ELSE 0 END) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         |    AS easy_share
         |FROM f GROUP BY source ORDER BY source""".stripMargin
    })

  /** Grouped k-fold assignment: fold = stable hash of the GROUP key
    * (customer), never of the row — so all of a customer's orders land in
    * ONE fold and cross-validation cannot leak a customer's behavior
    * across the train/test boundary (the group-aware complement of
    * q_hash_split's row split and q_split_leakage's doc-level check).
    * Output is the fold-balance report: per fold, how many groups, how
    * many rows, and the row share (⌊·10⁶⌋) — the numbers a practitioner
    * reads before trusting folds of a group-skewed table — plus
    * max_folds_per_group, a VERIFIED 1 (the q_ann_recall contract
    * pattern: the no-leak property rides the result as a checked value,
    * recomputed from the data, not assumed from the construction).
    *
    * Scale shape: one fact-sized groupBy(custkey) (partial-agg) carrying
    * the pure-function fold with it, then a 5-row fold rollup; the leak
    * probe is a second aggregation over the same grouped frame. Fold
    * assignment is a pure function of the key — stable across runs,
    * engines, partitionings, cluster sizes. */
  private val groupKfold = QueryDef(
    fn = (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_custkey"),
          TextAnalysis.hashBucket(col("o_custkey"), 5).as("fold"))
      // customer-domain narrow frame, checkpointed: the leak probe and
      // the fold rollup both re-reference it (ScanCountLintSpec); the
      // row total is the sum of per-group counts, so it rides the same
      // frame instead of a third orders scan
      val perGroup = o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("fold")).as("n_folds"),
          min(col("fold")).as("fold"))
        .memoCheckpoint(spark, dir, "kfold_groups")
      val leak = perGroup.agg(max(col("n_folds")).as("max_folds_per_group"))
      val total = perGroup.agg(sum(col("n_rows")).as("n_total"))
      perGroup.groupBy(col("fold"))
        .agg(count(lit(1)).as("n_groups"), sum(col("n_rows")).as("n_rows"))
        .crossJoin(broadcast(total))
        .crossJoin(broadcast(leak))
        .select(col("fold"), col("n_groups"), col("n_rows"),
          expr("(n_rows * CAST(1000000 AS BIGINT)) div n_total")
            .as("row_share_e6"),
          col("max_folds_per_group"))
        .orderBy("fold")
    },
    oracle = Some {
      val fold = s"${ExtensionQueries.dHash32("CAST(o_custkey AS VARCHAR)")} % 5"
      s"""WITH o AS (SELECT o_custkey, $fold AS fold FROM orders),
         |pg AS (SELECT o_custkey, COUNT(*) AS n_rows,
         |    COUNT(DISTINCT fold) AS n_folds, MIN(fold) AS fold
         |  FROM o GROUP BY 1),
         |lk AS (SELECT MAX(n_folds) AS max_folds_per_group FROM pg),
         |t AS (SELECT COUNT(*) AS n_total FROM o)
         |SELECT fold, COUNT(*) AS n_groups,
         |  CAST(SUM(n_rows) AS BIGINT) AS n_rows,
         |  CAST((SUM(n_rows) * 1000000) // MAX(t.n_total) AS BIGINT)
         |    AS row_share_e6,
         |  CAST(MAX(lk.max_folds_per_group) AS BIGINT) AS max_folds_per_group
         |FROM pg CROSS JOIN t CROSS JOIN lk
         |GROUP BY fold ORDER BY fold""".stripMargin
    })

  /** Kish design effect of re-weighting the corpus to a UNIFORM source
    * mix — the "how much sample did the weighting cost" readout read
    * next to q_mix_rebalance: with per-source weight w_s = n/(k·n_s)
    * (uniform target), effective sample size n_eff = (Σw)²/Σw²
    * collapses to the harmonic form k²/Σ(1/n_s) — a balanced corpus
    * gives n_eff = n; skew drives it down. The reciprocals are the
    * DECLARED 9dp integer statistics inv9_s = ⌊10⁹/n_s⌋ (pure integral
    * division, exact at any scale — no product of counts ever forms, so
    * nothing overflows regardless of k or corpus size); n_eff_e6 =
    * ⌊k²·10¹⁵/Σinv9⌋ and efficiency_e6 = n_eff/n by the same integral
    * division.
    *
    * Scale shape: one groupBy(source) count; the harmonic algebra runs
    * on the k-row source domain. */
  private val designEffect = QueryDef(
    fn = (spark, dir) => {
      val m = Tables.documents(spark, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("ns"))
      val s = m.agg(count(lit(1)).as("k"), sum(col("ns")).as("n"),
        sum(expr("CAST(1000000000 AS BIGINT) div ns")).as("sinv9"))
      s.select(col("k"), col("n"),
        expr("CAST((CAST(k AS DECIMAL(38,0)) * k" +
          " * CAST(1000000000000000 AS DECIMAL(38,0))) div sinv9" +
          " AS BIGINT)").as("n_eff_e6"),
        expr("CAST((CAST(k AS DECIMAL(38,0)) * k" +
          " * CAST(1000000000000000 AS DECIMAL(38,0)))" +
          " div (CAST(sinv9 AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("efficiency_e6"))
    },
    oracle = Some(
      """WITH m AS (SELECT source, COUNT(*) AS ns
        |  FROM documents GROUP BY 1),
        |s AS (SELECT COUNT(*) AS k, CAST(SUM(ns) AS BIGINT) AS n,
        |    CAST(SUM(1000000000 // ns) AS HUGEINT) AS sinv9 FROM m)
        |SELECT CAST(k AS BIGINT) AS k, n,
        |  CAST((CAST(k AS HUGEINT) * k * 1000000000000000) // sinv9
        |    AS BIGINT) AS n_eff_e6,
        |  CAST((CAST(k AS HUGEINT) * k * 1000000000000000)
        |    // (sinv9 * n) AS BIGINT) AS efficiency_e6
        |FROM s""".stripMargin))

  /** Capture-recapture estimate of corpus size (Lincoln-Petersen and the
    * bias-corrected Chapman form): two INDEPENDENT deterministic 30%
    * samples — drawn from the two md5 words of the doc key, so
    * membership in one sample carries no information about the other —
    * overlap in m docs; N̂ = n₁n₂/m estimates the universe the samples
    * were drawn from. The data-ops use: estimate how much of a corpus
    * two partial crawls actually cover before paying for a full dedup
    * pass. Because the fixture knows ground truth, the error is emitted
    * too (err_e6 vs the true count) — the estimator audits itself.
    * All integral divisions of exact counts.
    *
    * Scale shape: one scan computing two hash-bucket flags; a single
    * 4-sum aggregation. */
  private val captureRecapture = QueryDef(
    fn = (spark, dir) => {
      val key = col("doc_id").cast("string")
      val inA = pmod(conv(substring(md5(key), 1, 8), 16, 10).cast("long"),
        lit(10L)) < 3
      val inB = pmod(conv(substring(md5(key), 9, 8), 16, 10).cast("long"),
        lit(10L)) < 3
      val s = Tables.documents(spark, dir).agg(
        count(lit(1)).as("n_true"),
        sum(when(inA, 1L).otherwise(0L)).as("n1"),
        sum(when(inB, 1L).otherwise(0L)).as("n2"),
        sum(when(inA && inB, 1L).otherwise(0L)).as("m"))
      // m = 0 (disjoint samples) leaves Lincoln-Petersen undefined —
      // pinned to NULL explicitly on both engines rather than leaning on
      // engine NULL-division behavior (round-12 ADVICE)
      s.select(col("n_true"), col("n1"), col("n2"), col("m"),
        expr("CASE WHEN m = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE (n1 * n2) div m END").as("lp_est"),
        expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1").as("chapman_est"),
        expr("(abs(((n1 + 1) * (n2 + 1)) div (m + 1) - 1 - n_true)" +
          " * CAST(1000000 AS BIGINT)) div n_true").as("err_e6"))
    },
    oracle = Some {
      def h(start: Int) =
        ExtensionQueries.dHash32At("CAST(doc_id AS VARCHAR)", start)
      s"""WITH s AS (SELECT COUNT(*) AS n_true,
         |    CAST(SUM(CASE WHEN ${h(1)} % 10 < 3 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n1,
         |    CAST(SUM(CASE WHEN ${h(9)} % 10 < 3 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n2,
         |    CAST(SUM(CASE WHEN ${h(1)} % 10 < 3 AND ${h(9)} % 10 < 3
         |      THEN 1 ELSE 0 END) AS BIGINT) AS m
         |  FROM documents)
         |SELECT n_true, n1, n2, m,
         |  CASE WHEN m = 0 THEN CAST(NULL AS BIGINT)
         |    ELSE CAST((n1 * n2) // m AS BIGINT) END AS lp_est,
         |  CAST(((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS BIGINT)
         |    AS chapman_est,
         |  CAST((abs(((n1 + 1) * (n2 + 1)) // (m + 1) - 1 - n_true)
         |    * 1000000) // n_true AS BIGINT) AS err_e6
         |FROM s""".stripMargin
    })

  val defs: Map[String, QueryDef] = Map(
    "q_neyman_allocation" -> neymanAllocation,
    "q_token_budget_fill" -> tokenBudgetFill,
    "q_group_kfold" -> groupKfold,
    "q_design_effect" -> designEffect,
    "q_capture_recapture" -> captureRecapture,
    "q_readability" -> readability)
}
