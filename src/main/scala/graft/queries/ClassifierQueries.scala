package graft.queries

import graft.QueryDef
import graft.ops.SessionCache.MemoOps
import graft.ops.{SessionCache, Tables, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-model family: multinomial Naive-Bayes classifier training and
  * scoring (the classifier-based quality/language filtering step of an
  * LLM data pipeline — the role fastText plays in CCNet/GPT-3-style
  * corpus curation, reduced to its exactly-replayable count core), plus
  * PMI collocation mining (the classic corpus-linguistics readout over
  * the same bigram table the perplexity filter already trains on).
  *
  * Numeric discipline: "training" a multinomial NB IS counting — every
  * sufficient statistic (class-conditional token counts, class totals,
  * document priors) is an exact integer from one token-keyed
  * aggregation. Log-weights are ln of integer-valued arguments (the
  * repo-wide libm-identity pattern: both engines call ln on the SAME
  * integer-valued double), floor-rounded to 6dp and carried as LONG
  * micro-nats, so scoring is pure integer arithmetic (tf × w6 sums —
  * |score6| < 1e10, far inside long) and the argmax is exact on both
  * engines. No floats anywhere between the ln call and the final /1e6.
  *
  * Scale shape: one corpus-sized tokenize+groupBy builds the vocabulary
  * candidates (map-side combinable); everything downstream of the top-V
  * cut is vocabulary-bounded (V×L ≤ 1000 rows — broadcast on every
  * join). Scoring re-touches the corpus once (per-doc tf) and joins it
  * to the BROADCAST weight table — no shuffle carries text, no window
  * runs over fact rows (the per-doc argmax partitions by doc_id). The
  * model chain is memoized per (session, dir) in
  * [[graft.ops.SessionCache]] so train + score build it once.
  */
object ClassifierQueries {

  import ExtensionQueries.dToks

  /** Top-V vocabulary size; small enough to broadcast at any corpus
    * scale, large enough that sf0.01 docs average many in-vocab hits. */
  private val V = 200

  /** Class-conditional weight table: (lang, token, c, w6, prior6, nl, vs)
    * — one row per (class, vocab token), Laplace-smoothed
    * w6 = ⌊(ln(c+1) − ln(n_l + |V|))·1e6⌉ micro-nats, plus the class
    * prior p6 = ⌊(ln(d_l) − ln(D))·1e6⌉. Vocabulary-bounded (≤ V·L
    * rows); checkpointed so both consumers reuse the materialized model.
    */
  private def nbWeights(spark: SparkSession, dir: String): DataFrame =
    SessionCache.memo(spark, dir, "nb_weights") {
      val docs = Tables.documents(spark, dir)
      val toks = docs.select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      // vocabulary: top-V tokens by total occurrence, ties token-asc —
      // a strict total order, so limit() is deterministic (takeOrdered)
      val vocab = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(V).select(col("token"))
      val cc = toks.join(broadcast(vocab), "token")
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
      val langs = docs.groupBy(col("lang")).agg(count(lit(1)).as("dl"))
      val nl = cc.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
      val vs = vocab.agg(count(lit(1)).as("vs"))
      val dd = docs.agg(count(lit(1)).as("d"))
      // full L×V grid: zero-count (class, token) cells still carry the
      // smoothed weight ln(1/(n_l+V)); both factors are domain-bounded
      broadcast(langs).crossJoin(broadcast(vocab))
        .join(cc, Seq("lang", "token"), "left")
        .join(nl, Seq("lang"), "left")
        .crossJoin(broadcast(vs)).crossJoin(broadcast(dd))
        .select(col("lang"), col("token"),
          coalesce(col("c"), lit(0L)).as("c"),
          floor((log(coalesce(col("c"), lit(0L)) + lit(1))
            - log(coalesce(col("nl"), lit(0L)) + col("vs"))) * 1e6 + 0.5)
            .cast("long").as("w6"),
          floor((log(col("dl")) - log(col("d"))) * 1e6 + 0.5)
            .cast("long").as("prior6"))
        .localCheckpoint(true)
    }

  /** Memoized per-(doc, class) score matrix (doc_id, true_lang, lang,
    * score6 = Σ tf·w6 + prior6): the ONE corpus-sized scoring pass —
    * tokenize, tf, weight join, per-class sum — that all five classifier
    * consumers (q_nb_score, q_nb_calibration, q_roc_auc, q_pr_auc,
    * q_gains_table) previously re-ran from scratch. The matrix is
    * |corpus|×L narrow rows, checkpointed once per session; consumers
    * derive their windows/bins from it (the en-ranker family filters its
    * class slice — identical values to the per-query construction, with
    * the left-join coalesce folded in). */
  private def nbScoreMatrix(spark: SparkSession, dir: String): DataFrame =
    SessionCache.memo(spark, dir, "nb_scores")(
      nbScoreMatrixBuild(spark, dir).localCheckpoint(true))

  /** The lazy pre-checkpoint build — separate so PlanAuditSpec can
    * assert the broadcast shape of the scoring join (the memoized
    * consumers read a LogicalRDD, which hides the build plan). */
  private[graft] def nbScoreMatrixBuild(spark: SparkSession, dir: String): DataFrame = {
    val w = nbWeights(spark, dir)
    val docs = Tables.documents(spark, dir)
    val tf = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val partial = tf
      .join(broadcast(w.select(col("token"), col("lang"), col("w6"))), "token")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf") * col("w6")).as("s6"))
    val classes = w.select(col("lang"), col("prior6")).distinct()
    docs.select(col("doc_id"), col("lang").as("true_lang"))
      .crossJoin(broadcast(classes))
      .join(partial, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("true_lang"), col("lang"),
        (coalesce(col("s6"), lit(0L)) + col("prior6")).as("score6"))
  }

  /** Shared oracle CTE prefix rebuilding the identical model in DuckDB. */
  private val nbOracleCtes =
    s"""toks AS (SELECT doc_id, lang, unnest(${dToks("text")}) AS token
       |         FROM documents),
       |vocab AS (SELECT token FROM (
       |    SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token)
       |  QUALIFY row_number() OVER (ORDER BY cnt DESC, token ASC) <= $V),
       |cc AS (SELECT lang, token, COUNT(*) AS c
       |       FROM toks JOIN vocab USING (token) GROUP BY lang, token),
       |langs AS (SELECT lang, COUNT(*) AS dl FROM documents GROUP BY lang),
       |nl AS (SELECT lang, SUM(c) AS nl FROM cc GROUP BY lang),
       |vs AS (SELECT COUNT(*) AS vs FROM vocab),
       |dd AS (SELECT COUNT(*) AS d FROM documents),
       |w AS (SELECT g.lang, g.token, COALESCE(cc.c, 0) AS c,
       |    CAST(floor((ln(COALESCE(cc.c, 0) + 1)
       |                - ln(COALESCE(nl.nl, 0) + vs.vs)) * 1000000.0 + 0.5)
       |         AS BIGINT) AS w6,
       |    CAST(floor((ln(langs.dl) - ln(dd.d)) * 1000000.0 + 0.5)
       |         AS BIGINT) AS prior6
       |  FROM (SELECT l.lang, v.token FROM langs l CROSS JOIN vocab v) g
       |  LEFT JOIN cc ON g.lang = cc.lang AND g.token = cc.token
       |  LEFT JOIN nl ON g.lang = nl.lang
       |  JOIN langs ON g.lang = langs.lang
       |  CROSS JOIN vs CROSS JOIN dd)""".stripMargin

  /** NB training readout: the full (class × vocab) weight table. */
  private val nbTrain = QueryDef(
    fn = (spark, dir) =>
      nbWeights(spark, dir)
        .select(col("lang"), col("token"), col("c"),
          (col("w6").cast("double") / 1e6).as("w"),
          (col("prior6").cast("double") / 1e6).as("prior"))
        .orderBy("lang", "token"),
    oracle = Some(
      s"""WITH $nbOracleCtes
         |SELECT lang, token, c,
         |  CAST(w6 AS DOUBLE) / 1000000.0 AS w,
         |  CAST(prior6 AS DOUBLE) / 1000000.0 AS prior
         |FROM w ORDER BY lang, token""".stripMargin))

  /** NB scoring: every document classified against every class —
    * score6(doc, l) = prior6_l + Σ_t tf_t · w6_{l,t} over the doc's
    * IN-VOCAB tokens (OOV tokens carry no signal under a selected
    * vocabulary — the standard closed-vocabulary convention), argmax by
    * (score desc, lang asc). Self-evaluating: emits the true label and a
    * correctness flag, so the query doubles as the training-accuracy
    * gate a production filter is monitored by.
    */
  private val nbScore = QueryDef(
    fn = (spark, dir) => {
      val scored = nbScoreMatrix(spark, dir)
      scored
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("score6").desc, col("lang").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("true_lang").as("lang"),
          col("lang").as("pred"),
          (col("lang") === col("true_lang")).as("correct"),
          (col("score6").cast("double") / 1e6).as("score"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH $nbOracleCtes,
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf
         |       FROM toks GROUP BY doc_id, token),
         |partial AS (SELECT tf.doc_id, w.lang, SUM(tf.tf * w.w6) AS s6
         |            FROM tf JOIN w USING (token) GROUP BY tf.doc_id, w.lang),
         |classes AS (SELECT DISTINCT lang, prior6 FROM w),
         |scored AS (SELECT d.doc_id, d.lang AS true_lang, c.lang,
         |    COALESCE(p.s6, 0) + c.prior6 AS score6
         |  FROM documents d CROSS JOIN classes c
         |  LEFT JOIN partial p ON d.doc_id = p.doc_id AND c.lang = p.lang)
         |SELECT doc_id, true_lang AS lang, lang AS pred,
         |  lang = true_lang AS correct,
         |  CAST(score6 AS DOUBLE) / 1000000.0 AS score
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY doc_id
         |  ORDER BY score6 DESC, lang ASC) = 1
         |ORDER BY doc_id""".stripMargin))

  /** PMI collocation mining: top-50 bigrams by pointwise mutual
    * information ln(n_xy·N / (n_x•·n_•y)) over the corpus bigram table
    * (marginals n_x• / n_•y and the total N all derive from the
    * VOCABULARY²-bounded bigram-count frame, never from fact rows), with
    * a min-support cut (n_xy ≥ 5) so rare-pair noise can't dominate. The
    * four ln terms take integer arguments composed in one expression on
    * both engines (the record-linkage pattern); orderBy+limit is a
    * distributed takeOrdered under a strict total order (pmi desc,
    * tok_a, tok_b), never a global sort.
    */
  /** Memoized corpus bigram-count table — q_token_pmi and q_bigram_next
    * derive from the IDENTICAL (a, b, cab) frame, so the tokenize +
    * bigram shuffle runs once per session (vocabulary²-bounded,
    * checkpointed). */
  private def bigramCounts(spark: SparkSession, dir: String): DataFrame =
    SessionCache.memo(spark, dir, "bigram_counts") {
      Tables.documents(spark, dir)
        .select(TextAnalysis.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(toks) - 1),
            |  i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"""
            .stripMargin)).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
        .localCheckpoint(true)
    }

  private val tokenPmi = QueryDef(    fn = (spark, dir) => {
      val bc = bigramCounts(spark, dir)
      val na = bc.groupBy(col("a")).agg(sum(col("cab")).as("nx"))
      val nb = bc.groupBy(col("b")).agg(sum(col("cab")).as("ny"))
      val nn = bc.agg(sum(col("cab")).as("nn"))
      bc.filter(col("cab") >= 5)
        .join(na, "a").join(nb, "b").crossJoin(broadcast(nn))
        .withColumn("pmi",
          floor((log(col("cab")) + log(col("nn"))
            - log(col("nx")) - log(col("ny"))) * 1e6 + 0.5) / 1e6)
        .select(col("a").as("tok_a"), col("b").as("tok_b"),
          col("cab").as("n_xy"), col("pmi"))
        .orderBy(col("pmi").desc, col("tok_a").asc, col("tok_b").asc)
        .limit(50)
    },
    oracle = Some(
      s"""WITH d AS (SELECT ${dToks("text")} AS toks FROM documents),
         |bg AS (SELECT toks[i] AS a, toks[i+1] AS b
         |       FROM d, unnest(range(1, len(toks))) t(i)
         |       WHERE len(toks) >= 2),
         |bc AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY a, b),
         |na AS (SELECT a, SUM(cab) AS nx FROM bc GROUP BY a),
         |nb AS (SELECT b, SUM(cab) AS ny FROM bc GROUP BY b),
         |nn AS (SELECT SUM(cab) AS nn FROM bc)
         |SELECT a AS tok_a, b AS tok_b, cab AS n_xy,
         |  floor((ln(cab) + ln(nn.nn) - ln(nx) - ln(ny)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS pmi
         |FROM bc JOIN na USING (a) JOIN nb USING (b) CROSS JOIN nn
         |WHERE cab >= 5
         |ORDER BY pmi DESC, tok_a ASC, tok_b ASC LIMIT 50""".stripMargin))

  /** NB calibration curve (reliability diagram): documents bucketed by
    * the classifier's decision MARGIN — best minus second-best class
    * score, an exact micro-nat integer, floored to whole nats and capped
    * at 5+ — with per-bucket document counts and accuracy. The readout
    * that turns a classifier into a FILTER: a production curation
    * pipeline keeps only documents above the margin where measured
    * accuracy clears its precision bar, and this table is where that
    * threshold is read off. Monotone-rising accuracy = usable
    * confidence; a flat curve = the margin carries no signal.
    *
    * Exactness: the margin is a difference of the integer score6 sums
    * (no softmax — the monotone margin needs no normalization), so
    * buckets are exact on both engines; accuracy is the one double
    * ratio, 6dp floored. Scale shape: rides the memoized broadcast
    * weight table and the same per-doc tf aggregation as q_nb_score; the
    * only windows partition by doc_id over L ≤ 5 rows; the report is
    * bucket-domain-sized.
    */
  private val nbCalibration = QueryDef(
    fn = (spark, dir) => {
      val scored = nbScoreMatrix(spark, dir)
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("score6").desc, col("lang").asc)))
        .filter(col("rn") <= 2)
      val perDoc = scored.groupBy(col("doc_id"))
        .agg(
          max(when(col("rn") === 1, col("score6"))).as("s1"),
          max(when(col("rn") === 2, col("score6"))).as("s2"),
          max(when(col("rn") === 1 && col("lang") === col("true_lang"), 1L)
            .otherwise(0L)).as("ok"))
        .withColumn("bucket",
          least(expr("(s1 - s2) div 1000000"), lit(5L)))
      perDoc.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ok")).as("n_correct"))
        .withColumn("accuracy", TextAnalysis.round6(
          col("n_correct").cast("double") / col("n_docs").cast("double")))
        .orderBy("bucket")
    },
    oracle = Some(
      // Memory-slim formulation (round-14 verdict task 1: the previous
      // documents-CROSS-JOIN-classes + window form OOM'd the checker's
      // DuckDB once). `partial` already carries ALL L classes for every
      // doc with >=1 in-vocab token (w is the dense L x V grid), so the
      // per-doc top-2 reduces to hash aggregations over partial alone —
      // no corpus x L window sort — and zero-token docs take the
      // class-constant prior-only top-2 via LEFT JOIN + COALESCE.
      s"""WITH $nbOracleCtes,
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf
         |       FROM toks GROUP BY doc_id, token),
         |partial AS (SELECT tf.doc_id, w.lang, SUM(tf.tf * w.w6) AS s6
         |            FROM tf JOIN w USING (token) GROUP BY tf.doc_id, w.lang),
         |classes AS (SELECT DISTINCT lang, prior6 FROM w),
         |sc AS (SELECT p.doc_id, p.lang, p.s6 + c.prior6 AS score6
         |       FROM partial p JOIN classes c USING (lang)),
         |m1 AS (SELECT doc_id, MAX(score6) AS s1 FROM sc GROUP BY doc_id),
         |bst AS (SELECT sc.doc_id, MIN(sc.lang) AS blang
         |        FROM sc JOIN m1 USING (doc_id)
         |        WHERE sc.score6 = m1.s1 GROUP BY sc.doc_id),
         |m2 AS (SELECT sc.doc_id, MAX(sc.score6) AS s2
         |       FROM sc JOIN m1 USING (doc_id) JOIN bst USING (doc_id)
         |       WHERE NOT (sc.score6 = m1.s1 AND sc.lang = bst.blang)
         |       GROUP BY sc.doc_id),
         |cp1 AS (SELECT MAX(prior6) AS p1 FROM classes),
         |cpb AS (SELECT MIN(c.lang) AS plang FROM classes c, cp1
         |        WHERE c.prior6 = cp1.p1),
         |cp2 AS (SELECT MAX(c.prior6) AS p2 FROM classes c, cp1, cpb
         |        WHERE NOT (c.prior6 = cp1.p1 AND c.lang = cpb.plang)),
         |pd AS (SELECT d.doc_id,
         |    COALESCE(m1.s1, cp1.p1) AS s1,
         |    COALESCE(m2.s2, CASE WHEN m1.doc_id IS NULL THEN cp2.p2 END)
         |      AS s2,
         |    CASE WHEN COALESCE(bst.blang, cpb.plang) = d.lang
         |      THEN 1 ELSE 0 END AS ok
         |  FROM documents d
         |  LEFT JOIN m1 USING (doc_id)
         |  LEFT JOIN bst USING (doc_id)
         |  LEFT JOIN m2 USING (doc_id)
         |  CROSS JOIN cp1 CROSS JOIN cpb CROSS JOIN cp2),
         |b AS (SELECT LEAST((s1 - s2) // 1000000, 5) AS bucket, ok FROM pd)
         |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
         |  CAST(SUM(ok) AS BIGINT) AS n_correct,
         |  floor(CAST(SUM(ok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS accuracy
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** ROC-AUC of the trained classifier as a one-vs-rest ranker: does the
    * NB 'en' class score rank true-English documents above the rest? AUC
    * is computed EXACTLY from the rank-sum identity
    * AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg) with tie-averaged
    * ranks — the Mann-Whitney machinery (2·avg_rank = 2·preceding +
    * ties + 1, all integer), so no probability estimate and no
    * trapezoid-on-doubles is ever formed. The score is first quantized
    * to 0.01-nat bins (⌊score6/10⁴⌋ via floor on the exactly-widened
    * double — truncating `div` disagrees with DuckDB's flooring `//` on
    * the NEGATIVE log-scores, so neither is used); the binned AUC is the
    * exact AUC of the quantized score (the declared statistic — the
    * binned-KS precedent), and the bin grid is score-RANGE-bounded —
    * ≤ range/0.01 rows (a ~10⁵ ceiling set by the model's nat scale,
    * independent of corpus size) rather than corpus-sized; widen the
    * bin to trade AUC resolution for grid size if the range grows.
    *
    * Scale shape: scoring is the q_nb_score plan (corpus tf ⋈ broadcast
    * weights, one doc-keyed combine); the rank stage collapses docs to
    * the bin grid in one partial-aggregatable shuffle, and the only
    * unpartitioned window runs on that grid. Emitted columns are pure
    * integers: auc_e6 = ⌊AUC·10⁶⌋ and gini_e6 = ⌊2·AUC·10⁶⌋ − 10⁶ via
    * cross-multiplied integral division (non-negative numerators, so
    * floor and truncate agree).
    */
  private val rocAuc = QueryDef(
    fn = (spark, dir) => {
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val scored = nbScoreMatrix(spark, dir).filter(col("lang") === "en")
        .select((col("true_lang") === "en").as("pos"), col("score6"))
      val g = scored
        .select(floor(col("score6").cast("double") / 1e4).cast("long").as("bin"),
          when(col("pos"), 1L).otherwise(0L).as("ga"))
        .groupBy(col("bin"))
        .agg(sum(col("ga")).as("ca"), sum(lit(1L) - col("ga")).as("cb"))
        .withColumn("t", col("ca") + col("cb"))
      val wPrev = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val c = g.withColumn("p", coalesce(sum(col("t")).over(wPrev), lit(0L)))
        .withColumn("r2", lit(2L) * col("p") + col("t") + lit(1L))
      val s = c.agg(
        sum(col("ca")).cast(d380).as("np"),
        sum(col("cb")).cast(d380).as("nn"),
        sum(col("ca").cast(d380) * col("r2")).as("r2a"),
        count(lit(1)).as("n_bins"))
      s.select(col("np").cast("long").as("n_pos"),
          col("nn").cast("long").as("n_neg"),
          col("n_bins"),
          expr("((r2a - np * (np + 1)) * CAST(1000000 AS DECIMAL(38,0)))" +
            " div (2 * np * nn)").as("auc_e6"),
          (expr("((r2a - np * (np + 1)) * CAST(1000000 AS DECIMAL(38,0)))" +
            " div (np * nn)") - lit(1000000L)).as("gini_e6"))
    },
    oracle = Some(
      s"""WITH $nbOracleCtes,
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf
         |       FROM toks GROUP BY doc_id, token),
         |s6 AS (SELECT tf.doc_id, SUM(tf.tf * w.w6) AS s6
         |       FROM tf JOIN w USING (token) WHERE w.lang = 'en'
         |       GROUP BY tf.doc_id),
         |pr AS (SELECT DISTINCT prior6 FROM w WHERE lang = 'en'),
         |sc AS (SELECT (d.lang = 'en') AS pos,
         |    COALESCE(s6.s6, 0) + pr.prior6 AS score6
         |  FROM documents d LEFT JOIN s6 USING (doc_id) CROSS JOIN pr),
         |b AS (SELECT CAST(floor(CAST(score6 AS DOUBLE) / 10000.0) AS BIGINT)
         |    AS bin,
         |    CASE WHEN pos THEN 1 ELSE 0 END AS ga
         |  FROM sc),
         |g AS (SELECT bin, SUM(ga) AS ca, SUM(1 - ga) AS cb, COUNT(*) AS t
         |  FROM b GROUP BY 1),
         |c AS (SELECT bin, ca, cb, t,
         |    COALESCE(SUM(t) OVER (ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
         |  FROM g),
         |s AS (SELECT CAST(SUM(ca) AS HUGEINT) AS np,
         |    CAST(SUM(cb) AS HUGEINT) AS nn,
         |    CAST(SUM(CAST(ca AS HUGEINT) * (2 * p + t + 1)) AS HUGEINT)
         |      AS r2a,
         |    COUNT(*) AS n_bins
         |  FROM c)
         |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
         |  CAST(n_bins AS BIGINT) AS n_bins,
         |  CAST(((r2a - np * (np + 1)) * 1000000) // (2 * np * nn) AS BIGINT)
         |    AS auc_e6,
         |  CAST(((r2a - np * (np + 1)) * 1000000) // (np * nn) - 1000000
         |    AS BIGINT) AS gini_e6
         |FROM s""".stripMargin))

  /** Binned precision-recall AUC (average precision) of the NB lang-id
    * scorer — the class-imbalance-honest complement to q_roc_auc (ROC is
    * blind to prevalence; AP is anchored to it). Same score6 bins as
    * q_roc_auc, processed in DESCENDING score order: with tp_b / n_b the
    * cumulative positives / rows through bin b, the binned AP is
    * Σ_b ca_b · P_b / n_pos with P_b = tp_b/n_b — the step-curve AP of
    * the quantized score, a declared statistic of the binned variable
    * (the q_ks_test stance). Integer discipline end to end: each bin's
    * precision is ⌊tp_b·10⁶/n_b⌋, the positives-weighted sum is a
    * DECIMAL(38,0), pr_auc_e6 its floored division by n_pos; prev_e6 =
    * ⌊n_pos·10⁶/n⌋ is the random-classifier baseline AP to read it
    * against. No double anywhere.
    *
    * Scale shape: identical to q_roc_auc — one corpus pass to the score
    * bins, running sums on the bounded bin grid only. */
  private val prAuc = QueryDef(
    fn = (spark, dir) => {
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val scored = nbScoreMatrix(spark, dir).filter(col("lang") === "en")
        .select((col("true_lang") === "en").as("pos"), col("score6"))
      val g = scored
        .select(floor(col("score6").cast("double") / 1e4).cast("long").as("bin"),
          when(col("pos"), 1L).otherwise(0L).as("ga"))
        .groupBy(col("bin"))
        .agg(sum(col("ga")).as("ca"), count(lit(1)).as("t"))
      val wRun = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = g
        .withColumn("tp", sum(col("ca")).over(wRun))
        .withColumn("nc", sum(col("t")).over(wRun))
        .withColumn("term", col("ca").cast(d380)
          * expr("(tp * CAST(1000000 AS BIGINT)) div nc"))
      val s = c.agg(
        sum(col("ca")).as("np"), sum(col("t")).as("n"),
        sum(col("term")).as("tsum"), count(lit(1)).as("n_bins"))
      s.select(col("np").as("n_pos"), col("n"), col("n_bins"),
        expr("CAST(tsum div np AS BIGINT)").as("pr_auc_e6"),
        expr("(np * CAST(1000000 AS BIGINT)) div n").as("prev_e6"))
    },
    oracle = Some(
      s"""WITH $nbOracleCtes,
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf
         |       FROM toks GROUP BY doc_id, token),
         |s6 AS (SELECT tf.doc_id, SUM(tf.tf * w.w6) AS s6
         |       FROM tf JOIN w USING (token) WHERE w.lang = 'en'
         |       GROUP BY tf.doc_id),
         |pr AS (SELECT DISTINCT prior6 FROM w WHERE lang = 'en'),
         |sc AS (SELECT (d.lang = 'en') AS pos,
         |    COALESCE(s6.s6, 0) + pr.prior6 AS score6
         |  FROM documents d LEFT JOIN s6 USING (doc_id) CROSS JOIN pr),
         |b AS (SELECT CAST(floor(CAST(score6 AS DOUBLE) / 10000.0) AS BIGINT)
         |    AS bin,
         |    CASE WHEN pos THEN 1 ELSE 0 END AS ga
         |  FROM sc),
         |g AS (SELECT bin, SUM(ga) AS ca, COUNT(*) AS t FROM b GROUP BY 1),
         |c AS (SELECT bin, ca, t,
         |    SUM(ca) OVER (ORDER BY bin DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    SUM(t) OVER (ORDER BY bin DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nc
         |  FROM g),
         |s AS (SELECT CAST(SUM(ca) AS HUGEINT) AS np,
         |    CAST(SUM(t) AS HUGEINT) AS n,
         |    CAST(SUM(CAST(ca AS HUGEINT) * ((tp * 1000000) // nc))
         |      AS HUGEINT) AS tsum,
         |    COUNT(*) AS n_bins
         |  FROM c)
         |SELECT CAST(np AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n,
         |  CAST(n_bins AS BIGINT) AS n_bins,
         |  CAST(tsum // np AS BIGINT) AS pr_auc_e6,
         |  CAST((np * 1000000) // n AS BIGINT) AS prev_e6
         |FROM s""".stripMargin))

  /** Cumulative gains / lift table of the NB scorer by score decile —
    * the campaign-targeting readout ("top 20% of scores capture X% of
    * positives"): documents ranked by score6 (ties by doc_id — fully
    * deterministic), cut into 10 equal-count deciles by rank arithmetic
    * (⌈rank·10/n⌉, exact integers — NOT ntile, whose remainder spread is
    * engine-specific), then per decile the positive count, cumulative
    * capture rate, and cumulative lift vs the base rate — both emitted
    * as cross-multiplied ⌊·10⁶⌋ integers.
    *
    * Scale shape (round-13 rewrite — the round-12 verdict's one
    * documented test-scale trade, now closed): the global rank never
    * materializes. Docs collapse onto the bounded score-BIN grid
    * (⌊score6/10⁴⌋, the q_roc_auc bin — monotone in score, so bin order
    * IS score order across bins); running sums over the grid give every
    * bin its exclusive global-rank offset, and a bin whose rank range
    * [start, end] lands inside one decile contributes its counts
    * WHOLESALE — pure grid arithmetic. Only bins straddling a decile
    * boundary (≤ 9 of them, one per boundary) pull their rows back for
    * a per-BIN rank window (bin-sized partitions, never corpus-sized):
    * global rk = bin offset + within-bin rank, ties (score6 desc,
    * doc_id) exactly as the row-level definition. Output is
    * row-for-row identical to the naive global row_number (the oracle
    * still ranks row-level), and the only corpus-sized ops are one
    * partial-aggregatable groupBy(bin) plus a broadcast semi-join on
    * the ≤9 boundary bins.
    */
  private val gainsTable = QueryDef(
    fn = (spark, dir) => {
      val scored = nbScoreMatrix(spark, dir).filter(col("lang") === "en")
        .select(col("doc_id"),
          when(col("true_lang") === "en", 1L).otherwise(0L).as("pos"),
          col("score6"))
        .withColumn("bin",
          floor(col("score6").cast("double") / 10000.0).cast("long"))
        .localCheckpoint(false) // feeds the grid AND the boundary pull
      val g = scored.groupBy(col("bin"))
        .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
      val wDesc = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val g2 = g
        .withColumn("off", coalesce(sum(col("c")).over(wDesc), lit(0L)))
        .withColumn("n", sum(col("c")).over(wAll))
        .withColumn("d1", expr("((off + 1) * 10 + n - 1) div n"))
        .withColumn("d2", expr("((off + c) * 10 + n - 1) div n"))
        .localCheckpoint(false) // grid feeds interior + boundary branches
      val interior = g2.filter(col("d1") === col("d2"))
        .select(col("d1").as("decile"), col("c").as("nr"),
          col("p").as("np"))
      val bb = g2.filter(col("d1") =!= col("d2"))
        .select(col("bin"), col("off"), col("n"))
      val boundary = scored.join(broadcast(bb), "bin")
        .withColumn("wrk", row_number().over(
          Window.partitionBy(col("bin"))
            .orderBy(col("score6").desc, col("doc_id").asc)))
        .withColumn("decile", expr("((off + wrk) * 10 + n - 1) div n"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("nr"), sum(col("pos")).as("np"))
      val byDec = interior.unionByName(boundary)
        .groupBy(col("decile"))
        .agg(sum(col("nr")).as("n_rows"), sum(col("np")).as("n_pos"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      byDec
        .withColumn("cum_rows", sum(col("n_rows")).over(wCum))
        .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
        .withColumn("tot_rows", sum(col("n_rows")).over(wTot))
        .withColumn("tot_pos", sum(col("n_pos")).over(wTot))
        .select(col("decile"), col("n_rows"), col("n_pos"),
          expr("(cum_pos * CAST(1000000 AS BIGINT)) div tot_pos")
            .as("capture_e6"),
          expr("(cum_pos * tot_rows * CAST(1000000 AS BIGINT))" +
            " div (cum_rows * tot_pos)").as("lift_e6"))
        .orderBy("decile")
    },
    oracle = Some(
      s"""WITH $nbOracleCtes,
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf
         |       FROM toks GROUP BY doc_id, token),
         |s6 AS (SELECT tf.doc_id, SUM(tf.tf * w.w6) AS s6
         |       FROM tf JOIN w USING (token) WHERE w.lang = 'en'
         |       GROUP BY tf.doc_id),
         |pr AS (SELECT DISTINCT prior6 FROM w WHERE lang = 'en'),
         |sc AS (SELECT d.doc_id,
         |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos,
         |    COALESCE(s6.s6, 0) + pr.prior6 AS score6
         |  FROM documents d LEFT JOIN s6 USING (doc_id) CROSS JOIN pr),
         |rk AS (SELECT pos, row_number() OVER (
         |      ORDER BY score6 DESC, doc_id ASC) AS rk,
         |    COUNT(*) OVER () AS n
         |  FROM sc),
         |dec AS (SELECT (rk * 10 + n - 1) // n AS decile, pos FROM rk),
         |g AS (SELECT decile, COUNT(*) AS n_rows, SUM(pos) AS n_pos
         |  FROM dec GROUP BY 1),
         |c AS (SELECT decile, n_rows, n_pos,
         |    SUM(n_rows) OVER (ORDER BY decile
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rows,
         |    SUM(n_pos) OVER (ORDER BY decile
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
         |    SUM(n_rows) OVER () AS tot_rows,
         |    SUM(n_pos) OVER () AS tot_pos
         |  FROM g)
         |SELECT CAST(decile AS BIGINT) AS decile, n_rows,
         |  CAST(n_pos AS BIGINT) AS n_pos,
         |  CAST((cum_pos * 1000000) // tot_pos AS BIGINT) AS capture_e6,
         |  CAST((CAST(cum_pos AS HUGEINT) * tot_rows * 1000000)
         |    // (CAST(cum_rows AS HUGEINT) * tot_pos) AS BIGINT) AS lift_e6
         |FROM c ORDER BY decile""".stripMargin))

  /** Smoothed mean target encoding with LEAVE-ONE-OUT (the
    * feature-engineering classic, and its classic leakage trap): encode
    * each order's customer segment by the mean high-priority rate of the
    * segment's OTHER orders — enc = (sum_g − y_i + m·prior)/(n_g − 1 + m)
    * with smoothing m = 20 toward the global rate — so a row never sees
    * its own label (the q_split_leakage concern, solved arithmetically).
    * Emitted per (segment, own label): row count and the exact
    * ⌊enc·10⁶⌋ — within a segment the encoding takes exactly two values
    * (y = 0 / y = 1), so the 10-row grid IS the complete encoder.
    *
    * Numeric discipline: prior rides as the exact rational (tot_pos,
    * tot_n); enc_e6 = ⌊(sum_g − y + m·tot_pos/tot_n)·10⁶ / (n_g − 1 +
    * m)⌋ cross-multiplies to ((sum_g − y)·tot_n + m·tot_pos)·10⁶ div
    * ((n_g − 1 + m)·tot_n) — DECIMAL(38,0)-exact, no double anywhere.
    *
    * Scale shape: one orders × customer join into a partial-aggregatable
    * (segment, label) groupBy; the encoder grid is domain-sized. */
  private val targetEncode = QueryDef(
    fn = (spark, dir) => {
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val o = Tables.orders(spark, dir).select(col("o_custkey"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("y"))
      val c = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      val j = o.join(c, col("o_custkey") === col("c_custkey"))
      // ONE fact scan (ScanCountLintSpec): the (seg, y) grid is a
      // sufficient statistic for the segment and total rollups
      // (y ∈ {0,1} ⇒ Σy = Σ y·n_rows), so both derive from the ≤10-cell
      // checkpointed grid instead of re-scanning the join
      val grid = j.groupBy(col("seg"), col("y"))
        .agg(count(lit(1)).as("n_rows"))
        .memoCheckpoint(spark, dir, "target_grid")
      val segAgg = grid.groupBy(col("seg"))
        .agg(sum(col("n_rows")).as("n_g"),
          sum(col("y") * col("n_rows")).as("sum_g"))
      val tot = grid.agg(sum(col("n_rows")).as("tot_n"),
        sum(col("y") * col("n_rows")).as("tot_pos"))
      grid.join(segAgg, "seg").crossJoin(broadcast(tot))
        .select(col("seg"), col("y"), col("n_rows"),
          expr("(((sum_g - y) * CAST(tot_n AS DECIMAL(38,0))" +
            " + 20 * tot_pos) * CAST(1000000 AS DECIMAL(38,0)))" +
            " div ((n_g - 1 + 20) * CAST(tot_n AS DECIMAL(38,0)))")
            .as("enc_e6"))
        .orderBy("seg", "y")
    },
    oracle = Some(
      """WITH j AS (SELECT c.c_mktsegment AS seg,
        |    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |grid AS (SELECT seg, y, COUNT(*) AS n_rows FROM j GROUP BY 1, 2),
        |sa AS (SELECT seg, COUNT(*) AS n_g, SUM(y) AS sum_g
        |  FROM j GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS tot_n, SUM(y) AS tot_pos FROM j)
        |SELECT seg, CAST(y AS BIGINT) AS y, n_rows,
        |  CAST((((sum_g - y) * CAST(tot_n AS HUGEINT) + 20 * tot_pos)
        |      * 1000000)
        |    // ((n_g - 1 + 20) * CAST(tot_n AS HUGEINT)) AS BIGINT)
        |    AS enc_e6
        |FROM grid JOIN sa USING (seg) CROSS JOIN tot
        |ORDER BY seg, y""".stripMargin))

  /** McNemar's paired test between the two lang-id classifiers the suite
    * already ships — the NB model (argmax of the memoized score matrix)
    * and the stopword-argmax heuristic (q_text_lang_id) — on the SAME
    * documents: do they err at different rates, judged only on the
    * discordant pairs? b = NB right & heuristic wrong, c = the reverse;
    * continuity-corrected χ² = (|b−c|−1)²/(b+c), α = 0.05 decided by the
    * pure-integer comparison (|b−c|−1)²·1000 > 3841·(b+c). This is THE
    * test for "is the expensive classifier actually better on paired
    * data" — accuracy deltas alone ignore the pairing.
    *
    * Scale shape: both predictions are map-side over memoized/scan-local
    * state; one corpus-row join on doc_id; the test statistic is a
    * single aggregation row. */
  private val mcnemar = QueryDef(
    fn = (spark, dir) => {
      val nbPred = nbScoreMatrix(spark, dir)
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("score6").desc, col("lang").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("true_lang"),
          (col("lang") === col("true_lang")).as("nb_ok"))
      val heur = Tables.documents(spark, dir)
        .select(col("doc_id"),
          (TextAnalysis.langId(col("text")).getField("lang_pred")
            === col("lang")).as("h_ok"))
      val s = nbPred.join(heur, "doc_id").agg(
        count(lit(1)).as("n"),
        sum(when(col("nb_ok") && !col("h_ok"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("nb_ok") && col("h_ok"), 1L).otherwise(0L)).as("c"))
      s.select(col("n"), col("b"), col("c"),
        expr("CASE WHEN b + c = 0 THEN CAST(0 AS BIGINT) ELSE" +
          " ((abs(b - c) - 1) * (abs(b - c) - 1)" +
          " * CAST(1000000 AS BIGINT)) div (b + c) END").as("chi2_e6"),
        expr("CASE WHEN b + c = 0 THEN false ELSE" +
          " (abs(b - c) - 1) * (abs(b - c) - 1) * 1000 > 3841 * (b + c)" +
          " END").as("reject"))
    },
    oracle = Some {
      val (hits, caseExpr, _) = ExtensionQueries.dLangIdSql
      s"""WITH $nbOracleCtes,
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf
         |       FROM toks GROUP BY doc_id, token),
         |partial AS (SELECT tf.doc_id, w.lang, SUM(tf.tf * w.w6) AS s6
         |            FROM tf JOIN w USING (token) GROUP BY tf.doc_id, w.lang),
         |classes AS (SELECT DISTINCT lang, prior6 FROM w),
         |scored AS (SELECT d.doc_id, d.lang AS true_lang, c.lang,
         |    COALESCE(p.s6, 0) + c.prior6 AS score6
         |  FROM documents d CROSS JOIN classes c
         |  LEFT JOIN partial p ON p.doc_id = d.doc_id AND p.lang = c.lang),
         |nbp AS (SELECT doc_id, true_lang, lang AS pred FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score6 DESC, lang ASC) AS rn FROM scored)
         |  WHERE rn = 1),
         |h AS (SELECT doc_id, lang AS lang_declared, $hits FROM documents),
         |hp AS (SELECT doc_id, ($caseExpr = lang_declared) AS h_ok FROM h),
         |j AS (SELECT (nbp.pred = nbp.true_lang) AS nb_ok, hp.h_ok
         |  FROM nbp JOIN hp USING (doc_id)),
         |s AS (SELECT COUNT(*) AS n,
         |    CAST(SUM(CASE WHEN nb_ok AND NOT h_ok THEN 1 ELSE 0 END)
         |      AS BIGINT) AS b,
         |    CAST(SUM(CASE WHEN NOT nb_ok AND h_ok THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c
         |  FROM j)
         |SELECT n, b, c,
         |  CASE WHEN b + c = 0 THEN CAST(0 AS BIGINT) ELSE
         |    CAST(((abs(b - c) - 1) * (abs(b - c) - 1) * 1000000)
         |      // (b + c) AS BIGINT) END AS chi2_e6,
         |  CASE WHEN b + c = 0 THEN false ELSE
         |    (abs(b - c) - 1) * (abs(b - c) - 1) * 1000 > 3841 * (b + c)
         |  END AS reject
         |FROM s""".stripMargin
    })

  /** Model KS statistic — max separation of the positive and negative
    * cumulative score distributions over the same bins as q_roc_auc
    * (the credit-scoring discrimination readout; with AUC, PR-AUC and
    * the gains table this completes the standard ranking-eval quartet).
    * Exact integers: D = max |cum_pos·n_neg − cum_neg·n_pos| in
    * DECIMAL(38,0) cross-multiplication, ks_e6 its floored division,
    * plus the first bin attaining the max (ties to the lowest bin —
    * deterministic cutoff recommendation).
    *
    * Scale shape: same as q_roc_auc — matrix slice to score bins,
    * running sums on the bounded bin grid. */
  private val modelKs = QueryDef(
    fn = (spark, dir) => {
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val scored = nbScoreMatrix(spark, dir).filter(col("lang") === "en")
        .select((col("true_lang") === "en").as("pos"), col("score6"))
      val g = scored
        .select(floor(col("score6").cast("double") / 1e4).cast("long").as("bin"),
          when(col("pos"), 1L).otherwise(0L).as("ga"))
        .groupBy(col("bin"))
        .agg(sum(col("ga")).as("ca"), sum(lit(1L) - col("ga")).as("cb"))
      val wRun = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val c = g
        .withColumn("cp", sum(col("ca")).over(wRun))
        .withColumn("cn", sum(col("cb")).over(wRun))
        .withColumn("np", sum(col("ca")).over(wAll))
        .withColumn("nn", sum(col("cb")).over(wAll))
        .withColumn("d", abs(col("cp").cast(d380) * col("nn")
          - col("cn").cast(d380) * col("np")))
      val top = c
        .withColumn("rn", row_number().over(
          Window.orderBy(col("d").desc, col("bin").asc)))
        .filter(col("rn") === 1)
      top.select(col("np").as("n_pos"), col("nn").as("n_neg"),
        col("bin").as("ks_bin"),
        expr("(d * CAST(1000000 AS DECIMAL(38,0)))" +
          " div (CAST(np AS DECIMAL(38,0)) * nn)").as("ks_e6"))
    },
    oracle = Some(
      s"""WITH $nbOracleCtes,
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf
         |       FROM toks GROUP BY doc_id, token),
         |s6 AS (SELECT tf.doc_id, SUM(tf.tf * w.w6) AS s6
         |       FROM tf JOIN w USING (token) WHERE w.lang = 'en'
         |       GROUP BY tf.doc_id),
         |pr AS (SELECT DISTINCT prior6 FROM w WHERE lang = 'en'),
         |sc AS (SELECT (d.lang = 'en') AS pos,
         |    COALESCE(s6.s6, 0) + pr.prior6 AS score6
         |  FROM documents d LEFT JOIN s6 USING (doc_id) CROSS JOIN pr),
         |b AS (SELECT CAST(floor(CAST(score6 AS DOUBLE) / 10000.0) AS BIGINT)
         |    AS bin, CASE WHEN pos THEN 1 ELSE 0 END AS ga
         |  FROM sc),
         |g AS (SELECT bin, SUM(ga) AS ca, SUM(1 - ga) AS cb FROM b GROUP BY 1),
         |c AS (SELECT bin,
         |    SUM(ca) OVER (ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
         |    SUM(cb) OVER (ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         |    SUM(ca) OVER () AS np, SUM(cb) OVER () AS nn
         |  FROM g),
         |d AS (SELECT bin, np, nn,
         |    abs(CAST(cp AS HUGEINT) * nn - CAST(cn AS HUGEINT) * np) AS d
         |  FROM c),
         |top AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (ORDER BY d DESC, bin ASC) AS rn
         |  FROM d) WHERE rn = 1)
         |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
         |  bin AS ks_bin,
         |  CAST((d * 1000000) // (CAST(np AS HUGEINT) * nn) AS BIGINT)
         |    AS ks_e6
         |FROM top""".stripMargin))

  /** Gini split gain of a candidate feature — the decision-tree /
    * feature-selection scorer: how much does splitting orders by
    * customer segment reduce Gini impurity of the high-priority label?
    * Pure integers end to end: branch impurity g_j = (n_j² − pos_j² −
    * neg_j²)/n_j² is emitted as its floored e6; the weighted child
    * impurity is ⌊Σ n_j·g_j_e6 / n⌋ (sum-of-floors weighting, the
    * declared statistic); gain_e6 = parent_e6 − weighted_e6. A noisy
    * feature scores ≈ 0 — the readout that stops a pipeline from
    * one-hot-exploding useless categoricals.
    *
    * Scale shape: one orders × customer join into a (segment, label)
    * combine; the impurity algebra runs on the ≤ 2k-cell grid. */
  private val splitGain = QueryDef(
    fn = (spark, dir) => {
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val j = Tables.orders(spark, dir)
        .select(col("o_custkey"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L).as("y"))
        .join(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment").as("seg")),
          col("o_custkey") === col("c_custkey"))
      val br = j.groupBy(col("seg"))
        .agg(count(lit(1)).as("nj"), sum(col("y")).as("pj"))
        .withColumn("gj_e6", expr(
          "((CAST(nj AS DECIMAL(38,0)) * nj" +
            " - CAST(pj AS DECIMAL(38,0)) * pj" +
            " - CAST(nj - pj AS DECIMAL(38,0)) * (nj - pj))" +
            " * CAST(1000000 AS DECIMAL(38,0)))" +
            " div (CAST(nj AS DECIMAL(38,0)) * nj)"))
      val s = br.agg(count(lit(1)).as("k"), sum(col("nj")).as("n"),
        sum(col("pj")).as("pos"),
        sum(col("nj").cast(d380) * col("gj_e6")).as("wsum"))
      s.select(col("n"), col("k"), col("pos"),
          expr("((CAST(n AS DECIMAL(38,0)) * n" +
            " - CAST(pos AS DECIMAL(38,0)) * pos" +
            " - CAST(n - pos AS DECIMAL(38,0)) * (n - pos))" +
            " * CAST(1000000 AS DECIMAL(38,0)))" +
            " div (CAST(n AS DECIMAL(38,0)) * n)").as("parent_gini_e6"),
          expr("wsum div CAST(n AS DECIMAL(38,0))").as("weighted_child_e6"))
        .withColumn("gain_e6",
          col("parent_gini_e6") - col("weighted_child_e6"))
    },
    oracle = Some(
      """WITH j AS (SELECT c.c_mktsegment AS seg,
        |    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |br AS (SELECT seg, CAST(COUNT(*) AS HUGEINT) AS nj,
        |    CAST(SUM(y) AS HUGEINT) AS pj
        |  FROM j GROUP BY 1),
        |bg AS (SELECT seg, nj, pj,
        |    ((nj * nj - pj * pj - (nj - pj) * (nj - pj)) * 1000000)
        |      // (nj * nj) AS gj_e6
        |  FROM br),
        |s AS (SELECT COUNT(*) AS k, CAST(SUM(nj) AS HUGEINT) AS n,
        |    CAST(SUM(pj) AS HUGEINT) AS pos,
        |    CAST(SUM(nj * gj_e6) AS HUGEINT) AS wsum
        |  FROM bg)
        |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  CAST(pos AS BIGINT) AS pos,
        |  CAST(((n * n - pos * pos - (n - pos) * (n - pos)) * 1000000)
        |    // (n * n) AS BIGINT) AS parent_gini_e6,
        |  CAST(wsum // n AS BIGINT) AS weighted_child_e6,
        |  CAST(((n * n - pos * pos - (n - pos) * (n - pos)) * 1000000)
        |    // (n * n) - wsum // n AS BIGINT) AS gain_e6
        |FROM s""".stripMargin))

  /** Expected calibration error of the heuristic lang-ID classifier —
    * the reliability readout for its confidence proxy
    * conf = best-list hits / document tokens (hit DENSITY — an exact
    * rational, so no softmax and no transcendental ever appears; the
    * share-of-hits variant best/total is degenerate on this corpus —
    * measured: every doc hits exactly one list, so all mass lands at
    * conf = 1.0 — while density spreads the buckets and is the signal a
    * stopword classifier actually accumulates): documents are bucketed
    * by ⌊conf·10⌋, and per bucket the average confidence is compared to
    * the measured accuracy; ECE = Σ_b |ok_b − Σconf_b| / n (the n_b
    * weights cancel into the raw sums). A well-calibrated filter has
    * gap ≈ 0 per bucket — this table is where a pipeline decides whether
    * the heuristic's confidence can gate documents directly or needs
    * recalibration (q_nb_calibration is the margin-based sibling for the
    * trained NB).
    *
    * Numeric discipline: conf is 9dp floor-pinned (single division —
    * IEEE-exact composition) and summed in DECIMAL(28,9), so conf_sum_e9
    * is an exact integer, gap_e9 = |n_correct·10⁹ − conf_sum_e9| is pure
    * long arithmetic, and ece_e6 = Σgap_e9 div (1000·n) is one integral
    * division. Zero-hit documents carry no confidence and are excluded
    * (the declared statistic).
    *
    * Scale shape: one scan-stage stopword-hit projection (the
    * q_text_lang_id argmax plus two integer columns), one
    * partial-aggregatable groupBy onto the ≤11-bucket grid. */
  private val langidEce = QueryDef(
    fn = (spark, dir) => {
      val lc = TextAnalysis.langIdConfidence(col("text"))
      val d = Tables.documents(spark, dir)
        .select(col("lang").as("true_lang"),
          lc.getField("lang_pred").as("pred"),
          lc.getField("best_hits").cast("long").as("bh"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("th"))
        .filter(col("th") > 0)
        .withColumn("conf9",
          floor(col("bh").cast("double") / col("th").cast("double")
            * 1e9 + 0.5) / 1e9)
        .withColumn("bucket", floor(col("conf9") * 10.0).cast("long"))
        .withColumn("ok",
          when(col("pred") === col("true_lang"), 1L).otherwise(0L))
      val g = d.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ok")).as("n_correct"),
          (sum(col("conf9").cast(
            org.apache.spark.sql.types.DecimalType(28, 9))) * 1000000000L)
            .cast("long").as("conf_sum_e9"))
        .withColumn("gap_e9",
          abs(col("n_correct") * 1000000000L - col("conf_sum_e9")))
        // ≤11-row grid feeds both the ECE total and the output rows —
        // the barrier keeps the corpus scan single (audited: 2 scans
        // without it)
        .localCheckpoint(false)
      val tot = g.agg(sum(col("n_docs")).as("n"),
        sum(col("gap_e9")).as("gap_tot"))
        .select(expr("gap_tot div (1000 * n)").as("ece_e6"))
      g.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_docs"), col("n_correct"),
          col("conf_sum_e9"), col("gap_e9"),
          TextAnalysis.round6(col("n_correct").cast("double")
            / col("n_docs").cast("double")).as("accuracy"),
          col("ece_e6"))
        .orderBy("bucket")
    },
    oracle = Some {
      val (hits, caseExpr, scoreExpr) = ExtensionQueries.dLangIdSql
      s"""WITH h AS (SELECT doc_id, lang AS true_lang,
         |  CAST(len(${ExtensionQueries.dToks("text")}) AS BIGINT) AS th,
         |  $hits
         |FROM documents),
         |p AS (SELECT true_lang, $caseExpr AS pred,
         |    CAST($scoreExpr AS BIGINT) AS bh, th
         |  FROM h),
         |d AS (SELECT true_lang, pred,
         |    floor(CAST(bh AS DOUBLE) / CAST(th AS DOUBLE)
         |      * 1000000000.0 + 0.5) / 1000000000.0 AS conf9
         |  FROM p WHERE th > 0),
         |e AS (SELECT CAST(floor(conf9 * 10.0) AS BIGINT) AS bucket,
         |    CASE WHEN pred = true_lang THEN 1 ELSE 0 END AS ok,
         |    CAST(conf9 AS DECIMAL(28,9)) AS conf
         |  FROM d),
         |g AS (SELECT bucket, COUNT(*) AS n_docs,
         |    CAST(SUM(ok) AS BIGINT) AS n_correct,
         |    CAST(SUM(conf) * 1000000000 AS BIGINT) AS conf_sum_e9
         |  FROM e GROUP BY bucket),
         |g2 AS (SELECT *,
         |    abs(n_correct * 1000000000 - conf_sum_e9) AS gap_e9 FROM g),
         |tot AS (SELECT CAST(SUM(gap_e9) // (1000 * SUM(n_docs)) AS BIGINT)
         |    AS ece_e6 FROM g2)
         |SELECT bucket, n_docs, n_correct, conf_sum_e9, gap_e9,
         |  floor(CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS accuracy,
         |  ece_e6
         |FROM g2 CROSS JOIN tot ORDER BY bucket""".stripMargin
    })

  /** Bigram next-token table — the n-gram language-model estimator read
    * directly off the corpus (the Markov-chain sibling of q_token_pmi,
    * over the same bigram counts): for the 20 highest-frequency context
    * tokens, the top-3 successors with their exact conditional
    * probability p(b|a) = ⌊n_ab·10⁶ / n_a⌋ (integral division of exact
    * counts — no double anywhere). Both the context cut and the
    * successor cut are strict total orders (count desc, token asc), so
    * every limit is a deterministic takeOrdered.
    *
    * Scale shape: one corpus-sized bigram groupBy (map-side
    * combinable); everything after lives on the vocabulary²-bounded
    * count table. */
  private val bigramNext = QueryDef(
    fn = (spark, dir) => {
      val bc = bigramCounts(spark, dir) // memoized with q_token_pmi
      val na = bc.groupBy(col("a")).agg(sum(col("cab")).as("nx"))
      val top = na
        .withColumn("crank", row_number().over(
          Window.orderBy(col("nx").desc, col("a").asc)))
        .filter(col("crank") <= 20)
      bc.join(top, "a")
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("a"))
            .orderBy(col("cab").desc, col("b").asc)))
        .filter(col("rank") <= 3)
        .select(col("a").as("tok"), col("rank").cast("long").as("rank"),
          col("b").as("next_tok"), col("cab").as("n_ab"), col("nx").as("n_a"),
          expr("cab * 1000000 div nx").as("p_e6"))
        .orderBy("tok", "rank")
    },
    oracle = Some(
      s"""WITH d AS (SELECT ${ExtensionQueries.dToks("text")} AS toks
         |  FROM documents),
         |bg AS (SELECT toks[i] AS a, toks[i+1] AS b
         |       FROM d, unnest(range(1, len(toks))) t(i)
         |       WHERE len(toks) >= 2),
         |bc AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY a, b),
         |na AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS nx FROM bc GROUP BY a),
         |top AS (SELECT a, nx FROM (SELECT a, nx, row_number() OVER (
         |    ORDER BY nx DESC, a ASC) AS crank FROM na) WHERE crank <= 20),
         |r AS (SELECT bc.a, bc.b, bc.cab, top.nx, row_number() OVER (
         |    PARTITION BY bc.a ORDER BY bc.cab DESC, bc.b ASC) AS rank
         |  FROM bc JOIN top USING (a))
         |SELECT a AS tok, CAST(rank AS BIGINT) AS rank, b AS next_tok,
         |  cab AS n_ab, nx AS n_a,
         |  CAST(cab * 1000000 // nx AS BIGINT) AS p_e6
         |FROM r WHERE rank <= 3 ORDER BY tok, rank""".stripMargin))

  /** Matthews correlation coefficient of the NB classifier as the
    * binary "is it English" detector (argmax prediction = 'en' vs truth
    * label = 'en') — the single-number binary-quality summary that
    * stays honest under class imbalance where accuracy and F1 both
    * flatter. From the 2×2 confusion counts,
    * MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)); the sqrt
    * never materializes — the output is the sign-split squared form
    * mcc2_e6 (the q_mann_whitney z² convention), pure DECIMAL(38,0)
    * integral arithmetic. Exact while num²·10⁶ fits DECIMAL(38,0):
    * n ≲ 10⁷ docs worst-case, far more for any real |MCC| ≪ 1.
    *
    * Scale shape: rides the memoized broadcast score matrix; one
    * doc-keyed argmax (window over L ≤ 5 rows per doc) into a 4-cell
    * conditional aggregation. */
  private val mccQ = QueryDef(
    fn = (spark, dir) => {
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val pred = nbScoreMatrix(spark, dir)
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("score6").desc, col("lang").asc)))
        .filter(col("rn") === 1)
        .select((col("lang") === "en").as("p"),
          (col("true_lang") === "en").as("t"))
      val s = pred.agg(
        sum(when(col("p") && col("t"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("p") && !col("t"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("p") && col("t"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("p") && !col("t"), 1L).otherwise(0L)).as("tn"))
      s.withColumn("num",
          col("tp").cast(d380) * col("tn") - col("fp").cast(d380) * col("fn"))
        .withColumn("den",
          (col("tp") + col("fp")).cast(d380) * (col("tp") + col("fn"))
            * (col("tn") + col("fp")) * (col("tn") + col("fn")))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          (when(col("num") < 0, -1L).otherwise(1L)
            * expr("(num * num * CAST(1000000 AS DECIMAL(38,0))) div den"))
            .as("mcc2_e6"))
    },
    oracle = Some(
      s"""WITH $nbOracleCtes,
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf
         |       FROM toks GROUP BY doc_id, token),
         |partial AS (SELECT tf.doc_id, w.lang, SUM(tf.tf * w.w6) AS s6
         |            FROM tf JOIN w USING (token) GROUP BY tf.doc_id, w.lang),
         |classes AS (SELECT DISTINCT lang, prior6 FROM w),
         |scored AS (SELECT d.doc_id, d.lang AS true_lang, c.lang,
         |    row_number() OVER (PARTITION BY d.doc_id
         |      ORDER BY COALESCE(p.s6, 0) + c.prior6 DESC, c.lang ASC) AS rn
         |  FROM documents d CROSS JOIN classes c
         |  LEFT JOIN partial p ON d.doc_id = p.doc_id AND c.lang = p.lang),
         |pr AS (SELECT (lang = 'en') AS p, (true_lang = 'en') AS t
         |  FROM scored WHERE rn = 1),
         |s AS (SELECT
         |    CAST(SUM(CASE WHEN p AND t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(SUM(CASE WHEN p AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
         |      AS fp,
         |    CAST(SUM(CASE WHEN NOT p AND t THEN 1 ELSE 0 END) AS BIGINT)
         |      AS fn,
         |    CAST(SUM(CASE WHEN NOT p AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
         |      AS tn
         |  FROM pr),
         |x AS (SELECT tp, fp, fn, tn,
         |    CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn AS num,
         |    CAST(tp + fp AS HUGEINT) * (tp + fn) * (tn + fp) * (tn + fn)
         |      AS den
         |  FROM s)
         |SELECT tp, fp, fn, tn,
         |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
         |    * ((num * num * 1000000) // den) AS BIGINT) AS mcc2_e6
         |FROM x""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_mcc" -> mccQ,
    "q_langid_ece" -> langidEce,
    "q_bigram_next" -> bigramNext,
    "q_mcnemar" -> mcnemar,
    "q_model_ks" -> modelKs,
    "q_split_gain" -> splitGain,
    "q_nb_train" -> nbTrain,
    "q_nb_score" -> nbScore,
    "q_nb_calibration" -> nbCalibration,
    "q_roc_auc" -> rocAuc,
    "q_pr_auc" -> prAuc,
    "q_gains_table" -> gainsTable,
    "q_target_encode" -> targetEncode,
    "q_token_pmi" -> tokenPmi)
}
