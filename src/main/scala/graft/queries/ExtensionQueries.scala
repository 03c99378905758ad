package graft.queries

import graft.QueryDef
import graft.ops.SessionCache.MemoOps
import graft.ops.{Dedup, Mixing, Multimodal, SessionCache, Similarity, Sketches, Tables, TextAnalysis}
import graft.sink.Store
import org.apache.spark.sql.functions._

/** North-star extension queries (SURVEY.md §2.4): text analysis, exact +
  * near-dup dedup (MinHash/LSH, SimHash, n-gram Jaccard), embedding cosine
  * similarity search (brute force + sign-LSH). Each oracle reimplements the
  * identical deterministic arithmetic in DuckDB SQL: token hash = first 8
  * hex chars of md5 folded to a long, minhash coefficients shared literals,
  * doubles accumulated in the same order and rounded to 6 digits.
  *
  * Queries whose ORACLE is inherently quadratic (brute-force all-pairs
  * verification, e.g. q_jaccard_ngram) sample their input by key modulus
  * so the verification stays bounded at every scale factor; the scalable
  * paths — including the full minhash dedup chain — run unsampled.
  */
object ExtensionQueries {

  // ---- DuckDB expression snippets shared across oracles --------------------

  /** tokens: lower, split on whitespace, drop empties. */
  private[queries] def dToks(c: String) =
    s"""list_filter(regexp_split_to_array(lower($c), '\\s+'), t -> t <> '')"""

  /** distinct sorted token set. */
  private def dTokSet(c: String) = s"list_sort(list_distinct(${dToks(c)}))"

  /** 32-bit fold of 8 hex chars of md5 starting at `start` -> BIGINT.
    * start=1 is the canonical token hash; start=9 is the low word of the
    * 64-bit token hash (the two halves reconstruct TokenHash64 without
    * unsigned 64-bit arithmetic, which DuckDB's checked BIGINT lacks). */
  private[queries] def dHash32At(c: String, start: Int) =
    s"""list_reduce(list_concat([CAST(0 AS BIGINT)],
       |  list_transform(string_split(substr(md5($c), $start, 8), ''),
       |    ch -> CAST(strpos('0123456789abcdef', ch) - 1 AS BIGINT))),
       |  (a, b) -> a * 16 + b)""".stripMargin

  /** 32-bit md5-prefix hash of a string expression -> BIGINT. */
  private[queries] def dHash32(c: String) = dHash32At(c, 1)

  /** sum of a BIGINT list (list_reduce with explicit 0 init). */
  private def dSum(list: String) =
    s"list_reduce(list_concat([CAST(0 AS BIGINT)], $list), (a, b) -> a + b)"

  private[queries] def dSumD(list: String) =
    s"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], $list), (a, b) -> a + b)"

  /** sequential double dot product of two float lists (same order as the
    * Spark zip_with/aggregate — bit-identical). */
  private[queries] def dDot(a: String, b: String) =
    dSumD(s"list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")

  private[queries] def dCos(a: String, b: String) =
    s"floor((${dDot(a, b)} / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)}))) * 1000000.0 + 0.5) / 1000000.0"

  /** AND-OR sign-LSH key family: `tables` keys per vector, table l packing
    * the sign bits of dims [l*nBits, (l+1)*nBits) and fused with the table
    * index as key = l * 2^nBits + bucket — equivalent to the Spark side's
    * (l, bucket) equi-join pair since bucket < 2^nBits. */
  private[queries] def dLshKeys(e: String, tables: Int, nBits: Int) =
    s"""list_transform(range(0, $tables), l -> l * ${1 << nBits} +
       |  list_reduce(list_concat([CAST(0 AS BIGINT)],
       |    list_transform(range(0, $nBits), i ->
       |      CASE WHEN $e[l * $nBits + i + 1] >= 0
       |           THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
       |    (a, b) -> a + b))""".stripMargin

  // ---- text analysis -------------------------------------------------------

  /** Context-window chunking over the full corpus: 32-token windows
    * advancing by 24 (8-token overlap) — the doc→training-row splitter. */
  private val textChunks = QueryDef(
    fn = (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunks(col("text"), chunkTokens = 32, overlap = 8)))
        .select(col("doc_id"), col("col.chunk_idx").as("chunk_idx"),
          col("col.chunk_text").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx"),
    oracle = Some(
      s"""WITH docs AS (SELECT doc_id, ${dToks("text")} AS toks
         |              FROM documents),
         |idx AS (SELECT doc_id, toks,
         |        unnest(range(0, CAST(ceil(len(toks) / 24.0) AS BIGINT))) AS chunk_idx
         |        FROM docs WHERE len(toks) > 0)
         |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         |  array_to_string(toks[CAST(chunk_idx * 24 + 1 AS BIGINT):CAST(chunk_idx * 24 + 32 AS BIGINT)], ' ') AS chunk_text
         |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin))

  /** Greedy token-budget packing (distributed prefix sum on the Spark
    * side; the oracle's running window is the semantic definition). */
  private val seqPack = QueryDef(
    fn = (spark, dir) =>
      TextAnalysis.packBins(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")),
          "text", "doc_id", budgetTokens = 512)
        .select(col("doc_id"), col("n_tokens"), col("bin"))
        .orderBy("doc_id"),
    oracle = Some(
      s"""WITH t AS (SELECT doc_id, CAST(len(${dToks("text")}) AS INTEGER) AS n_tokens
         |           FROM documents)
         |SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS bin
         |FROM t ORDER BY doc_id""".stripMargin))

  /** Packing-efficiency sweep across context budgets — the capacity-
    * planning readout for [[TextAnalysis.packBins]] (q_seq_pack packs at
    * ONE budget; this table is how the budget gets picked): for each
    * context length B ∈ {128, 256, 512, 1024}, the bin count, capacity
    * utilization ⌊tot_tokens·10⁶/(n_bins·B)⌋, the largest bin fill, and
    * how many bins a straddling document overfills. The exclusive
    * running token count (`before`) is computed ONCE via the operator's
    * own distributed prefix sum (packBins at budget 1 returns it
    * verbatim: bin = before/1), so the sweep adds no second corpus
    * pass; every budget then derives its bins by one integral division
    * on the same frame. All emitted statistics are exact integers.
    *
    * Scale shape: one corpus scan + the packBins partition-prefix
    * machinery; the per-budget rollup is (Σ_B n_bins)-sized — token
    * volume / 128 rows at worst, ≪ corpus. */
  private val packEfficiency = QueryDef(
    fn = (spark, dir) => {
      val before = TextAnalysis.packBins(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")),
          "text", "doc_id", budgetTokens = 1)
        .select(col("n_tokens").cast("long").as("nt"),
          col("bin").as("before"))
        .localCheckpoint(false) // one corpus pass feeds all four budgets
      val bs = spark.sql("SELECT explode(array(128, 256, 512, 1024)) AS b")
      before.crossJoin(broadcast(bs))
        .select(col("b"), expr("before div b").as("bin"), col("nt"))
        .groupBy(col("b"), col("bin"))
        .agg(sum(col("nt")).as("fill"), count(lit(1)).as("nd"))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("n_bins"), sum(col("nd")).as("n_docs"),
          sum(col("fill")).as("tot_tokens"), max(col("fill")).as("max_fill"),
          sum(when(col("fill") > col("b"), 1L).otherwise(0L))
            .as("n_overfull"))
        .select(col("b").cast("long").as("budget"), col("n_bins"),
          col("n_docs"), col("tot_tokens"), col("max_fill"),
          col("n_overfull"),
          expr("tot_tokens * 1000000 div (n_bins * b)").as("util_e6"))
        .orderBy("budget")
    },
    oracle = Some(
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(${dToks("text")}) AS BIGINT) AS nt FROM documents),
         |c AS (SELECT doc_id, nt,
         |    COALESCE(SUM(nt) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS before
         |  FROM t),
         |bs AS (SELECT unnest([128, 256, 512, 1024]) AS b),
         |bins AS (SELECT bs.b, c.before // bs.b AS bin,
         |    CAST(SUM(c.nt) AS BIGINT) AS fill, COUNT(*) AS nd
         |  FROM c CROSS JOIN bs GROUP BY 1, 2),
         |s AS (SELECT b, COUNT(*) AS n_bins, SUM(nd) AS n_docs,
         |    CAST(SUM(fill) AS BIGINT) AS tot_tokens,
         |    MAX(fill) AS max_fill,
         |    CAST(SUM(CASE WHEN fill > b THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_overfull
         |  FROM bins GROUP BY b)
         |SELECT CAST(b AS BIGINT) AS budget, n_bins,
         |  CAST(n_docs AS BIGINT) AS n_docs, tot_tokens, max_fill,
         |  n_overfull,
         |  CAST(tot_tokens * 1000000 // (n_bins * b) AS BIGINT) AS util_e6
         |FROM s ORDER BY budget""".stripMargin))

  /** Curation-funnel waterfall — the pipeline report every corpus run
    * publishes: documents and tokens surviving each curation stage
    * IN SEQUENCE (raw → exact dedup keep-first → quality ≥ 0.5 (the cut q_quality_filter_sweep shows splits this corpus ~50/50) →
    * lang-ID agrees with the declared language), with the cumulative
    * kept fraction vs raw. One row per stage, so the table IS the
    * waterfall chart. Stages compose by AND, so every row is a
    * conditional aggregate over the same per-doc flag frame — the
    * corpus is scanned once and shuffled once (the md5 keep-first
    * window; the hash+id projection is narrow, text never shuffles).
    *
    * All counts exact; fractions are integral-division e6. The stage
    * list deliberately uses the CHEAP filters (exact hash, quality
    * score, lang-id) — the near-dup stage lives in q_dedup_savings on
    * the memoized pair graph; chaining the LSH replay into this oracle
    * would re-run it per gate pass for no new verification. */
  private val curationFunnel = QueryDef(
    fn = (spark, dir) => {
      val lc = TextAnalysis.langIdConfidence(col("text"))
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          md5(col("text")).as("th"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          lc.getField("lang_pred").as("pred"))
        .withColumn("keeper", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("th")).orderBy(col("doc_id"))) === 1)
        .withColumn("f1", col("keeper"))
        .withColumn("f2", col("f1") && col("quality") >= 0.5)
        .withColumn("f3", col("f2") && col("pred") === col("lang"))
      val s = d.agg(
        count(lit(1)).as("d0"), sum(col("ntok")).as("t0"),
        sum(when(col("f1"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("f1"), col("ntok")).otherwise(0L)).as("t1"),
        sum(when(col("f2"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("f2"), col("ntok")).otherwise(0L)).as("t2"),
        sum(when(col("f3"), 1L).otherwise(0L)).as("d3"),
        sum(when(col("f3"), col("ntok")).otherwise(0L)).as("t3"))
      val stages = spark.sql(
        """SELECT stack(4, 0L, 'raw', 1L, 'exact_dedup',
          |  2L, 'quality_ge_050', 3L, 'langid_agree')
          |  AS (stage, stage_name)""".stripMargin)
      stages.crossJoin(broadcast(s))
        .select(col("stage"), col("stage_name"),
          expr("CASE stage WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2"
            + " ELSE d3 END").as("n_docs"),
          expr("CASE stage WHEN 0 THEN t0 WHEN 1 THEN t1 WHEN 2 THEN t2"
            + " ELSE t3 END").as("n_tokens"),
          expr("(CASE stage WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2"
            + " ELSE d3 END) * 1000000 div d0").as("doc_frac_e6"),
          expr("(CASE stage WHEN 0 THEN t0 WHEN 1 THEN t1 WHEN 2 THEN t2"
            + " ELSE t3 END) * 1000000 div t0").as("tok_frac_e6"))
        .orderBy("stage")
    },
    oracle = Some {
      val (hits, caseExpr, _) = dLangIdSql
      s"""WITH ${dQualityCte("")},
         |h AS (SELECT doc_id, lang, md5(text) AS th,
         |    CAST(len(${dToks("text")}) AS BIGINT) AS ntok,
         |  $hits
         |FROM documents),
         |f AS (SELECT h.doc_id, ntok,
         |    row_number() OVER (PARTITION BY th ORDER BY h.doc_id) = 1
         |      AS f1,
         |    qual.quality >= 0.5 AS q_ok,
         |    ($caseExpr) = lang AS l_ok
         |  FROM h JOIN qual ON h.doc_id = qual.doc_id),
         |s AS (SELECT COUNT(*) AS d0, CAST(SUM(ntok) AS BIGINT) AS t0,
         |    CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(SUM(CASE WHEN f1 THEN ntok ELSE 0 END) AS BIGINT) AS t1,
         |    CAST(SUM(CASE WHEN f1 AND q_ok THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d2,
         |    CAST(SUM(CASE WHEN f1 AND q_ok THEN ntok ELSE 0 END)
         |      AS BIGINT) AS t2,
         |    CAST(SUM(CASE WHEN f1 AND q_ok AND l_ok THEN 1 ELSE 0 END)
         |      AS BIGINT) AS d3,
         |    CAST(SUM(CASE WHEN f1 AND q_ok AND l_ok THEN ntok ELSE 0 END)
         |      AS BIGINT) AS t3
         |  FROM f),
         |st AS (SELECT unnest([0, 1, 2, 3]) AS stage,
         |    unnest(['raw', 'exact_dedup', 'quality_ge_050',
         |            'langid_agree']) AS stage_name)
         |SELECT CAST(stage AS BIGINT) AS stage, stage_name,
         |  CASE stage WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2
         |    ELSE d3 END AS n_docs,
         |  CASE stage WHEN 0 THEN t0 WHEN 1 THEN t1 WHEN 2 THEN t2
         |    ELSE t3 END AS n_tokens,
         |  (CASE stage WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2
         |    ELSE d3 END) * 1000000 // d0 AS doc_frac_e6,
         |  (CASE stage WHEN 0 THEN t0 WHEN 1 THEN t1 WHEN 2 THEN t2
         |    ELSE t3 END) * 1000000 // t0 AS tok_frac_e6
         |FROM st CROSS JOIN s ORDER BY stage""".stripMargin
    })

  private val textTokens = QueryDef(
    fn = (spark, dir) => {
      val d = Tables.documents(spark, dir)
      d.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"),
        size(TextAnalysis.tokenSet(col("text"))).as("n_distinct"),
        length(col("text")).cast("int").as("len_chars"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""SELECT doc_id,
         |  CAST(len(${dToks("text")}) AS INTEGER) AS n_tokens,
         |  ${dSum(s"list_transform(${dToks("text")}, t -> CAST(ceil(len(t) / 4.0) AS BIGINT))")} AS n_subwords,
         |  CAST(len(${dTokSet("text")}) AS INTEGER) AS n_distinct,
         |  CAST(len(text) AS INTEGER) AS len_chars
         |FROM documents ORDER BY doc_id""".stripMargin))

  /** Stopword-hit columns + argmax CASE expressions for the lang-ID
    * oracle — first-in-list wins ties, mirroring the Spark
    * greatest(struct) tie-break. Shared by q_text_lang_id and
    * q_lang_confusion. Returns (hit column list, lang CASE, score CASE). */
  private[queries] def dLangIdSql: (String, String, String) = {
    val hits = TextAnalysis.StopwordLists.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(${dToks("text")}, t -> list_contains($arr, t))) AS INTEGER) AS h_$lang"
    }.mkString(",\n  ")
    val langs = TextAnalysis.StopwordLists.map(_._1)
    val caseExpr = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(o => s"h_$l >= h_$o").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
    val scoreExpr = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(o => s"h_$l >= h_$o").mkString(" AND ")
      s"WHEN $rest THEN h_$l"
    }.mkString("CASE ", " ", s" ELSE h_${langs.last} END")
    (hits, caseExpr, scoreExpr)
  }

  private val langIdQ = QueryDef(
    fn = (spark, dir) => {
      val d = Tables.documents(spark, dir)
      val lid = TextAnalysis.langId(col("text"))
      d.select(col("doc_id"), col("lang").as("lang_declared"),
        lid.getField("lang_pred").as("lang_pred"),
        lid.getField("lang_score").as("lang_score"))
        .orderBy("doc_id")
    },
    oracle = Some {
      val (hits, caseExpr, scoreExpr) = dLangIdSql
      s"""WITH h AS (SELECT doc_id, lang AS lang_declared,
         |  $hits
         |FROM documents)
         |SELECT doc_id, lang_declared, $caseExpr AS lang_pred,
         |  $scoreExpr AS lang_score
         |FROM h ORDER BY doc_id""".stripMargin
    })

  /** Classifier evaluation of the heuristic lang-ID against the declared
    * labels — the eval harness a curation pipeline runs before trusting a
    * cheap classifier as a filter: per declared language, documents /
    * true positives / predicted-as, precision, recall, F1, plus corpus
    * accuracy. All ratios are identically-composed double divisions of
    * exact counts (guarded CASEs for empty predicted classes), 6dp
    * floored.
    *
    * Scale shape: the data-sized stage is the same scan-stage stopword
    * argmax as q_text_lang_id followed by one partial-aggregatable
    * (declared, predicted) count; the P/R/F1 algebra runs on the ≤ 25-cell
    * confusion domain.
    */
  private val langConfusion = QueryDef(
    fn = (spark, dir) => {
      val lid = TextAnalysis.langId(col("text"))
      val conf = Tables.documents(spark, dir)
        .select(col("lang").as("decl"), lid.getField("lang_pred").as("pred"))
        .groupBy(col("decl"), col("pred"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
      val wAll = w.partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      // per-lang rows come from the DECLARED domain — a language the
      // classifier never gets right still reports (tp = 0, recall = 0)
      val declAgg = conf.groupBy(col("decl"))
        .agg(sum(col("n")).as("n_docs"),
          sum(when(col("decl") === col("pred"), col("n")).otherwise(0L)).as("tp"))
      val predAgg = conf.groupBy(col("pred")).agg(sum(col("n")).as("pred_n"))
      val perLang = declAgg
        .join(predAgg, col("decl") === col("pred"), "left")
        .select(col("decl").as("lang"), col("n_docs"), col("tp"),
          coalesce(col("pred_n"), lit(0L)).as("n_predicted"))
        .withColumn("total", sum(col("n_docs")).over(wAll))
        .withColumn("tp_all", sum(col("tp")).over(wAll))
      val prec = when(col("n_predicted") > 0,
        col("tp").cast("double") / col("n_predicted").cast("double")).otherwise(0.0)
      val rec = when(col("n_docs") > 0,
        col("tp").cast("double") / col("n_docs").cast("double")).otherwise(0.0)
      val r6 = TextAnalysis.round6 _
      perLang
        .withColumn("p", prec).withColumn("r", rec)
        .select(col("lang"), col("n_docs"), col("tp"), col("n_predicted"),
          r6(col("p")).as("precision"), r6(col("r")).as("recall"),
          r6(when(col("p") + col("r") > 0,
            lit(2.0) * col("p") * col("r") / (col("p") + col("r")))
            .otherwise(0.0)).as("f1"),
          r6(col("tp_all").cast("double") / col("total").cast("double"))
            .as("accuracy"))
        .orderBy("lang")
    },
    oracle = Some {
      val (hits, caseExpr, _) = dLangIdSql
      s"""WITH h AS (SELECT lang AS decl,
         |  $hits
         |FROM documents),
         |p0 AS (SELECT decl, $caseExpr AS pred FROM h),
         |conf AS (SELECT decl, pred, COUNT(*) AS n FROM p0 GROUP BY 1, 2),
         |da AS (SELECT decl, SUM(n) AS n_docs,
         |    SUM(CASE WHEN decl = pred THEN n ELSE 0 END) AS tp
         |  FROM conf GROUP BY decl),
         |pa AS (SELECT pred, SUM(n) AS pred_n FROM conf GROUP BY pred),
         |t AS (SELECT da.decl AS lang, da.n_docs, da.tp,
         |    COALESCE(pa.pred_n, 0) AS n_predicted,
         |    SUM(da.n_docs) OVER () AS total,
         |    SUM(da.tp) OVER () AS tp_all
         |  FROM da LEFT JOIN pa ON da.decl = pa.pred),
         |pl AS (SELECT lang, n_docs, tp, n_predicted, total, tp_all,
         |    CASE WHEN n_predicted > 0
         |         THEN CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE)
         |         ELSE 0.0 END AS p,
         |    CASE WHEN n_docs > 0 THEN CAST(tp AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |         ELSE 0.0 END AS r
         |  FROM t)
         |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(tp AS BIGINT) AS tp,
         |  CAST(n_predicted AS BIGINT) AS n_predicted,
         |  floor(p * 1000000.0 + 0.5) / 1000000.0 AS precision,
         |  floor(r * 1000000.0 + 0.5) / 1000000.0 AS recall,
         |  floor((CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) ELSE 0.0 END)
         |    * 1000000.0 + 0.5) / 1000000.0 AS f1,
         |  floor(CAST(tp_all AS DOUBLE) / CAST(total AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS accuracy
         |FROM pl ORDER BY lang""".stripMargin
    })

  /** Vocabulary coverage / OOV-rate report per source: how much of each
    * shard a fixed top-500 corpus vocabulary covers — the tokenizer-sizing
    * and shard-quality readout (a shard with a high OOV rate against the
    * corpus vocabulary is topically or linguistically divergent).
    *
    * Scale shape: one (source, token) partial-aggregatable count is the
    * data-sized stage; the top-500 cut is a rank over the token VOCABULARY
    * domain (freq desc, token asc — fully deterministic), membership
    * flags ride an equi-join on the token key (broadcastable — 500 rows),
    * and the report is a source-domain rollup. Exact integer counts;
    * the single ratio is one double division, 6dp floored.
    */
  private val vocabCoverage = QueryDef(
    fn = (spark, dir) => {
      val st = Tables.documents(spark, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n"))
      val vocab = st.groupBy(col("token")).agg(sum(col("n")).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(500)
        .select(col("token").as("vtok"))
      st.join(broadcast(vocab), col("token") === col("vtok"), "left")
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_tokens"),
          sum(when(col("vtok").isNotNull, col("n")).otherwise(0L)).as("n_covered"),
          countDistinct(col("token")).as("n_types"),
          countDistinct(when(col("vtok").isNull, col("token"))).as("oov_types"))
        .select(col("source"), col("n_tokens"), col("n_covered"),
          col("n_types"), col("oov_types"),
          TextAnalysis.round6(lit(1.0)
            - col("n_covered").cast("double") / col("n_tokens").cast("double"))
            .as("oov_rate"))
        .orderBy("source")
    },
    oracle = Some(
      s"""WITH st AS (SELECT source, unnest(${dToks("text")}) AS token FROM documents),
         |c AS (SELECT source, token, COUNT(*) AS n FROM st GROUP BY 1, 2),
         |v AS (SELECT token FROM (
         |    SELECT token, SUM(n) AS freq FROM c GROUP BY token
         |    ORDER BY freq DESC, token LIMIT 500)),
         |j AS (SELECT c.source, c.token, c.n, v.token AS vtok
         |      FROM c LEFT JOIN v ON c.token = v.token)
         |SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN vtok IS NOT NULL THEN n ELSE 0 END) AS BIGINT) AS n_covered,
         |  COUNT(DISTINCT token) AS n_types,
         |  COUNT(DISTINCT CASE WHEN vtok IS NULL THEN token END) AS oov_types,
         |  floor((1.0 - CAST(SUM(CASE WHEN vtok IS NOT NULL THEN n ELSE 0 END) AS DOUBLE)
         |      / CAST(SUM(n) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS oov_rate
         |FROM j GROUP BY source ORDER BY source""".stripMargin))

  /** The [[TextAnalysis.qualityScore]] DuckDB twin as a two-CTE fragment
    * (`qm`, `qual(doc_id, quality)`), filterable — shared by
    * q_text_quality and the best-of-cluster survivor policy. */
  private[queries] def dQualityCte(where: String): String = {
    val en = TextAnalysis.StopwordLists.toMap.apply("en")
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""qm AS (SELECT doc_id,
       |  CAST(len(${dToks("text")}) AS DOUBLE) AS n_tok,
       |  CAST(len(text) AS DOUBLE) AS n_char,
       |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
       |  CAST(len(list_filter(${dToks("text")}, t -> list_contains($en, t))) AS DOUBLE) AS stop,
       |  ${dSum(s"list_transform(${dToks("text")}, t -> CAST(len(t) AS BIGINT))")} AS tok_chars
       |FROM documents $where),
       |qual AS (SELECT doc_id, floor((
       |  least(n_tok / 100.0, 1.0) * 0.3
       |  + (CASE WHEN n_tok > 0 THEN stop / n_tok ELSE 0.0 END) * 0.3
       |  + (1.0 - least(CASE WHEN n_char > 0 THEN punct / n_char ELSE 0.0 END, 1.0)) * 0.2
       |  + least((CASE WHEN n_tok > 0 THEN CAST(tok_chars AS DOUBLE) / n_tok ELSE 0.0 END) / 8.0, 1.0) * 0.2
       |  ) * 1000000.0 + 0.5) / 1000000.0 AS quality
       |FROM qm)""".stripMargin
  }

  private val qualityQ = QueryDef(
    fn = (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
    oracle = Some(
      s"""WITH ${dQualityCte("")}
         |SELECT doc_id, quality FROM qual ORDER BY doc_id""".stripMargin))

  /** Quality-filter threshold sweep — the curation ROI curve for the
    * [[TextAnalysis.qualityScore]] filter (the q_dedup_threshold_sweep
    * pattern applied to quality): for each cut t ∈ {0.00, 0.10, …,
    * 0.90}, how many documents and how many TOKENS survive `quality ≥ t`
    * — the table an operator reads to pick the threshold that trades
    * corpus size against the training-token budget before running the
    * filter at 100 TB.
    *
    * Scale shape: documents are reduced to a ≤101-row score-percentile
    * bucket grid in ONE partial-aggregatable groupBy (bucket =
    * ⌊quality·100⌋ — exact: thresholds are integer percents, so
    * quality ≥ t/100 ⟺ bucket ≥ t); the sweep itself is a 10×101
    * grid theta-join. Counts and token sums are exact integers;
    * fractions are integral division e6. */
  private val qualitySweep = QueryDef(
    fn = (spark, dir) => {
      val q = Tables.documents(spark, dir)
        .select(TextAnalysis.qualityScore(col("text")).as("quality"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"))
      val g = q.select(floor(col("quality") * 100.0).cast("long").as("b"),
          col("ntok"))
        .groupBy(col("b"))
        .agg(count(lit(1)).as("c"), sum(col("ntok")).as("tk"))
        .localCheckpoint(false) // grid feeds the totals AND the sweep join
      val tot = g.agg(sum(col("c")).as("n_total"),
        sum(col("tk")).as("tok_total"))
      val th = spark.range(0, 100, 10).select(col("id").as("t_e2"))
      th.join(g, col("b") >= col("t_e2"), "left")
        .groupBy(col("t_e2"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("n_kept"),
          coalesce(sum(col("tk")), lit(0L)).as("tok_kept"))
        .crossJoin(broadcast(tot))
        .select(col("t_e2"), col("n_kept"),
          (col("n_total") - col("n_kept")).as("n_dropped"),
          expr("n_kept * 1000000 div n_total").as("kept_frac_e6"),
          col("tok_kept"),
          expr("tok_kept * 1000000 div tok_total").as("tok_frac_e6"))
        .orderBy("t_e2")
    },
    oracle = Some(
      s"""WITH ${dQualityCte("")},
         |nt AS (SELECT doc_id, CAST(len(${dToks("text")}) AS BIGINT) AS ntok
         |  FROM documents),
         |d AS (SELECT CAST(floor(quality * 100.0) AS BIGINT) AS b, ntok
         |  FROM qual JOIN nt USING (doc_id)),
         |g AS (SELECT b, COUNT(*) AS c, SUM(ntok) AS tk FROM d GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
         |  CAST(SUM(tk) AS BIGINT) AS tok_total FROM g),
         |th AS (SELECT unnest([0, 10, 20, 30, 40, 50, 60, 70, 80, 90]) AS t_e2),
         |k AS (SELECT t_e2,
         |    CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_kept,
         |    CAST(COALESCE(SUM(tk), 0) AS BIGINT) AS tok_kept
         |  FROM th LEFT JOIN g ON g.b >= th.t_e2 GROUP BY t_e2)
         |SELECT CAST(t_e2 AS BIGINT) AS t_e2, n_kept,
         |  n_total - n_kept AS n_dropped,
         |  n_kept * 1000000 // n_total AS kept_frac_e6,
         |  tok_kept,
         |  tok_kept * 1000000 // tok_total AS tok_frac_e6
         |FROM k CROSS JOIN tot ORDER BY t_e2""".stripMargin))

  /** Gopher-style repetition removal signals ([[TextAnalysis
    * .repetitionStats]]): per document, the most-frequent-n-gram slot
    * fraction and the duplicated-n-gram slot fraction for n = 2 and 3,
    * plus the filter decision at thresholds that split THIS corpus
    * (measured sf0.01 distribution: top2 med 0.033 / p90 0.069 / max
    * 0.167, dup2 max 0.267 — the published Gopher cut of 0.2 would pass
    * everything synthetic). The Spark side is scan-local (sorted-run
    * walk, no shuffle); the oracle counts the long way (unnest +
    * GROUP BY doc, gram) — two independent algorithms, one hash.
    */
  private val textRepetition = QueryDef(
    fn = (spark, dir) =>
      Tables.documents(spark, dir)
        .withColumn("__toks", TextAnalysis.tokens(col("text")))
        .withColumn("__r2", TextAnalysis.repetitionStatsFromTokens(col("__toks"), 2))
        .withColumn("__r3", TextAnalysis.repetitionStatsFromTokens(col("__toks"), 3))
        .select(col("doc_id"),
          col("__r2.top_frac").as("top2_frac"),
          col("__r2.dup_frac").as("dup2_frac"),
          col("__r3.top_frac").as("top3_frac"),
          col("__r3.dup_frac").as("dup3_frac"),
          (col("__r2.top_frac") > 0.08 || col("__r2.dup_frac") > 0.15)
            .as("repetitive"))
        .orderBy("doc_id"),
    oracle = Some {
      def gramStats(n: Int) =
        s"""g$n AS (SELECT doc_id, CASE WHEN len(toks) >= $n THEN
           |    list_transform(range(0, len(toks) - ${n - 1}),
           |      i -> array_to_string(toks[i+1:i+$n], ' '))
           |    ELSE [] END AS grams FROM docs),
           |e$n AS (SELECT doc_id, unnest(grams) AS gram, len(grams) AS ng FROM g$n),
           |c$n AS (SELECT doc_id, gram, any_value(ng) AS ng, count(*) AS cnt
           |  FROM e$n GROUP BY doc_id, gram),
           |s$n AS (SELECT doc_id,
           |  floor(max(cnt) * 1.0 / any_value(ng) * 1000000.0 + 0.5) / 1000000.0 AS top$n,
           |  floor(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) * 1.0 / any_value(ng)
           |    * 1000000.0 + 0.5) / 1000000.0 AS dup$n
           |  FROM c$n GROUP BY doc_id)""".stripMargin
      s"""WITH docs AS (SELECT doc_id, ${dToks("text")} AS toks FROM documents),
         |${gramStats(2)},
         |${gramStats(3)}
         |SELECT d.doc_id,
         |  COALESCE(s2.top2, 0.0) AS top2_frac, COALESCE(s2.dup2, 0.0) AS dup2_frac,
         |  COALESCE(s3.top3, 0.0) AS top3_frac, COALESCE(s3.dup3, 0.0) AS dup3_frac,
         |  (COALESCE(s2.top2, 0.0) > 0.08 OR COALESCE(s2.dup2, 0.0) > 0.15) AS repetitive
         |FROM docs d LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    })

  private val fingerprintQ = QueryDef(
    fn = (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
    oracle = Some(
      s"""SELECT doc_id,
         |  list_reduce(list_concat([CAST(0 AS BIGINT)],
         |    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
         |    (a, c) -> (a * 31 + c) % 2147483647) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin))

  private val textClean = QueryDef(
    fn = (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          TextAnalysis.cleanText(concat(lit("  x\t\ty "), col("text"), lit("  ")))
            .as("cleaned"))
        .orderBy("doc_id"),
    oracle = Some(
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace('  x' || chr(9) || chr(9) || 'y ' || text || '  ',
        |    '[\p{Cc}]', ' ', 'g'), '\s+', ' ', 'g')) AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin))

  /** Corpus token frequency: the vocabulary-building aggregation. */
  private val tokenFreq = QueryDef(
    fn = (spark, dir) =>
      Tables.documents(spark, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(20),
    oracle = Some(
      s"""SELECT token, COUNT(*) AS freq
         |FROM (SELECT unnest(${dToks("text")}) AS token FROM documents)
         |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 20""".stripMargin))

  /** Deterministic hash split: stable across runs/engines/partitionings —
    * the reproducible alternative to df.sample for train/val/test. */
  private val hashSplit = QueryDef(
    fn = (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          TextAnalysis.hashBucket(col("doc_id"), 100).as("bucket"),
          TextAnalysis.assignSplit(col("doc_id")).as("split"))
        .orderBy("doc_id"),
    oracle = Some(
      s"""SELECT doc_id,
         |  ${dHash32("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CASE WHEN ${dHash32("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${dHash32("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin))

  /** Corpus profile: composition of the text signals grouped by the
    * (lang, source) facets — the dataset-card aggregation. */
  private val docProfile = QueryDef(
    fn = (spark, dir) =>
      Tables.documents(spark, dir)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("sum_tokens"),
          // quality is already 6-decimal; the DECIMAL cast makes the SUM
          // order-insensitive (double partials would drift in the last ulp)
          TextAnalysis.round6(
            sum(TextAnalysis.qualityScore(col("text"))
              .cast(org.apache.spark.sql.types.DecimalType(12, 6)))
              .cast("double") / count(lit(1)))
            .as("avg_quality"))
        .orderBy("lang", "source"),
    oracle = Some {
      val en = TextAnalysis.StopwordLists.toMap.apply("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH m AS (SELECT lang, source, n_chars,
         |  CAST(len(${dToks("text")}) AS DOUBLE) AS n_tok,
         |  CAST(len(text) AS DOUBLE) AS n_char,
         |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS punct,
         |  CAST(len(list_filter(${dToks("text")}, t -> list_contains($en, t))) AS DOUBLE) AS stop,
         |  ${dSum(s"list_transform(${dToks("text")}, t -> CAST(len(t) AS BIGINT))")} AS tok_chars
         |FROM documents),
         |s AS (SELECT lang, source, n_chars, CAST(n_tok AS BIGINT) AS n_tok,
         |  floor((
         |    least(n_tok / 100.0, 1.0) * 0.3
         |    + (CASE WHEN n_tok > 0 THEN stop / n_tok ELSE 0.0 END) * 0.3
         |    + (1.0 - least(CASE WHEN n_char > 0 THEN punct / n_char ELSE 0.0 END, 1.0)) * 0.2
         |    + least((CASE WHEN n_tok > 0 THEN CAST(tok_chars AS DOUBLE) / n_tok ELSE 0.0 END) / 8.0, 1.0) * 0.2
         |    ) * 1000000.0 + 0.5) / 1000000.0 AS q
         |FROM m)
         |SELECT lang, source, COUNT(*) AS n_docs,
         |  -- CAST: DuckDB SUM over BIGINT yields HUGEINT (int128), which the
         |  -- driver's comparator hashes differently from Spark's BIGINT
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
         |  floor((CAST(SUM(CAST(q AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*))
         |        * 1000000.0 + 0.5) / 1000000.0 AS avg_quality
         |FROM s GROUP BY lang, source ORDER BY lang, source""".stripMargin
    })

  /** TF-IDF top terms per document: tf from the token multiset, idf =
    * ln(N / df) over distinct-doc term frequencies, top-3 terms per doc by
    * the floor-rounded score (ties by token asc). Per-doc tf is computed
    * INSIDE the scan stage (sort_array + run-length over boundary
    * positions, O(n log n) per doc) instead of an explode + (doc, token)
    * groupBy: a doc's tokens are already colocated in its row, so
    * pre-shuffling the raw token stream only to count within (doc, token)
    * moves the full corpus token volume through a shuffle for work that
    * needs no data movement at all. Only the distinct (doc, token) pairs
    * ever shuffle — once by token for the IDF join, once by doc for the
    * top-k window. At 100 TB this removes a corpus-volume shuffle; at
    * sf0.1 wall time is unchanged (~0.8-0.95 s isolated median) because
    * the query is stage-round-latency-bound on 5k docs — explicit-
    * broadcast IDF, doc_id-prepartition (shuffle-free window), and a
    * round-12 broadcast-df + groupBy-collect_list-top-3 variant all
    * measured equal-or-worse (0.83-0.95 s vs 0.78-0.81 s for this plan,
    * interleaved on the same JVM), so the remaining cost is scheduling
    * rounds, not the plan. Formulation hazard recorded while measuring:
    * naming the pre-explode struct array as its own projected column
    * (instead of exploding the zip_with expression directly, as below)
    * trips InferFiltersFromGenerate into an inferred size/isnotnull
    * filter whose alias substitution inlines sort_array(tokens(text))
    * PER LAMBDA ELEMENT — O(len² log len) per doc, measured 30 s at
    * sf0.1. Keep the explode fused in the select chain. N is a one-row aggregate cross-joined into
    * the plan (the oracle's `CROSS JOIN n` shape) so the whole query
    * stays a single lazy plan — no driver-side count() pre-scan. ln()
    * via the floor form so libm last-ulp noise can't split the engines.
    * The boundary CASE is lazy, so `st[i-1]` never evaluates at i = 0
    * (ANSI-safe).
    */
  private val tfidf = QueryDef(
    fn = (spark, dir) => {
      val docsRaw = Tables.documents(spark, dir)
      // 1-row scalar, stays lazy; Spark broadcasts the single row
      val n = docsRaw.agg(count(lit(1)).cast("double").as("__n"))
      // Parallelism repair for under-split scans: the local fixture is ONE
      // parquet row group, so the tokenize+sort_array below would run as a
      // single serial task (~0.65 s, half this query's wall time; the
      // round-robin spread measured 0.54-0.79 s vs 0.68-1.19 s serial over
      // 4 interleaved rounds). Guarded by the scan's partition count so a
      // production many-file corpus — which arrives pre-split far wider
      // than this threshold — NEVER pays a corpus-wide text exchange.
      val scanParts = docsRaw.rdd.getNumPartitions
      val docs = if (scanParts < 8) docsRaw.repartition(16) else docsRaw
      val tf = docs
        .select(col("doc_id"),
          sort_array(TextAnalysis.tokens(col("text"))).as("st"))
        .filter(size(col("st")) > 0)
        .select(col("doc_id"), col("st"), expr(
          """filter(sequence(0, size(st) - 1),
            |  i -> CASE WHEN i = 0 THEN true ELSE st[i] <> st[i-1] END)"""
            .stripMargin).as("bs"))
        .select(col("doc_id"), explode(expr(
          """zip_with(bs, concat(slice(bs, 2, size(bs)), array(size(st))),
            |  (b, nb) -> struct(st[b] AS token, CAST(nb - b AS BIGINT) AS tf))"""
            .stripMargin)).as("e"))
        .select(col("doc_id"), col("e.token").as("token"), col("e.tf").as("tf"))
      // df via a window count over token: ONE token shuffle carries both
      // the document-frequency aggregation and its "join" back onto the
      // tf rows (the groupBy+join form paid that shuffle twice plus a
      // barrier to avoid re-running the tokenize scan per consumer). The
      // per-token partition a hot token occupies is the same set of rows
      // a groupBy(token) reducer would hold, so the scale shape is
      // unchanged.
      val scored = tf
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("token"))))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          floor(col("tf") * log(col("__n") / col("df")) * 1e6 + 0.5) / 1e6)
      Similarity.topK(scored, "doc_id", "tfidf", "token", 3, "rn")
        .select(col("doc_id"), col("token"), col("tfidf"), col("rn"))
        .orderBy("doc_id", "rn")
    },
    oracle = Some(
      s"""WITH docs AS (SELECT doc_id, ${dToks("text")} AS toks
         |             FROM documents),
         |n AS (SELECT COUNT(*) AS n FROM docs),
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM docs),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         |scored AS (
         |  SELECT doc_id, token,
         |    floor(tf * ln(CAST(n.n AS DOUBLE) / df) * 1000000.0 + 0.5) / 1000000.0 AS tfidf
         |  FROM tf JOIN df USING (token) CROSS JOIN n),
         |ranked AS (SELECT *, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn FROM scored)
         |SELECT doc_id, token, tfidf, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin))

  /** PII-style scrubbing over the JSON props stream: numeric literals are
    * redacted to a placeholder and the redaction count is kept for the
    * audit trail — the shape of a pre-training scrub pass (here digits;
    * swap the pattern for emails/phones/keys in production). */
  private val textRedact = QueryDef(
    fn = (spark, dir) =>
      Tables.events(spark, dir)
        .select(col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "<num>").as("redacted"),
          size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
            .as("n_redactions"))
        .orderBy("event_id"),
    oracle = Some(
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '<num>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS INTEGER) AS n_redactions
        |FROM events ORDER BY event_id""".stripMargin))

  /** Deterministic stratified sampling: per-language keep-rates applied via
    * the stable hash bucket (not df.sample, whose output depends on
    * partitioning) — the data-mixing step of corpus assembly, reproducible
    * across engines, runs, and cluster sizes. */
  private val stratifiedSample = QueryDef(
    fn = (spark, dir) => {
      val rate = when(col("lang") === "en", 80).otherwise(50)
      Tables.documents(spark, dir)
        .withColumn("bucket", TextAnalysis.hashBucket(col("doc_id"), 100))
        .filter(col("bucket") < rate)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""SELECT doc_id, lang, bucket FROM (
         |  SELECT doc_id, lang,
         |    ${dHash32("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |  FROM documents)
         |WHERE bucket < CASE WHEN lang = 'en' THEN 80 ELSE 50 END
         |ORDER BY doc_id""".stripMargin))

  /** Benchmark decontamination: training docs sharing any 4-gram shingle
    * with the held-out set (doc_id % 97 = 0) are flagged with their match
    * count. Inverted shingle index + equi-join — the same
    * no-quadratic-pair-space discipline as the near-dup path, so it scales
    * to a full corpus against a benchmark suite. */
  private val decontaminate = QueryDef(
    fn = (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      // filter BEFORE shingling: a doc_id predicate does not push below the
      // explode on its own, and shingling the full corpus twice (once per
      // branch) was the measured cost at sf0.1 (5.9s -> see commit). No
      // broadcast hint on the eval side: here it is a corpus FRACTION
      // (grows with input), so the size-based choice stays with AQE — a
      // real fixed-size benchmark suite could be hinted.
      // composed 4-gram hashes, not shingle strings: md5 once per token,
      // rolling combine per shingle, and the contamination join runs on
      // 8-byte keys instead of strings (see shingleHashesFromHashes)
      def shingle(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"),
            Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
          .select(col("doc_id"),
            explode(array_distinct(
              TextAnalysis.shingleHashesFromHashes(col("th"), 4))).as("g"))
      val eval_ = shingle(docs.filter(col("doc_id") % 97 === 0))
        .withColumnRenamed("doc_id", "eval_id")
      val train = shingle(docs.filter(col("doc_id") % 97 =!= 0))
      train.join(eval_, "g")
        .select(col("doc_id"), col("eval_id")).distinct()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_eval_matches"))
        .orderBy("doc_id")
    },
    oracle = Some {
      s"""WITH tk AS (SELECT doc_id, list_transform(${dToks("text")}, t -> ${dHash32("t")}) AS th
         |           FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(${dShingleHashes(4)})) AS g FROM tk),
         |ev AS (SELECT doc_id AS eval_id, g FROM sh WHERE doc_id % 97 = 0),
         |tr AS (SELECT doc_id, g FROM sh WHERE doc_id % 97 <> 0)
         |SELECT doc_id, COUNT(*) AS n_eval_matches FROM (
         |  SELECT DISTINCT tr.doc_id, ev.eval_id FROM tr JOIN ev USING (g))
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  // ---- dedup ---------------------------------------------------------------

  private val dedupExact = QueryDef(
    fn = (spark, dir) =>
      Dedup.exactKeepFirst(Tables.documents(spark, dir),
          keys = Seq("text"), orderBy = Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id"),
    oracle = Some(
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1
        |ORDER BY doc_id""".stripMargin))

  /** Shared oracle CTE computing minhash signatures band keys over the
    * FULL corpus — mirrors Dedup.minhashSignature/bandKeys
    * literal-for-literal.
    * With `cap` set, (band, band_key) buckets larger than the cap are
    * dropped before pairing — the hot-bucket guard's oracle twin. */
  private[queries] def minhashOracle: String = minhashOracleWith(None)

  private def minhashOracleWith(cap: Option[Int]): String = {
    val coefValues = Dedup.coefficients(16).zipWithIndex
      .map { case ((a, b), i) => s"($i, CAST($a AS BIGINT), CAST($b AS BIGINT))" }
      .mkString(", ")
    val bandsCte = cap match {
      case None =>
        """bands AS (SELECT id, i // 4 AS band,
          |                 string_agg(v::VARCHAR, ':' ORDER BY i) AS band_key
          |          FROM mh GROUP BY id, i // 4),""".stripMargin
      case Some(m) =>
        s"""bands_all AS (SELECT id, i // 4 AS band,
           |                 string_agg(v::VARCHAR, ':' ORDER BY i) AS band_key
           |          FROM mh GROUP BY id, i // 4),
           |bsz AS (SELECT band, band_key, count(*) AS n
           |        FROM bands_all GROUP BY band, band_key),
           |bands AS (SELECT b.id, b.band, b.band_key
           |          FROM bands_all b JOIN bsz USING (band, band_key)
           |          WHERE bsz.n <= $m),""".stripMargin
    }
    // hdocs/jac0 MATERIALIZED + the intersect/arithmetic split are pure
    // DuckDB-cost controls, value-identical (cross-checked row-exact at
    // sf0.01/sf0.1): un-materialized, DuckDB inlines hdocs per join side
    // and re-evaluates the len(list_intersect(..)) expression once in the
    // WHERE jaccard filter and again in every consumer projection — the
    // 6.3M-pair sf0.1 replay measured 100 s; materializing the intersect
    // size once and deriving jaccard arithmetically in a view runs 8 s.
    s"""docs AS (
       |  SELECT doc_id AS id, ${dTokSet("text")} AS toks
       |  FROM documents),
       |hdocs AS MATERIALIZED (
       |  SELECT id, list_distinct(list_transform(toks, t -> ${dHash32("t")})) AS hs
       |  FROM docs),
       |tok AS (SELECT id, unnest(toks) AS t FROM docs),
       |th AS (SELECT id, ${dHash32("t")} % 2147483647 AS h FROM tok),
       |coef AS (SELECT * FROM (VALUES $coefValues) c(i, a, b)),
       |mh AS (SELECT id, i, min((a * h + b) % 2147483647) AS v
       |       FROM th CROSS JOIN coef GROUP BY id, i),
       |$bandsCte
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.band_key = y.band_key AND x.id < y.id),
       |jac0 AS MATERIALIZED (
       |  SELECT id_a, id_b, CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) AS ji,
       |         len(a.hs) + len(b.hs) AS js
       |  FROM cand JOIN hdocs a ON cand.id_a = a.id JOIN hdocs b ON cand.id_b = b.id),
       |jac AS (SELECT id_a, id_b,
       |  floor((ji / (js - ji)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
       |  FROM jac0)""".stripMargin
  }

  /** Shared oracle SQL: exact connected components over an ORIENTED
    * (a < b, duplicate-free) pair query, emitted as a CTE chain ending
    * in `comp(id, comp)` — comp = the component-minimum id, one row per
    * node appearing in ≥1 edge (exactly the coverage of the historical
    * all-nodes recursive reach; consumers COALESCE the edgeless rest).
    *
    * This is [[graft.ops.Dedup.connectedComponents]]'s star contraction
    * re-expressed in plain SQL so the RECURSION runs only on the
    * contracted kernel: root(v) = least(v, min smaller neighbor) — in
    * oriented pairs every smaller neighbor of v arrives as (a, v), so
    * one GROUP BY over the b side (plus a null-neighbor row per a-side
    * node) computes it; kernel edges are the DISTINCT (root(a), root(b))
    * rewrites; recursive reach floods the kernel (hundreds of rows on a
    * near-dup pair corpus); expansion composes comp(v) =
    * kcomp(root(v)). Correctness is the operator's own argument:
    * v—root(v) is an edge so contraction preserves components, and the
    * component minimum has no smaller neighbor so it is its own root —
    * the min over kernel roots IS the min over nodes. Value-identity vs
    * the historical every-endpoint-seeded reach is cross-checked
    * row-exact in DuckDB at sf0.01.
    *
    * Why: the historical form seeded reach(id, r) from EVERY edge
    * endpoint, so the working set was Σ|C|² pairs — on the template
    * corpus's giant near-dup components that recursion ran ~8 min PER
    * CONSUMER at sf0.1 (two local DuckDB OOM incidents in two rounds);
    * this form is edge-linear outside the kernel and runs the whole
    * consumer in seconds (round-15 verdict task 3). */
  private[queries] def componentsOracle(orientedSql: String): String =
    s"""cc_e AS MATERIALIZED ($orientedSql),
       |cc_roots AS MATERIALIZED (
       |  SELECT v, LEAST(v, COALESCE(MIN(nbr), v)) AS root FROM (
       |    SELECT b AS v, a AS nbr FROM cc_e
       |    UNION ALL
       |    SELECT a AS v, NULL AS nbr FROM cc_e) GROUP BY v),
       |cc_k AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(ra.root, rb.root) AS a, GREATEST(ra.root, rb.root) AS b
       |  FROM cc_e e JOIN cc_roots ra ON e.a = ra.v JOIN cc_roots rb ON e.b = rb.v
       |  WHERE ra.root <> rb.root),
       |cc_ks AS (SELECT a, b FROM cc_k UNION ALL SELECT b AS a, a AS b FROM cc_k),
       |reach(id, r) AS (
       |  SELECT a, a FROM cc_ks
       |  UNION
       |  SELECT e.a, reach.r FROM cc_ks e JOIN reach ON reach.id = e.b),
       |cc_kcomp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
       |comp AS (SELECT v AS id, COALESCE(k.comp, cc_roots.root) AS comp
       |  FROM cc_roots LEFT JOIN cc_kcomp k ON cc_roots.root = k.id)""".stripMargin

  /** [[componentsOracle]] over the verified minhash pair set at the
    * family's 0.5 threshold — the block every jac-component consumer
    * embeds. */
  private[queries] val componentsFromJac: String =
    componentsOracle("SELECT id_a AS a, id_b AS b FROM jac WHERE jaccard >= 0.5")

  /** Verified minhash pair graph over the FULL corpus (unsampled —
    * round 8/9's rolling shingle-hash + banded join made the chain cheap
    * enough that the historical 10% demo sample demonstrated less scale
    * than the operator has), memoized per (session, dir) —
    * `q_dedup_minhash_pairs` and `q_dedup_components` consume the
    * identical (deterministic) pair set, so the LSH signature + band join
    * + exact-Jaccard verify chain runs once per session, not once per
    * consumer (the shared-centroid pattern from the ANN family).
    * The corpus READ is memoized alongside: consumers joining the
    * checkpointed pairs back to the docs must share its lineage (see
    * trainedIvfCells' attribute-id note).
    */
  private def dedupDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "docs")(Tables.documents(spark, dir))

  private[graft] def minhashPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "pairs")(
      // NO checkpoint here: the operator's own verify barrier (the scored
      // localCheckpoint inside nearDupMinhash) already pins the chain —
      // the returned frame is LogicalRDD + a trivial threshold filter, so
      // a memo-level re-materialization would write the ~all-passing pair
      // set a second time (~1.5 s at sf0.1) to save consumers a cached
      // block re-scan costing ~0.1 s each
      Dedup.nearDupMinhash(dedupDocs(spark, dir),
        "doc_id", "text", k = 16, bands = 4, minJaccard = 0.5))

  /** Components over [[minhashPairs]], memoized alongside them — the
    * iterative label propagation (driver-looped, inherently eager) runs
    * once per session for q_dedup_components AND q_dedup_best_of_cluster.
    * Checkpointed: the loop's lineage is deep and both consumers join it
    * back to the corpus. */
  private def minhashComps(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "comps")(
      Dedup.connectedComponents(minhashPairs(spark, dir), "id_a", "id_b",
          uniquePairs = true) // id_a < id_b and once-per-pair by construction
        .withColumnRenamed("id", "doc_id")
        .localCheckpoint(true))

  private val dedupMinhash = QueryDef(
    fn = (spark, dir) =>
      minhashPairs(spark, dir).orderBy("id_a", "id_b"),
    oracle = Some(
      s"""WITH $minhashOracle
         |SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin))

  /** Hot-bucket-capped LSH: same pipeline with (band, band_key) buckets
    * over 10 members dropped before pairing — the worst-case bound a
    * template-heavy corpus needs at scale (a bucket of m docs is m^2/2
    * pairs on ONE reducer; AQE cannot split within a key). The fixture's
    * template clusters produce multi-hundred-doc buckets at every SF on
    * the full corpus, so the cap binds and the oracle proves both engines
    * drop identically. */
  private val dedupMinhashCapped = QueryDef(
    fn = (spark, dir) =>
      Dedup.nearDupMinhash(
          Tables.documents(spark, dir),
          "doc_id", "text", k = 16, bands = 4, minJaccard = 0.5,
          maxBucket = Some(10))
        .orderBy("id_a", "id_b"),
    oracle = Some(
      s"""WITH ${minhashOracleWith(Some(10))}
         |SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin))

  /** Incremental pair set — the NEW batch (doc_id % 20 = 0) against the
    * rest of the corpus, both sides as [[Dedup.minhashPrepared]] digests —
    * memoized alongside the full chain: q_dedup_minhash_incr and
    * q_dedup_cross_run share one build, and repeated bench passes stop
    * paying the signature rebuild (the operator's own localCheckpoint
    * barrier makes the memoized frame a cheap re-scan). */
  private[graft] def minhashIncrPairs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "incr-pairs") {
      val docs = dedupDocs(spark, dir)
      Dedup.nearDupMinhashFromState(
        Dedup.minhashPrepared(docs.filter(col("doc_id") % 20 === 0), "doc_id", "text"),
        Dedup.minhashPrepared(docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text"),
        k = 16, bands = 4, minJaccard = 0.5)
    }

  /** Incremental near-dup: the NEW batch (doc_id % 20 = 0) against the
    * rest of the FULL corpus as the accumulated corpus — candidates are
    * new×new and new×corpus only, never corpus×corpus (the daily-ingest
    * shape; re-pairing the corpus each run is quadratically growing rework
    * for pairs already decided). Oracle = the full-batch pair set filtered
    * to pairs touching a new doc, exactly the output-identity the operator
    * guarantees (spec-pinned in TextDedupSpec). */
  private val dedupMinhashIncr = QueryDef(
    fn = (spark, dir) =>
      minhashIncrPairs(spark, dir).orderBy("id_a", "id_b"),
    oracle = Some(
      s"""WITH $minhashOracle
         |SELECT id_a, id_b, jaccard FROM jac
         |WHERE jaccard >= 0.5 AND (id_a % 20 = 0 OR id_b % 20 = 0)
         |ORDER BY id_a, id_b""".stripMargin))

  /** Survivor selection over the minhash pair graph: connected components
    * via iterative min-label propagation; oracle computes the same
    * components with a DuckDB recursive CTE over the identical pair set. */
  private val dedupComponents = QueryDef(
    fn = (spark, dir) => {
      val sample = dedupDocs(spark, dir)
      val comps = minhashComps(spark, dir)
      sample.select(col("doc_id")).join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("comp"),
          (coalesce(col("comp"), col("doc_id")) === col("doc_id")).as("survivor"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH RECURSIVE $minhashOracle,
         |$componentsFromJac
         |SELECT d.id AS doc_id, COALESCE(c.comp, d.id) AS comp,
         |  (COALESCE(c.comp, d.id) = d.id) AS survivor
         |FROM docs d LEFT JOIN comp c ON d.id = c.id
         |ORDER BY doc_id""".stripMargin))

  /** Best-of-cluster survivor selection — the production dedup policy:
    * within each near-dup cluster keep the HIGHEST-QUALITY member (ties
    * to the lowest doc_id), not the arbitrary first one. Composes the
    * memoized minhash pair graph → connected components → the
    * [[TextAnalysis.qualityScore]] signal, so the expensive chains run
    * once per session across the dedup family. Scale shape: quality is a
    * scan-stage expression; the arg-max is one `min_by(doc_id,
    * struct(-quality, doc_id))` aggregation keyed on the component id
    * (high cardinality — components, not a groups-sized window) plus a
    * comp-keyed join back. Oracle replays components with the recursive
    * CTE and the policy with a rank window over identical quality values.
    */
  private val dedupBestOfCluster = QueryDef(
    fn = (spark, dir) => {
      val sample = dedupDocs(spark, dir)
      val comps = minhashComps(spark, dir)
      val scored = sample
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .join(comps, Seq("doc_id"), "left")
        .withColumn("comp", coalesce(col("comp"), col("doc_id")))
      val best = scored.groupBy(col("comp"))
        .agg(min_by(col("doc_id"),
          struct((-col("quality")).as("nq"), col("doc_id"))).as("best_id"))
      scored.join(best, "comp")
        .select(col("doc_id"), col("comp"), col("quality"),
          (col("doc_id") === col("best_id")).as("keep"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH RECURSIVE $minhashOracle,
         |$componentsFromJac,
         |${dQualityCte("")},
         |scored AS (
         |  SELECT q.doc_id, COALESCE(c.comp, q.doc_id) AS comp, q.quality
         |  FROM qual q LEFT JOIN comp c ON q.doc_id = c.id),
         |r AS (SELECT doc_id, comp, quality,
         |  row_number() OVER (PARTITION BY comp ORDER BY quality DESC, doc_id) AS rn
         |  FROM scored)
         |SELECT doc_id, comp, quality, (rn = 1) AS keep
         |FROM r ORDER BY doc_id""".stripMargin))

  /** Cross-source near-dup contamination matrix: the verified minhash
    * pair graph aggregated by (source, source) — the provenance
    * diagnostic that tells you WHICH crawl shards duplicate each other
    * before you spend a full dedup pass (e.g. a mirror site shows up as
    * one hot off-diagonal cell). Consumes the memoized
    * [[minhashPairs]]/[[dedupDocs]] chain, so the marginal cost is
    * two doc-keyed joins (data-sized, unhinted) and one aggregation on
    * the source-pair DOMAIN (≤ S²/2 groups). Pair Jaccards are already
    * 6dp-rounded; they sum in DECIMAL(18,6) so the mean replays. */
  private val dedupCrossSource = QueryDef(
    fn = (spark, dir) => {
      val src = dedupDocs(spark, dir).select(col("doc_id"), col("source"))
      minhashPairs(spark, dir)
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"),
          col("jaccard").cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("jd"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"),
          (floor((sum(col("jd")).cast("double") / count(lit(1)))
            * 1e6 + 0.5) / 1e6).as("mean_jaccard"))
        .orderBy("src_a", "src_b")
    },
    oracle = Some(
      s"""WITH $minhashOracle,
         |ps AS (SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5),
         |src AS (SELECT doc_id AS id, source FROM documents),
         |lab AS (SELECT LEAST(a.source, b.source) AS src_a,
         |               GREATEST(a.source, b.source) AS src_b,
         |               CAST(jaccard AS DECIMAL(18,6)) AS jd
         |        FROM ps JOIN src a ON ps.id_a = a.id JOIN src b ON ps.id_b = b.id)
         |SELECT src_a, src_b, COUNT(*) AS n_pairs,
         |  floor((CAST(SUM(jd) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS mean_jaccard
         |FROM lab GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin))

  /** Train/val/test SPLIT-LEAKAGE report: near-duplicate pairs that cross
    * the deterministic hash-split boundary ([[TextAnalysis.assignSplit]]).
    * A near-dup of a training document sitting in val/test silently
    * inflates eval scores — the cross-split rows (`leaks = true`) are the
    * contamination a split-by-hash pipeline must drive to zero (the
    * standard fix: split by near-dup COMPONENT, not by document). Consumes
    * the memoized verified minhash pair graph, so the marginal cost over
    * the dedup family is two split-label joins and a 6-row rollup.
    */
  private val splitLeakage = QueryDef(
    fn = (spark, dir) => {
      val sp = dedupDocs(spark, dir)
        .select(col("doc_id"), TextAnalysis.assignSplit(col("doc_id")).as("split"))
      minhashPairs(spark, dir)
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("pa")), Seq("id_a"))
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("pb")), Seq("id_b"))
        .select(least(col("pa"), col("pb")).as("split_a"),
          greatest(col("pa"), col("pb")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaks", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    },
    oracle = Some(
      s"""WITH $minhashOracle,
         |ps AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
         |sp AS (SELECT doc_id AS id,
         |         CASE WHEN ${dHash32("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |              WHEN ${dHash32("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |              ELSE 'test' END AS split
         |       FROM documents),
         |lab AS (SELECT LEAST(a.split, b.split) AS split_a,
         |               GREATEST(a.split, b.split) AS split_b
         |        FROM ps JOIN sp a ON ps.id_a = a.id JOIN sp b ON ps.id_b = b.id)
         |SELECT split_a, split_b, COUNT(*) AS n_pairs,
         |  split_a <> split_b AS leaks
         |FROM lab GROUP BY split_a, split_b ORDER BY split_a, split_b""".stripMargin))

  /** Component-aware split assignment — the FIX for what q_split_leakage
    * measures: hash the near-dup COMPONENT id (min-label survivor root,
    * singletons root at themselves) instead of the document id, so every
    * member of a near-dup cluster lands in the same train/val/test split
    * by construction. The emitted `leak_pairs` column is the verified
    * contract (q_ann_recall pattern): the number of near-dup pairs still
    * crossing a split boundary under this assignment — provably 0, and
    * the oracle recomputes it from the recursive-CTE components. Marginal
    * cost over the memoized component chain: one hash projection, two
    * label joins, a count.
    */
  private val componentSplit = QueryDef(
    fn = (spark, dir) => {
      val sample = dedupDocs(spark, dir)
      val comps = minhashComps(spark, dir)
      // narrow (doc_id, comp, split) frame, checkpointed: the leak
      // probe joins it twice and the output reads it once — each
      // reference re-planned the documents scan (ScanCountLintSpec)
      val lab = sample.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
        .withColumn("split", TextAnalysis.assignSplit(col("comp")))
        .memoCheckpoint(spark, dir, "component_split_lab")
      val leak = minhashPairs(spark, dir)
        .join(lab.select(col("doc_id").as("id_a"), col("split").as("pa")), Seq("id_a"))
        .join(lab.select(col("doc_id").as("id_b"), col("split").as("pb")), Seq("id_b"))
        .filter(col("pa") =!= col("pb"))
        .agg(count(lit(1)).as("leak_pairs"))
      lab.crossJoin(broadcast(leak)).orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH RECURSIVE $minhashOracle,
         |$componentsFromJac,
         |lab0 AS (SELECT d.id AS doc_id, COALESCE(c.comp, d.id) AS comp
         |         FROM docs d LEFT JOIN comp c ON d.id = c.id),
         |lab AS (SELECT doc_id, comp,
         |          CASE WHEN ${dHash32("CAST(comp AS VARCHAR)")} % 100 < 80 THEN 'train'
         |               WHEN ${dHash32("CAST(comp AS VARCHAR)")} % 100 < 90 THEN 'val'
         |               ELSE 'test' END AS split
         |        FROM lab0),
         |ps AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
         |leak AS (SELECT COUNT(*) AS leak_pairs FROM ps
         |         JOIN lab a ON ps.id_a = a.doc_id
         |         JOIN lab b ON ps.id_b = b.doc_id
         |         WHERE a.split <> b.split)
         |SELECT doc_id, comp, split, leak_pairs
         |FROM lab CROSS JOIN leak ORDER BY doc_id""".stripMargin))

  /** Per-document character-level Shannon entropy (bits/char) — the
    * gibberish / encoding-junk screen (low entropy: repeated filler;
    * high entropy: random noise or binary spill), a standard cheap
    * quality facet next to [[TextAnalysis.qualityScore]]. Two shuffles,
    * both on high-cardinality keys: (doc, char) counts, then a doc-keyed
    * rollup; p = count/n_chars reuses the table's n_chars column instead
    * of a second length aggregation. Each -p·log2(p) term is 9dp
    * floor-rounded and summed in DECIMAL(18,9) (the q_kl_divergence
    * discipline), so partial-aggregation order cannot split the engines.
    */
  private val textEntropy = QueryDef(
    fn = (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val p = col("c").cast("double") / col("n_chars").cast("double")
      docs.select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .select(col("doc_id"),
          (floor(-(p * log(p) / math.log(2.0)) * 1e9 + 0.5) / 1e9)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_distinct_chars"),
          sum(col("term")).cast("double").as("entropy_bits"))
        .orderBy("doc_id")
    },
    oracle = Some(
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |            FROM documents),
        |cc AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY doc_id, c),
        |t AS (SELECT cc.doc_id,
        |        CAST(floor(-((CAST(cc.n AS DOUBLE) / d.n_chars)
        |            * ln(CAST(cc.n AS DOUBLE) / d.n_chars) / ln(2.0))
        |          * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(18,9)) AS term
        |      FROM cc JOIN documents d USING (doc_id))
        |SELECT doc_id, COUNT(*) AS n_distinct_chars,
        |  CAST(SUM(term) AS DOUBLE) AS entropy_bits
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Newman modularity of the SOURCE partition on the near-dup graph —
    * the one-number answer to "is duplication intra-source or
    * cross-source?" (Q → 1: each source duplicates only itself, dedup
    * can shard by source; Q ≈ 0: duplication ignores provenance and the
    * pair join genuinely needs the global corpus). Q = Σ_s [e_s/m −
    * (d_s/2m)²] over the unweighted pair graph: e_s, d_s, m are exact
    * integer aggregates of the memoized pair set (node degrees on the
    * doc-id DOMAIN, then one source-keyed rollup); each source's term is
    * 9dp floor-rounded and summed in DECIMAL(18,9) — the
    * q_kl_divergence discipline. */
  private val dedupSrcModularity = QueryDef(
    fn = (spark, dir) => {
      val src = dedupDocs(spark, dir).select(col("doc_id"), col("source"))
      // pair-count-sized (sa, sb) edge list, checkpointed: m/intra/deg
      // all re-reference it, and each reference re-planned BOTH source
      // lookups' documents scans (6 corpus scans; ScanCountLintSpec)
      val pairs = minhashPairs(spark, dir)
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
        .select(col("sa"), col("sb"))
        .memoCheckpoint(spark, dir, "src_modularity_pairs")
      val m = pairs.agg(count(lit(1)).as("m")).localCheckpoint(true)
      val intra = pairs.filter(col("sa") === col("sb"))
        .groupBy(col("sa").as("source")).agg(count(lit(1)).as("e_s"))
      val deg = pairs.select(col("sa").as("source"))
        .union(pairs.select(col("sb").as("source")))
        .groupBy(col("source")).agg(count(lit(1)).as("d_s"))
      // x*x, not pow(x, 2): Math.pow/std::pow make no exactness promise
      // for integer exponents, a self-multiply is the same IEEE op on
      // both engines
      val t = col("d_s").cast("double") / (col("m") * 2)
      val q = deg.join(intra, Seq("source"), "left").crossJoin(broadcast(m))
        .select(
          (floor((coalesce(col("e_s"), lit(0L)).cast("double") / col("m")
              - t * t) * 1e9 + 0.5) / 1e9)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("term"))
        .agg((floor(sum(col("term")).cast("double") * 1e6 + 0.5) / 1e6)
          .as("q_modularity"))
      m.crossJoin(broadcast(q))
    },
    oracle = Some(
      s"""WITH $minhashOracle,
         |ps AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
         |src AS (SELECT doc_id AS id, source FROM documents),
         |lab AS (SELECT a.source AS sa, b.source AS sb
         |        FROM ps JOIN src a ON ps.id_a = a.id JOIN src b ON ps.id_b = b.id),
         |mm AS (SELECT COUNT(*) AS m FROM lab),
         |intra AS (SELECT sa AS source, COUNT(*) AS e_s FROM lab
         |          WHERE sa = sb GROUP BY 1),
         |deg AS (SELECT source, COUNT(*) AS d_s FROM (
         |          SELECT sa AS source FROM lab
         |          UNION ALL SELECT sb FROM lab) GROUP BY 1),
         |terms AS (SELECT CAST(floor((
         |      CAST(COALESCE(i.e_s, 0) AS DOUBLE) / mm.m
         |      - (CAST(d.d_s AS DOUBLE) / (mm.m * 2))
         |        * (CAST(d.d_s AS DOUBLE) / (mm.m * 2)))
         |    * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(18,9)) AS term
         |  FROM deg d LEFT JOIN intra i USING (source) CROSS JOIN mm)
         |SELECT mm.m AS m,
         |  floor(CAST(SUM(term) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         |    AS q_modularity
         |FROM terms CROSS JOIN mm GROUP BY mm.m""".stripMargin))

  /** SimHash signature oracle CTE over a sampled doc set. The final LEFT
    * JOIN keeps zero-token docs (unnest emits no rows for them, so they
    * never reach `bits`) with sig 0 — matching the Spark side, which folds
    * an empty hash array to signature 0. */
  private def simhashOracle(sample: String): String =
    s"""docs AS (SELECT doc_id AS id, ${dToks("text")} AS toks
       |         FROM documents $sample),
       |tok AS (SELECT id, unnest(toks) AS t FROM docs),
       |th AS (SELECT id, ${dHash32("t")} AS h FROM tok),
       |bits AS (SELECT id, j,
       |  sum(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS s
       |  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS j) GROUP BY id, j),
       |signz AS (SELECT id,
       |  ${dSum("list(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)")} AS sig
       |  FROM bits GROUP BY id),
       |sigs AS (SELECT d.id, COALESCE(s.sig, 0) AS sig
       |  FROM docs d LEFT JOIN signz s ON d.id = s.id)""".stripMargin

  private val simhashSigs = QueryDef(
    fn = (spark, dir) =>
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("hs"))
        .select(col("doc_id"), Dedup.simhash32(col("hs")).as("sig"))
        .orderBy("doc_id"),
    oracle = Some(
      s"""WITH ${simhashOracle("")}
         |SELECT id AS doc_id, sig FROM sigs ORDER BY doc_id""".stripMargin))

  /** 64-bit SimHash signature oracle CTE (two 32-bit words — hi = hex chars
    * 1-8 of md5, lo = chars 9-16 — so DuckDB never needs unsigned 64-bit
    * arithmetic; see [[Dedup.simhash64FromHalves]] for the equivalence). */
  private def simhash64Oracle(sample: String): String = {
    def sigBits(s: String) = dSum(
      s"list(CASE WHEN $s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)")
    s"""docs AS (SELECT doc_id AS id, ${dToks("text")} AS toks
       |         FROM documents $sample),
       |tok AS (SELECT id, unnest(toks) AS t FROM docs),
       |th AS (SELECT id, ${dHash32At("t", 1)} AS hh, ${dHash32At("t", 9)} AS hl FROM tok),
       |bits AS (SELECT id, j,
       |  sum(CASE WHEN ((hh >> j) & 1) = 1 THEN 1 ELSE -1 END) AS sh,
       |  sum(CASE WHEN ((hl >> j) & 1) = 1 THEN 1 ELSE -1 END) AS sl
       |  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS j) GROUP BY id, j),
       |signz AS (SELECT id, ${sigBits("sh")} AS sig_hi, ${sigBits("sl")} AS sig_lo
       |  FROM bits GROUP BY id),
       |sigs AS (SELECT d.id, COALESCE(s.sig_hi, 0) AS sig_hi,
       |    COALESCE(s.sig_lo, 0) AS sig_lo
       |  FROM docs d LEFT JOIN signz s ON d.id = s.id)""".stripMargin
  }

  /** Quadratic Hamming pair join over the 64-bit signatures (Spark compares
    * the single assembled long; the oracle sums bit_count over the halves —
    * identical by the half-decomposition). */
  private def simhash64PairOracleAt(sample: String, maxHamming: Int): String =
    s"""WITH ${simhash64Oracle(sample)}
       |SELECT x.id AS id_a, y.id AS id_b,
       |  CAST(bit_count(xor(x.sig_hi, y.sig_hi))
       |     + bit_count(xor(x.sig_lo, y.sig_lo)) AS INTEGER) AS hamming
       |FROM sigs x JOIN sigs y ON x.id < y.id
       |WHERE bit_count(xor(x.sig_hi, y.sig_hi))
       |    + bit_count(xor(x.sig_lo, y.sig_lo)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin

  private val simhash64PairOracle = simhash64PairOracleAt("WHERE doc_id % 2 = 0", 7)

  private val simhashPairs = QueryDef(
    fn = (spark, dir) =>
      Dedup.simhashPairs(
          Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0),
          "doc_id", "text", maxHamming = 7)
        .orderBy("id_a", "id_b"),
    oracle = Some(simhash64PairOracle))

  /** Scale-path twin of [[simhashPairs]]: banded pigeonhole candidates over
    * the 64-bit signature (8 chunks x 8 bits), equi-join only. Same sample,
    * same oracle — the driver proves the two plans are output-identical.
    * NOTE: maxHamming=7 exists for output-identity coverage of the widest
    * banding; it is NOT the deployment config (8-bit chunks never beat the
    * quadratic scan — see the crossover notes in
    * [[Dedup.simhashPairsBanded]]). The operating point to deploy is
    * maxHamming=3, exercised end-to-end by [[simhashBandedH3]]
    * (`q_dedup_simhash_banded_h3`) with a measured 23-58x win over its
    * quadratic twin at n=160k-320k. */
  private val simhashBanded = QueryDef(
    fn = (spark, dir) =>
      Dedup.simhashPairsBanded(
          Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0),
          "doc_id", "text", maxHamming = 7)
        .orderBy("id_a", "id_b"),
    oracle = Some(simhash64PairOracle))

  /** [[Dedup.simhashPairs]] at the Manku/WWW'07 operating point
    * (maxHamming = 3) — the quadratic oracle twin of [[simhashBandedH3]].
    * Input is SAMPLED (`doc_id % 2 = 0`, same discipline as the
    * maxHamming=7 twin): this query's cost is quadratic in corpus size
    * (measured 94.6 s at n=160k), so running it full-table would dominate
    * the bench the moment the driver raises the bench SF. The full-table
    * identity proof lives on the BANDED side — [[simhashBandedH3]] stays
    * unsampled against the full-table oracle, which is the path whose
    * full-corpus behavior actually matters at scale. */
  private val simhashH3 = QueryDef(
    fn = (spark, dir) =>
      Dedup.simhashPairs(
          Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0),
          "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b"),
    oracle = Some(simhash64PairOracleAt("WHERE doc_id % 2 = 0", 3)))

  /** Banded SimHash at its WINNING operating point: maxHamming = 3 → 4
    * chunks x 16 bits, the config [[Dedup.simhashPairsBanded]]'s measured
    * crossover analysis recommends for scale (the maxHamming=7 twin above
    * demonstrates output identity of the 8x8 banding but never beats the
    * quadratic scan — 8-bit chunks collide on ~3% of the pair space).
    * Same full-table input and oracle as [[simhashH3]], so the driver
    * proves the banded plan output-identical end-to-end at the operating
    * point users should actually deploy. MEASURED at local[32] on the
    * sf0.1 corpus replicated to scale (every token replica-salted so
    * replica signatures decorrelate; parquet input, warm JVM):
    * n=160k banded 4.0 s vs quadratic 94.6 s (23x); n=320k banded 6.1 s
    * vs quadratic 356.7 s (58x); identical pair counts both sizes
    * (32489 / 60210) — the linear-vs-quadratic divergence the
    * [[Dedup.simhashPairsBanded]] crossover notes predict, demonstrated
    * on this corpus rather than the synthetic uniform one. */
  private val simhashBandedH3 = QueryDef(
    fn = (spark, dir) =>
      Dedup.simhashPairsBanded(Tables.documents(spark, dir), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b"),
    oracle = Some(simhash64PairOracleAt("", 3)))

  private val jaccardNgram = QueryDef(
    fn = (spark, dir) =>
      Dedup.jaccardPairs(
          Tables.documents(spark, dir).filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 3, minJaccard = 0.01)
        .orderBy("id_a", "id_b"),
    oracle = Some {
      s"""WITH tk AS (SELECT doc_id, list_transform(${dToks("text")}, t -> ${dHash32("t")}) AS th
         |           FROM documents WHERE doc_id % 10 = 0),
         |docs AS (SELECT doc_id AS id,
         |  list_sort(list_distinct(${dShingleHashes(3)})) AS gs FROM tk)
         |SELECT x.id AS id_a, y.id AS id_b,
         |  floor((CAST(len(list_intersect(x.gs, y.gs)) AS DOUBLE)
         |        / (len(x.gs) + len(y.gs)
         |           - CAST(len(list_intersect(x.gs, y.gs)) AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM docs x JOIN docs y ON x.id < y.id
         |WHERE floor((CAST(len(list_intersect(x.gs, y.gs)) AS DOUBLE)
         |        / (len(x.gs) + len(y.gs)
         |           - CAST(len(list_intersect(x.gs, y.gs)) AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 >= 0.01
         |ORDER BY id_a, id_b""".stripMargin
    })

  // ---- similarity search ---------------------------------------------------

  private val embPairs = QueryDef(
    fn = (spark, dir) =>
      Similarity.cosineNearDupPairs(
          Tables.embeddings(spark, dir).filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", minCosine = 0.2)
        .orderBy("id_a", "id_b"),
    oracle = Some(
      s"""WITH v AS (SELECT vec_id AS id, embedding AS e
         |           FROM embeddings WHERE vec_id % 5 = 0)
         |SELECT x.id AS id_a, y.id AS id_b, ${dCos("x.e", "y.e")} AS cos
         |FROM v x JOIN v y ON x.id < y.id
         |WHERE ${dCos("x.e", "y.e")} >= 0.2
         |ORDER BY id_a, id_b""".stripMargin))

  /** The fixed probe set of the ANN family: the first 8 vectors. Every
    * search, recall gate and truth below evaluates these probes. */
  private[queries] def isProbe(id: String = "vec_id"): org.apache.spark.sql.Column =
    col(id) < 8

  /** Exact cosine top-10 of the probe set over the full corpus, memoized
    * per (session, dir) and checkpointed: the one truth of every ANN
    * recall gate (LSH, IVF, IVF-PQ, SQ8, Matryoshka, kNN graph, graph
    * search) and of q_sim_ann_brute, so the full-corpus re-rank runs once
    * per session. A gate at k < 10 reads the `rank <= k` prefix:
    * [[Similarity.topK]] numbers rows in one total order (cos desc,
    * neighbor_id asc), so the prefix is the exact top-k row for row.
    * Derives from trainedIvfCells level 0 (the memoized
    * `Tables.embeddings` frame) so the base read shares the chain's
    * lineage (the attribute-id note there). [[dTruth]] is its oracle. */
  private[queries] def annTruth(spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = 10): org.apache.spark.sql.DataFrame = {
    require(k <= 10, s"the probe truth holds the top 10, not $k")
    SessionCache.memo(spark, dir, "ann_truth10") {
      val emb = trainedIvfCells(spark, dir, 0)
      Similarity.bruteForceTopK(emb, emb.filter(isProbe()),
          "vec_id", "embedding", k = 10)
        .localCheckpoint(true)
    }.filter(col("rank") <= k)
  }

  /** DuckDB twin of [[annTruth]]: the CTE `truth (query_id, neighbor_id,
    * cos, rank)`, the exact top-`k` of the 8 probes computed from
    * `embeddings`. */
  private[queries] def dTruth(k: Int): String =
    s"""truth AS (SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |          ${dCos("q.embedding", "c.embedding")} AS cos
       |        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |        WHERE q.vec_id < 8))
       |  WHERE rank <= $k)""".stripMargin

  /** DuckDB twin of [[Similarity.hits]]: the CTE `agg (n_truth, name…)`,
    * the rows of `truth` each named (query_id, neighbor_id) relation
    * returned. */
  private[queries] def dHits(results: (String, String)*): String = {
    val named = results.zipWithIndex
    val counts = named.map { case ((name, _), i) =>
      s"CAST(SUM(CASE WHEN r$i.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS $name"
    }
    val joins = named.map { case ((_, rel), i) =>
      s"LEFT JOIN $rel r$i\n    ON t.query_id = r$i.query_id AND t.neighbor_id = r$i.neighbor_id"
    }
    s"""agg AS (SELECT COUNT(*) AS n_truth,
       |    ${counts.mkString(",\n    ")}
       |  FROM truth t
       |  ${joins.mkString("\n  ")})""".stripMargin
  }

  /** [[dHits]] per sweep point: the CTE `agg (point, n_truth, hits)`, one
    * row per `point` value of the `pts` CTE, counting the rows of `truth`
    * that `res` (point, query_id, neighbor_id) returned at that point. */
  private[queries] def dSweepHits(pts: String, point: String, res: String): String =
    s"""agg AS (SELECT p.$point, COUNT(*) AS n_truth,
       |    CAST(SUM(CASE WHEN r.query_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM $pts p CROSS JOIN truth t
       |  LEFT JOIN $res r ON r.$point = p.$point
       |    AND t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
       |  GROUP BY p.$point)""".stripMargin

  /** Memoized amplified-LSH top-5 for the fixed 8-query probe set — the
    * recall gate (q_ann_recall, alphabetically the family's first
    * toucher) and the standalone q_sim_ann_lsh consume the IDENTICAL
    * result, so the bucket-index build + candidate join + re-rank run
    * once per session (same contract as [[annTruth]]). */
  private def annLshTopK(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "ann_lsh") {
      val emb = trainedIvfCells(spark, dir, 0)
      Similarity.lshTopKSelf(emb, isProbe(),
          "vec_id", "embedding", k = 5, nBits = 4, tables = 16)
        .localCheckpoint(true)
    }

  /** Memoized trained-IVF nprobe-2 top-5 for the same probe set —
    * q_ann_recall and q_sim_ann_ivf consume the identical result. */
  private def annIvfTopK(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "ann_ivf") {
      val emb = trainedIvfCells(spark, dir, 0)
      val cells = trainedIvfCells(spark, dir, 2)
      Similarity.ivfTopK(cells, emb.filter(isProbe()),
          trainedCentFrame(spark, dir, 3),
          "vec_id", "embedding", "label", k = 5, nprobe = 2)
        .localCheckpoint(true)
    }

  /** Memoized max-depth (nprobe = 5) probe ranking over the level-2
    * trained index for the fixed 8-query probe set — the probe-depth
    * SWEEP queries (q_ivf_multiprobe, q_ivf_rerank) derive every depth
    * p as the `crank <= p` restriction (candidate sets nest by
    * construction), so the cell ranking runs once per session instead
    * of once per sweep point per pass (the [[annTruth]] contract;
    * an index artifact — which cells each query probes). */
  private def ivfProbe5(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "ivf_probe5") {
      val qs = trainedIvfCells(spark, dir, 0).filter(isProbe())
      Similarity.probeCellsRanked(qs, trainedCentFrame(spark, dir, 3),
          "vec_id", "embedding", "label", nprobe = 5)
        .localCheckpoint(true)
    }

  /** Memoized exact-cosine scores of the [[ivfProbe5]] candidate set
    * (the corpus cell-join + scoring stage shared by both sweep
    * queries): per-depth consumers re-rank `crank <= p` restrictions of
    * this ONE frame per pass, so the data-sized candidate scan runs
    * once per session instead of |depths| times per pass — the same
    * memo discipline as [[annIvfTopK]] (which memoizes a full ivfTopK
    * result), one level less derived. Bit-identical depth results: a
    * corpus row lives in exactly one cell, so restriction + re-rank
    * equals the per-depth ivfTopK it replaced. */
  private def ivfScored5(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "ivf_scored5") {
      Similarity.ivfScoreCandidates(trainedIvfCells(spark, dir, 2),
          ivfProbe5(spark, dir), "vec_id", "embedding", "label")
        .localCheckpoint(true)
    }

  private val annBrute = QueryDef(
    fn = (spark, dir) =>
      annTruth(spark, dir, 5).orderBy("query_id", "rank"),
    oracle = Some(
      s"""WITH ${dTruth(5)}
         |SELECT query_id, neighbor_id, cos, rank FROM truth
         |ORDER BY query_id, rank""".stripMargin))

  /** AND-OR amplified sign-LSH ANN — 16 tables × 4 bits over the 64-dim
    * embeddings (one 8-bit table measured 1/40 recall; this family measures
    * 35-39/40 across SFs — see `q_ann_recall`'s floor contract). */
  private val annLsh = QueryDef(
    fn = (spark, dir) =>
      annLshTopK(spark, dir).orderBy("query_id", "rank"),
    oracle = Some {
      s"""WITH v AS (SELECT vec_id, embedding AS e,
         |  ${dLshKeys("embedding", tables = 16, nBits = 4)} AS keys FROM embeddings),
         |vk AS (SELECT vec_id, unnest(keys) AS key FROM v),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |         FROM vk q JOIN vk c USING (key)
         |         WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
         |scored AS (SELECT query_id, neighbor_id, ${dCos("qe.e", "ce.e")} AS cos
         |           FROM cand JOIN v qe ON cand.query_id = qe.vec_id
         |                     JOIN v ce ON cand.neighbor_id = ce.vec_id),
         |ranked AS (SELECT *, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    })

  // ---- multimodal binary plumbing -----------------------------------------

  private val mmMeta = QueryDef(
    fn = (spark, dir) =>
      Multimodal.withPayload(Tables.documents(spark, dir), "doc_id", "text")
        .select(col("doc_id"),
          col("media_meta.format").as("format"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"))
        .orderBy("doc_id"),
    oracle = Some(
      // text is ASCII (verified) so octet_length(encode(text)) == len(text)
      """SELECT doc_id, 'bin/v1' AS format,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(len(text) % 64 + 1 AS INTEGER) AS width,
        |  CAST(len(text) % 48 + 1 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin))

  private val mmFrames = QueryDef(
    fn = (spark, dir) =>
      Multimodal.frameSample(
          Multimodal.withPayload(
            Tables.documents(spark, dir),
            "doc_id", "text"),
          "doc_id", "payload", frameBytes = 32, stride = 24)
        .select(col("doc_id"), col("frame_idx"),
          decode(col("frame"), "UTF-8").as("frame_text"))
        .orderBy("doc_id", "frame_idx"),
    oracle = Some(
      """WITH f AS (
        |  SELECT doc_id, unnest(range(0, greatest((len(text) - 32) // 24 + 1, 0))) AS frame_idx
        |  FROM documents)
        |SELECT f.doc_id, CAST(f.frame_idx AS INTEGER) AS frame_idx,
        |  substr(d.text, CAST(1 + f.frame_idx * 24 AS INTEGER), 32) AS frame_text
        |FROM f JOIN documents d ON f.doc_id = d.doc_id
        |WHERE len(substr(d.text, CAST(1 + f.frame_idx * 24 AS INTEGER), 32)) = 32
        |ORDER BY f.doc_id, frame_idx""".stripMargin))

  /** Batched stub-decode feature extraction. The decode runs as
    * partition-local Scala (the mapInPandas-analog batch path), but the
    * STUB's arithmetic — normalized byte-histogram moments over ASCII
    * payloads, float32 division — is reproducible in SQL, so the oracle
    * verifies the full batched pipeline end-to-end: f_j = count of bytes
    * with (b & 7) = j divided by n_bytes, in FLOAT, promoted to double,
    * floor-rounded. */
  private val mmFeatures = QueryDef(
    fn = (spark, dir) =>
      Multimodal.extractFeatures(
          Multimodal.withPayload(Tables.documents(spark, dir), "doc_id", "text"),
          "doc_id", "payload")
        .select(col("doc_id"), col("n_bytes"),
          TextAnalysis.round6(element_at(col("features"), 1).cast("double")).as("f0"),
          TextAnalysis.round6(element_at(col("features"), 8).cast("double")).as("f7"))
        .orderBy("doc_id"),
    oracle = Some {
      // text is ASCII (verified in mmMeta), so byte value = unicode(char)
      def m(j: Int) =
        s"""CASE WHEN len(text) = 0 THEN 0.0 ELSE floor(CAST(
           |  CAST(len(list_filter(list_transform(string_split(text, ''),
           |         c -> unicode(c)), b -> b % 8 = $j)) AS FLOAT)
           |  / CAST(len(text) AS FLOAT) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END""".stripMargin
      s"""SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  ${m(0)} AS f0,
         |  ${m(7)} AS f7
         |FROM documents ORDER BY doc_id""".stripMargin
    })

  /** Batched stub resize: payloads sampled down to an 8×6 "thumbnail" via
    * nearest-neighbor over the fake media dims. The stub's integer
    * arithmetic is replicated byte-for-byte in the oracle (payloads are
    * ASCII text stand-ins), verifying the batched partition-local resize
    * pipeline end-to-end like the feature-extract twin. */
  private val mmResize = QueryDef(
    fn = (spark, dir) =>
      Multimodal.resize(
          Multimodal.withPayload(
              Tables.documents(spark, dir),
              "doc_id", "text")
            .select(col("doc_id"), col("payload"),
              col("media_meta.width").as("w"), col("media_meta.height").as("h")),
          "doc_id", "payload", "w", "h", targetW = 8, targetH = 6)
        .select(col("doc_id"), col("width"), col("height"),
          decode(col("resized"), "UTF-8").as("thumb"))
        .orderBy("doc_id"),
    oracle = Some(
      """WITH d AS (
        |  SELECT doc_id, text, len(text) AS n,
        |         len(text) % 64 + 1 AS w, len(text) % 48 + 1 AS h
        |  FROM documents)
        |SELECT doc_id, 8 AS width, 6 AS height,
        |  CASE WHEN n = 0 THEN '' ELSE
        |    array_to_string(list_transform(range(0, 48), k ->
        |      substr(text,
        |        CAST(least((k // 8) * h // 6 * w + (k % 8) * w // 8,
        |                   n - 1) AS INTEGER) + 1, 1)), '')
        |  END AS thumb
        |FROM d ORDER BY doc_id""".stripMargin))

  /** Shared (id, sig) dHash frame: stub-decode payloads to the
    * deterministic 9×8 thumbnail, fold to the 64-bit gradient signature
    * ([[graft.functions.Kernels.dhash64]], [[Multimodal.dhashSigs]]). */
  private def mmDhashFrame(spark: org.apache.spark.sql.SparkSession,
      dir: String, sampled: Boolean): org.apache.spark.sql.DataFrame = {
    val base = Tables.documents(spark, dir)
    val docs = if (sampled) base.filter(col("doc_id") % 2 === 0) else base
    Multimodal.dhashSigsFromDocs(docs, "doc_id", "text")
  }

  /** DuckDB twin of the dHash signature chain over `sample`d documents,
    * as 32-bit halves (the simhash64 convention — no unsigned 64-bit
    * arithmetic): replicate the 9×8 nearest-neighbor thumbnail byte by
    * byte (the mmResize oracle's arithmetic at w2=9, h2=8; text is
    * ASCII, so byte = unicode(char)), one gradient bit per (r, c), then
    * the two 32-bit words. Empty docs sign to 0 (the
    * [[graft.functions.Kernels.dhash64]] convention). */
  private def dhashOracle(sample: String): String =
    s"""d AS (SELECT doc_id, text, len(text) AS n,
       |       len(text) % 64 + 1 AS w, len(text) % 48 + 1 AS h
       |  FROM documents $sample),
       |px AS (SELECT doc_id, list_transform(range(0, 72), k ->
       |    unicode(substr(text,
       |      CAST(least((k // 9) * h // 8 * w + (k % 9) * w // 9, n - 1)
       |        AS INTEGER) + 1, 1))) AS g
       |  FROM d WHERE n > 0),
       |bts AS (SELECT doc_id, list_transform(range(0, 64), j ->
       |    CASE WHEN g[CAST((j // 8) * 9 + (j % 8) + 1 AS INTEGER)]
       |           > g[CAST((j // 8) * 9 + (j % 8) + 2 AS INTEGER)]
       |      THEN 1 ELSE 0 END) AS b
       |  FROM px),
       |sg AS (SELECT doc_id,
       |    CAST(list_sum(list_transform(range(0, 32), j ->
       |      CAST(b[CAST(j + 33 AS INTEGER)] AS BIGINT)
       |        * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)))) AS BIGINT) AS sig_hi,
       |    CAST(list_sum(list_transform(range(0, 32), j ->
       |      CAST(b[CAST(j + 1 AS INTEGER)] AS BIGINT)
       |        * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)))) AS BIGINT) AS sig_lo
       |  FROM bts),
       |sigs AS (SELECT d.doc_id, COALESCE(sg.sig_hi, 0) AS sig_hi,
       |    COALESCE(sg.sig_lo, 0) AS sig_lo
       |  FROM d LEFT JOIN sg USING (doc_id))""".stripMargin

  /** Per-doc perceptual dHash signature (round-14 verdict task 3): the
    * 64-bit horizontal-gradient hash of the deterministic 9×8 decoded
    * thumbnail, emitted as 32-bit halves so the oracle never needs
    * unsigned 64-bit arithmetic. The media-side sibling of
    * q_dedup_simhash_sigs — gradients survive re-encode/resize/
    * brightness, so Hamming proximity means perceptual near-duplication.
    * Scale shape: pure narrow map (batched stub decode + one codegen'd
    * fold), no shuffle. */
  private val mmPhash = QueryDef(
    fn = (spark, dir) =>
      mmDhashFrame(spark, dir, sampled = false)
        .select(col("id").as("doc_id"),
          shiftrightunsigned(col("sig"), 32).as("sig_hi"),
          col("sig").bitwiseAND(lit(0xffffffffL)).as("sig_lo"))
        .orderBy("doc_id"),
    oracle = Some(
      s"""WITH ${dhashOracle("")}
         |SELECT doc_id, sig_hi, sig_lo FROM sigs ORDER BY doc_id""".stripMargin))

  /** Exact quadratic dHash Hamming pairs over the pre-sampled
    * (doc_id % 2) slice — the oracle-checkable baseline twin
    * ([[Dedup.pairsFromSigs]]); q_media_phash_banded is the
    * output-identical scale path (JoinLintSpec allowlists this twin,
    * the q_dedup_simhash_pairs convention). maxHamming = 3: the
    * banding operating point the SimHash crossover analysis
    * recommends, shared so the two paths stay comparable. */
  private val mmPhashPairs = QueryDef(
    fn = (spark, dir) =>
      graft.ops.Dedup.pairsFromSigs(mmDhashFrame(spark, dir, sampled = true),
          maxHamming = 3)
        .orderBy("id_a", "id_b"),
    oracle = Some(
      s"""WITH ${dhashOracle("WHERE doc_id % 2 = 0")}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig_hi, b.sig_hi))
         |     + bit_count(xor(a.sig_lo, b.sig_lo)) AS INTEGER) AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig_hi, b.sig_hi))
         |    + bit_count(xor(a.sig_lo, b.sig_lo)) <= 3
         |ORDER BY id_a, id_b""".stripMargin))

  /** Memoized full-corpus banded dHash pair set — shared by
    * q_media_phash_banded and the perceptual-cluster keep decision
    * (q_media_dedup_keep), the minhashPairs convention. */
  private def phashPairsMemo(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "phash_pairs")(
      graft.ops.Dedup.bandedPairsFromSigs(
          mmDhashFrame(spark, dir, sampled = false), maxHamming = 3)
        .localCheckpoint(true))

  /** Banded (pigeonhole) dHash near-dup pairs over the FULL corpus —
    * the 100 TB scale path: 4 chunks × 16 bits, candidates from an
    * equi-join on (band, chunk value), exact Hamming verified on
    * candidates only ([[Dedup.bandedPairsFromSigs]], the machinery the
    * text SimHash family already proves output-identical; an
    * equivalence spec pins banded ≡ quadratic on the same input). */
  private val mmPhashBanded = QueryDef(
    fn = (spark, dir) =>
      phashPairsMemo(spark, dir)
        .orderBy("id_a", "id_b"),
    oracle = Some(
      s"""WITH ${dhashOracle("")}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sig_hi, b.sig_hi))
         |     + bit_count(xor(a.sig_lo, b.sig_lo)) AS INTEGER) AS hamming
         |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig_hi, b.sig_hi))
         |    + bit_count(xor(a.sig_lo, b.sig_lo)) <= 3
         |ORDER BY id_a, id_b""".stripMargin))

  /** Memoized per-FRAME dHash signature chain (round-15 verdict task 5)
    * — the video-frame dedup story q_media_phash lacks: every 128-byte
    * payload frame (stride 96) is stub-decoded as a fixed 16×8 "frame
    * image", resized to the 9×8 thumbnail, and signed with the same
    * [[graft.functions.Kernels.dhash64]] gradient fold. Keyed fid =
    * doc_id·1024 + frame_idx (frame counts are payload-bytes/96 —
    * orders of magnitude under the 1024 slot bound on this corpus; a
    * production container would key (clip_id, frame_no) directly).
    *
    * GEOMETRY MATTERS FOR THE SIGNATURE'S ENTROPY — measured: the
    * first cut reused q_multimodal_frames' 32-byte/8×4 frames, whose
    * 9×8 thumbnail UPSAMPLES rows (each source row duplicated), so
    * consecutive thumbnail rows carry identical gradient bits and the
    * 64-bit sig has ~32 independent bits; the 16-bit band keys then
    * collapse (Σ bucket² = 75.5M candidates over 28k distinct sigs at
    * sf0.1, max bucket 1442 — LSH degenerating toward quadratic,
    * ~11 s/pass). At 16×8 every thumbnail cell samples a distinct
    * source byte: Σ bucket² = 37k, max bucket 8, the banded join runs
    * in ~0.1 s warm. ONE narrow chain feeds all three frame queries
    * (sigs / sampled pairs / containment) — a map-side explode +
    * batched resize + codegen fold, no shuffle before the pair join,
    * frame text never persists. */
  private def frameSigsMemo(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "frame_sigs") {
      val frames = Multimodal.frameSample(
        Multimodal.withPayload(Tables.documents(spark, dir), "doc_id", "text"),
        "doc_id", "payload", frameBytes = 128, stride = 96)
      Multimodal.dhashSigs(
          frames.select((col("doc_id") * 1024 + col("frame_idx")).as("fid"),
            col("frame"), lit(16).as("w"), lit(8).as("h")),
          "fid", "frame", "w", "h")
        .localCheckpoint(true)
    }

  /** DuckDB twin of the frame-signature chain over `sample`d documents:
    * the frameSample window arithmetic (128-byte frames, stride 96,
    * short tail dropped), the mmResize nearest-neighbor thumbnail at
    * w=16, h=8 → 9×8, then the dhashOracle gradient/halves convention.
    * len = 128 always, so no empty-payload branch exists here. */
  private def frameSigsOracle(sample: String): String =
    s"""fd AS (SELECT doc_id, text FROM documents $sample),
       |fr AS (SELECT doc_id,
       |    unnest(range(0, greatest((len(text) - 128) // 96 + 1, 0))) AS frame_idx
       |  FROM fd),
       |ft AS (SELECT fr.doc_id, CAST(fr.frame_idx AS INTEGER) AS frame_idx,
       |    substr(fd.text, CAST(1 + fr.frame_idx * 96 AS INTEGER), 128) AS fx
       |  FROM fr JOIN fd ON fr.doc_id = fd.doc_id
       |  WHERE len(substr(fd.text, CAST(1 + fr.frame_idx * 96 AS INTEGER), 128)) = 128),
       |fpx AS (SELECT doc_id, frame_idx, list_transform(range(0, 72), k ->
       |    unicode(substr(fx,
       |      CAST(least(((k // 9) * 8 // 8) * 16 + (k % 9) * 16 // 9, 127)
       |        AS INTEGER) + 1, 1))) AS g
       |  FROM ft),
       |fbts AS (SELECT doc_id, frame_idx, list_transform(range(0, 64), j ->
       |    CASE WHEN g[CAST((j // 8) * 9 + (j % 8) + 1 AS INTEGER)]
       |           > g[CAST((j // 8) * 9 + (j % 8) + 2 AS INTEGER)]
       |      THEN 1 ELSE 0 END) AS b
       |  FROM fpx),
       |fsigs AS (SELECT doc_id, frame_idx,
       |    CAST(list_sum(list_transform(range(0, 32), j ->
       |      CAST(b[CAST(j + 33 AS INTEGER)] AS BIGINT)
       |        * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)))) AS BIGINT) AS sig_hi,
       |    CAST(list_sum(list_transform(range(0, 32), j ->
       |      CAST(b[CAST(j + 1 AS INTEGER)] AS BIGINT)
       |        * (CAST(1 AS BIGINT) << CAST(j AS INTEGER)))) AS BIGINT) AS sig_lo
       |  FROM fbts)""".stripMargin

  /** Per-frame perceptual signatures over the full corpus — the frame
    * table a video dedup pipeline persists (8 bytes per 128-byte frame;
    * payload bytes never leave the scan stage). */
  private val frameDhash = QueryDef(
    fn = (spark, dir) =>
      frameSigsMemo(spark, dir)
        .select(expr("id div 1024").as("doc_id"),
          pmod(col("id"), lit(1024)).cast("int").as("frame_idx"),
          shiftrightunsigned(col("sig"), 32).as("sig_hi"),
          col("sig").bitwiseAND(lit(0xffffffffL)).as("sig_lo"))
        .orderBy("doc_id", "frame_idx"),
    oracle = Some(
      s"""WITH ${frameSigsOracle("")}
         |SELECT doc_id, frame_idx, sig_hi, sig_lo FROM fsigs
         |ORDER BY doc_id, frame_idx""".stripMargin))

  /** Exact quadratic CROSS-CLIP frame Hamming pairs over the pre-sampled
    * (doc_id % 2) slice — the oracle-checkable baseline twin of the
    * banded path q_frame_containment consumes, on the SAME slice (the
    * mmPhashPairs convention; JoinLintSpec allowlists the twin).
    * Within-clip pairs are excluded: overlapping windows of one payload
    * are trivially near-identical, and the dedup signal is cross-clip
    * reuse. */
  private val frameDhashPairs = QueryDef(
    fn = (spark, dir) =>
      graft.ops.Dedup.pairsFromSigs(
          frameSigsMemo(spark, dir)
            .filter(expr("id div 1024") % 2 === 0),
          maxHamming = 3)
        .filter(expr("id_a div 1024") =!= expr("id_b div 1024"))
        .select(expr("id_a div 1024").as("doc_a"),
          pmod(col("id_a"), lit(1024)).cast("int").as("frame_a"),
          expr("id_b div 1024").as("doc_b"),
          pmod(col("id_b"), lit(1024)).cast("int").as("frame_b"),
          col("hamming"))
        .orderBy("doc_a", "frame_a", "doc_b", "frame_b"),
    oracle = Some(
      s"""WITH ${frameSigsOracle("WHERE doc_id % 2 = 0")}
         |SELECT a.doc_id AS doc_a, a.frame_idx AS frame_a,
         |  b.doc_id AS doc_b, b.frame_idx AS frame_b,
         |  CAST(bit_count(xor(a.sig_hi, b.sig_hi))
         |     + bit_count(xor(a.sig_lo, b.sig_lo)) AS INTEGER) AS hamming
         |FROM fsigs a JOIN fsigs b
         |  ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig_hi, b.sig_hi))
         |    + bit_count(xor(a.sig_lo, b.sig_lo)) <= 3
         |ORDER BY doc_a, frame_a, doc_b, frame_b""".stripMargin))

  /** Clip-level containment from frame matches — the video twin of
    * q_dedup_containment: over the (doc_id % 2) slice, banded frame
    * pairs ([[Dedup.bandedPairsFromSigs]] on fids — pigeonhole-exact at
    * maxHamming 3, never all-pairs) reduce to per-clip-pair coverage:
    * matched_a = a's distinct frames with ≥1 Hamming-≤3 partner in b,
    * containment_e6 = max(matched_a/n_frames_a, matched_b/n_frames_b)
    * as exact integer division — the "clip b contains clip a" score a
    * video curation pipeline thresholds. Oracle replays the same
    * algebra from the quadratic pair form (banded ≡ quadratic is
    * pigeonhole-exact, spec'd for the operator in MultimodalDedupSpec).
    *
    * Scale shape: candidates from band equi-joins on 8-byte frame
    * sigs; the coverage rollup is keyed on (clip_a, clip_b) — match-
    * density-sized, never frames². The %2 sample bounds the local
    * DuckDB twin; the engine path is corpus-shape-independent. */
  /** Memoized clip-pair containment table (unordered) — shared by
    * q_frame_containment and the keep decision q_frame_dedup_keep. */
  private def frameCovMemo(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "frame_contain") {
      // DISTINCT-SIG inverted index, not frame-level banding: template
      // corpora repeat identical frames across hundreds of clips, so a
      // frame-level band join pays B² candidate rows per hot bucket
      // (measured 10.8 s/pass at sf0.1 on 29k frames — a genuine
      // 100 TB scale-killer). Frames with equal sigs are
      // interchangeable for coverage, so: collapse to (doc, sig,
      // n_frames) groups, band-join the DISTINCT sigs only (exact-dup
      // frame mass disappears — pigeonhole still exact at ≤3), close
      // the match relation with the identity (g, g) arm, expand to the
      // (matchable sig, clip) inverted index DISTINCTLY, and sum group
      // sizes per clip pair. Value-identical algebra (the oracle stays
      // the frame-level quadratic twin); intermediate volume is
      // match-density-sized, never bucket².
      val sigs = frameSigsMemo(spark, dir)
        .filter(expr("id div 1024") % 2 === 0)
      val dsc = sigs.groupBy(expr("id div 1024").as("doc"), col("sig"))
        .agg(count(lit(1)).as("nf"))
        .localCheckpoint(true) // feeds 4 consumers below, narrow
      val usig = dsc.select(col("sig")).distinct()
      val nbr = graft.ops.Dedup.bandedPairsFromSigs(
          usig.select(col("sig").as("id"), col("sig")), maxHamming = 3)
        .select(col("id_a").as("g"), col("id_b").as("g2"))
      val sigN = nbr
        .unionByName(nbr.select(col("g2").as("g"), col("g").as("g2")))
        .unionByName(usig.select(col("sig").as("g"), col("sig").as("g2")))
      val matchGB = sigN
        .join(dsc.select(col("sig").as("g2"), col("doc").as("doc_m")), "g2")
        .select(col("g"), col("doc_m")).distinct()
      val cov = dsc
        .join(matchGB, dsc("sig") === matchGB("g")
          && dsc("doc") =!= matchGB("doc_m"))
        .groupBy(col("doc").as("d"), col("doc_m").as("dm"))
        .agg(sum(col("nf")).as("matched"))
      val counts = dsc.groupBy(col("doc")).agg(sum(col("nf")).as("nf"))
      cov.filter(col("d") < col("dm"))
        .select(col("d").as("doc_a"), col("dm").as("doc_b"),
          col("matched").as("matched_a"))
        .join(cov.select(col("dm").as("doc_a"), col("d").as("doc_b"),
          col("matched").as("matched_b")), Seq("doc_a", "doc_b"))
        .join(counts.select(col("doc").as("doc_a"), col("nf").as("n_frames_a")),
          Seq("doc_a"))
        .join(counts.select(col("doc").as("doc_b"), col("nf").as("n_frames_b")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          col("n_frames_a"), col("n_frames_b"),
          col("matched_a"), col("matched_b"),
          greatest(expr("matched_a * 1000000 div n_frames_a"),
            expr("matched_b * 1000000 div n_frames_b"))
            .as("containment_e6"))
        .localCheckpoint(true)
    }

  private val frameContainment = QueryDef(
    fn = (spark, dir) =>
      frameCovMemo(spark, dir).orderBy("doc_a", "doc_b"),
    oracle = Some(
      s"""WITH ${frameSigsOracle("WHERE doc_id % 2 = 0")},
         |fp AS (
         |  SELECT a.doc_id AS doc_a, a.frame_idx AS frame_a,
         |         b.doc_id AS doc_b, b.frame_idx AS frame_b
         |  FROM fsigs a JOIN fsigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig_hi, b.sig_hi))
         |      + bit_count(xor(a.sig_lo, b.sig_lo)) <= 3),
         |cnt AS (SELECT doc_id AS doc, COUNT(*) AS nf FROM fsigs GROUP BY doc_id),
         |cov AS (SELECT doc_a, doc_b,
         |    COUNT(DISTINCT frame_a) AS matched_a,
         |    COUNT(DISTINCT frame_b) AS matched_b
         |  FROM fp GROUP BY doc_a, doc_b)
         |SELECT doc_a, doc_b,
         |  ca.nf AS n_frames_a, cb.nf AS n_frames_b,
         |  matched_a, matched_b,
         |  greatest(matched_a * 1000000 // ca.nf,
         |           matched_b * 1000000 // cb.nf) AS containment_e6
         |FROM cov JOIN cnt ca ON cov.doc_a = ca.doc
         |         JOIN cnt cb ON cov.doc_b = cb.doc
         |ORDER BY doc_a, doc_b""".stripMargin))

  /** Clip-level dedup KEEP decision from frame containment — the video
    * twin of q_media_dedup_keep: clip pairs at containment ≥ 0.6
    * (policy threshold; on this synthetic corpus every matching pair
    * measures containment 1.0 at all three SFs, so the knob is
    * documented but non-binding) become edges, connected components
    * label each %2-slice clip with its cluster, min-id survives.
    * Oracle replays frames → sigs → quadratic pairs → coverage →
    * threshold → contraction components → keep rule row-level.
    *
    * Scale shape: edges are clip-pair-sized (match density), the
    * component step is [[graft.ops.Dedup.connectedComponents]]'s
    * contraction + bounded kernel, and the label join back to the
    * corpus is clip-keyed. */
  private val frameDedupKeep = QueryDef(
    fn = (spark, dir) => {
      val comps = SessionCache.memo(spark, dir, "frame_comps")(
        graft.ops.Dedup.connectedComponents(
            frameCovMemo(spark, dir)
              .filter(col("containment_e6") >= 600000L)
              .select(col("doc_a"), col("doc_b")),
            "doc_a", "doc_b", uniquePairs = true)
          .withColumnRenamed("id", "doc_id")
          .localCheckpoint(true))
      val lab = Tables.documents(spark, dir)
        .filter(col("doc_id") % 2 === 0).select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster"))
      val sizes = lab.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      lab.join(sizes, Seq("cluster"))
        .select(col("doc_id"), col("cluster"), col("n_members"),
          (col("doc_id") === col("cluster")).as("keep"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH RECURSIVE ${frameSigsOracle("WHERE doc_id % 2 = 0")},
         |fp AS (
         |  SELECT a.doc_id AS doc_a, a.frame_idx AS frame_a,
         |         b.doc_id AS doc_b, b.frame_idx AS frame_b
         |  FROM fsigs a JOIN fsigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig_hi, b.sig_hi))
         |      + bit_count(xor(a.sig_lo, b.sig_lo)) <= 3),
         |fcnt AS (SELECT doc_id AS doc, COUNT(*) AS nf FROM fsigs GROUP BY doc_id),
         |fcov AS (SELECT doc_a, doc_b,
         |    COUNT(DISTINCT frame_a) AS matched_a,
         |    COUNT(DISTINCT frame_b) AS matched_b
         |  FROM fp GROUP BY doc_a, doc_b),
         |fedge AS (SELECT doc_a, doc_b FROM fcov
         |  JOIN fcnt ca ON fcov.doc_a = ca.doc
         |  JOIN fcnt cb ON fcov.doc_b = cb.doc
         |  WHERE greatest(matched_a * 1000000 // ca.nf,
         |                 matched_b * 1000000 // cb.nf) >= 600000),
         |${componentsOracle("SELECT doc_a AS a, doc_b AS b FROM fedge")},
         |lab AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster
         |  FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d
         |  LEFT JOIN comp c ON d.doc_id = c.id),
         |ls AS (SELECT cluster, COUNT(*) AS n_members FROM lab GROUP BY cluster)
         |SELECT doc_id, cluster, n_members, doc_id = cluster AS keep
         |FROM lab JOIN ls USING (cluster) ORDER BY doc_id""".stripMargin))

  /** Perceptual dedup taken to its KEEP decision — the media-side twin
    * of q_dedup_components/q_dedup_best_of_cluster: connected components
    * over the banded dHash pair graph (star contraction + bounded
    * driver union-find, [[Dedup.connectedComponents]]), every doc
    * labeled with its perceptual cluster (singletons label themselves),
    * cluster sizes, and keep = (doc_id = cluster) — the min-id-survives
    * rule a curation pipeline applies before training. Oracle replays
    * the whole contract: signature chain, Hamming pairs, recursive-CTE
    * reachability, min-root labeling, keep rule.
    *
    * Scale shape: pairs come from the memoized banded equi-join (never
    * quadratic); components contract edges before the driver kernel;
    * the label join back to the corpus is doc-keyed. */
  private val mmDedupKeep = QueryDef(
    fn = (spark, dir) => {
      val comps = SessionCache.memo(spark, dir, "phash_comps")(
        graft.ops.Dedup.connectedComponents(phashPairsMemo(spark, dir),
            "id_a", "id_b", uniquePairs = true)
          .withColumnRenamed("id", "doc_id")
          .localCheckpoint(true))
      val lab = Tables.documents(spark, dir).select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster"))
      val sizes = lab.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
      lab.join(sizes, Seq("cluster"))
        .select(col("doc_id"), col("cluster"), col("n_members"),
          (col("doc_id") === col("cluster")).as("keep"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH RECURSIVE ${dhashOracle("")},
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sig_hi, b.sig_hi))
         |      + bit_count(xor(a.sig_lo, b.sig_lo)) <= 3),
         |${componentsOracle("SELECT id_a AS a, id_b AS b FROM p")},
         |lab AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         |s AS (SELECT cluster, COUNT(*) AS n_members FROM lab GROUP BY 1)
         |SELECT doc_id, cluster, n_members, doc_id = cluster AS keep
         |FROM lab JOIN s USING (cluster) ORDER BY doc_id""".stripMargin))

  /** Centroids ENTERING Lloyd iteration `level` — i.e. aggregated over the
    * level−1 assignment — collected once per session as literal rows.
    * level = iters+1 (e.g. 3 for the 2-iteration chain's probe centroids,
    * the oracle's `cent3`). */
  private def trainedCentRows(spark: org.apache.spark.sql.SparkSession,
      dir: String, level: Int): Seq[(Any, Seq[Double])] =
    SessionCache.memo(spark, dir, s"ivf-cents-$level")(
      Similarity.collectCentroidRowsFast(
        trainedIvfCells(spark, dir, level - 1), "label", "embedding"))

  /** Deterministic Lloyd iterations over the label-seeded cells:
    * recompute centroids, reassign every vector to its nearest centroid by
    * rounded cosine (ties to lowest cell).
    *
    * MEMOIZED per (session, dir, iteration): the whole ANN family
    * (`q_ivf_kmeans_assign` = level 1, `q_sim_ann_ivf` / `q_ann_recall` =
    * level 2) derives from one training chain instead of re-running Lloyd
    * from scratch per query — training is deterministic, so results are
    * identical. What is memoized per level is the collected CENTROID
    * LITERALS ([[trainedCentRows]], metadata-scale: n_cells × dim); the
    * assignment column itself stays a LAZY map-side expression over the
    * one memoized base read, never materialized. Per Lloyd iteration the
    * cluster pays exactly ONE job — the centroid aggregation over the
    * previous (lazy) assignment — and zero corpus writes; consumers that
    * reuse the assignment recompute a cheap scan-local argmax instead of
    * reading back a checkpoint (at 100 TB a production pipeline would
    * write the final assignment bucketed by cell ONCE; intermediate
    * levels never deserve materialization). Replacing the former
    * per-level localCheckpoint chain also removed its driver-side cost —
    * measured ~0.4 s of plan-analysis + RDD-conversion latency per level
    * at sf0.1, where the assignment job itself is 0.07 s. Levels build
    * cumulatively: level i's centroids aggregate over the cached level
    * i−1 expression. */
  private def trainedIvfCells(spark: org.apache.spark.sql.SparkSession,
      dir: String, iters: Int): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, s"ivf-cells-$iters")(
      // level 0 memoizes the base READ itself: every family member derives
      // from this one frame (consumers take their `emb` from here, not a
      // fresh read — two reads of the same file carry distinct attribute
      // ids, and mixing lineages around materialization points tripped
      // AQE's attribute rewrite: INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at
      // sf0.01+). Deeper levels are the SAME rows with the label column
      // replaced by the literal-centroid argmax — pure projection, lazy.
      if (iters == 0) Tables.embeddings(spark, dir)
      else Similarity.assignByCents(trainedIvfCells(spark, dir, 0),
        trainedCentRows(spark, dir, iters), "embedding", "label"))

  /** The probe-side centroid table of the level-`iters` chain (the
    * oracle's trailing `cent{iters+1}` CTE) as a literal LocalRelation —
    * shares [[trainedCentRows]]' collect, so consumers add no job. */
  private def trainedCentFrame(spark: org.apache.spark.sql.SparkSession,
      dir: String, level: Int): org.apache.spark.sql.DataFrame =
    Similarity.centroidsLiteralFrame(spark, trainedCentRows(spark, dir, level),
      "label", Tables.embeddings(spark, dir).schema("label").dataType)

  /** DuckDB CTE chain replicating [[trainedIvfCells]]: a0 = label-seeded
    * (vec_id, e, cell); for each iteration i, cent$i = per-cell centroids
    * of a${i-1} and a$i = the rounded-cosine reassignment; plus the final
    * centroid set cent${iters+1} over a$iters (what the probe step uses).
    * Mirrors the hash-gate-proven q_ivf_kmeans_assign single-step SQL. */
  private[queries] def dLloydCtes(iters: Int): String = {
    def centBlock(i: Int, from: String) =
      s"""ce$i AS (SELECT cell, generate_subscripts(e, 1) AS pos, unnest(e) AS v FROM $from),
         |cm$i AS (SELECT cell, pos,
         |  CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS m
         |  FROM ce$i GROUP BY cell, pos),
         |cent$i AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cm$i GROUP BY cell)""".stripMargin
    def assignBlock(i: Int) = {
      val dotEC = dSumD("list_transform(range(1, len(e) + 1), i -> CAST(e[i] AS DOUBLE) * centroid[i])")
      val normE = s"sqrt(${dDot("e", "e")})"
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      s"""rk$i AS (
         |  SELECT vec_id, e, cell, row_number() OVER (PARTITION BY vec_id ORDER BY
         |    floor(($dotEC / ($normE * $normC)) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |    cell ASC) AS r
         |  FROM (SELECT vec_id, e FROM a${i - 1}) CROSS JOIN cent$i),
         |a$i AS (SELECT vec_id, e, cell FROM rk$i WHERE r = 1)""".stripMargin
    }
    (Seq("a0 AS (SELECT vec_id, embedding AS e, label AS cell FROM embeddings)") ++
      (1 to iters).flatMap(i => Seq(centBlock(i, s"a${i - 1}"), assignBlock(i))) ++
      Seq(centBlock(iters + 1, s"a$iters"))).mkString(",\n")
  }

  /** IVF probe over TRAINED cells: two Lloyd iterations re-cluster the
    * direction-uncorrelated `label` seed around cosine direction before
    * indexing (measured top-5 recall at nprobe=2/10: 0.45/0.45/0.375 at
    * sf0.001/0.01/0.1, vs 0.25-0.33 untrained — the 0.2 scan fraction).
    * Oracle replays the identical training chain, so the driver hash-gates
    * the full train-then-probe pipeline, not just the probe join. */
  private val annIvf = QueryDef(
    fn = (spark, dir) =>
      annIvfTopK(spark, dir).orderBy("query_id", "rank"),
    oracle = Some {
      val dotQC = dSumD("list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * centroid[i])")
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      val normQ = s"sqrt(${dDot("qv", "qv")})"
      s"""WITH ${dLloydCtes(2)},
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |qc AS (
         |  SELECT query_id, qv, cell,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      floor(($dotQC / ($normQ * $normC)) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |      cell ASC) AS crank
         |  FROM q CROSS JOIN cent3),
         |probe AS (SELECT query_id, qv, cell FROM qc WHERE crank <= 2),
         |c AS (SELECT vec_id AS neighbor_id, e AS cv, cell FROM a2),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${dCos("qv", "cv")} AS cos
         |  FROM c JOIN probe USING (cell) WHERE query_id <> neighbor_id),
         |ranked AS (SELECT *, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    })

  /** In-cell hard-negative mining ([[Similarity.hardNegatives]]): for
    * each of the first 16 vectors, the 3 nearest same-trained-cell
    * vectors whose ORIGINAL label differs — the ANCE/DPR contrastive-
    * training negative set. Consumes the memoized level-2 Lloyd chain
    * (cells) joined back to the level-0 base (true labels), so the only
    * new work over the ANN family is one cell-keyed candidate join; the
    * oracle replays training, the label join, and the ranked cut in SQL.
    */
  private val hardNegs = QueryDef(
    fn = (spark, dir) => {
      val emb = trainedIvfCells(spark, dir, 0)
      val cells = trainedIvfCells(spark, dir, 2)
      val corpus = cells
        .select(col("vec_id"), col("embedding"), col("label").as("cell"))
        .join(emb.select(col("vec_id"), col("label").as("true_label")), "vec_id")
      Similarity.hardNegatives(
          corpus, corpus.filter(col("vec_id") < 16),
          "vec_id", "embedding", "cell", "true_label", k = 3)
        .orderBy("query_id", "rank")
    },
    oracle = Some(
      s"""WITH ${dLloydCtes(2)},
         |c AS (SELECT a2.vec_id, a2.e, a2.cell, lab.label
         |      FROM a2 JOIN (SELECT vec_id, label FROM embeddings) lab USING (vec_id)),
         |q AS (SELECT vec_id AS query_id, e AS qv, cell, label AS label_q
         |      FROM c WHERE vec_id < 16),
         |scored AS (
         |  SELECT query_id, label_q, c.vec_id AS neighbor_id,
         |    c.label AS label_n, ${dCos("qv", "cv")} AS cos
         |  FROM (SELECT vec_id, e AS cv, cell, label FROM c) c
         |  JOIN q USING (cell) WHERE c.label <> q.label_q),
         |ranked AS (SELECT *, row_number() OVER (
         |  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, label_q, neighbor_id, label_n, cos,
         |  CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin))

  /** k-NN label-noise screen (Northcutt-style confident-learning lite):
    * per label, how many points DISAGREE with the majority label of
    * their 5 nearest in-cell cosine neighbors — the data-quality pass a
    * labeled-corpus pipeline runs before training. Candidates are
    * confined to the memoized trained IVF cells (the SemDeDup cost
    * argument: Σ|cell|² cosines, never corpus²; the synthetic labels are
    * near-random so the absolute rates here exercise the machinery, not
    * a claim about this corpus). Majority and ranking ties are fully
    * deterministic (votes desc → label asc; cos desc → id asc), and the
    * 6dp-rounded cosines make both engines rank identical numbers.
    */
  private val labelNoise = QueryDef(
    fn = (spark, dir) => {
      val emb = trainedIvfCells(spark, dir, 0)
      val cells = trainedIvfCells(spark, dir, 2)
      val corpus = cells
        .select(col("vec_id"), col("embedding"), col("label").as("cell"))
        .join(emb.select(col("vec_id"), col("label").as("true_label")), "vec_id")
      val screened = Similarity.labelNoiseScreen(
        corpus, "vec_id", "embedding", "cell", "true_label", k = 5)
      val totals = corpus.groupBy(col("true_label").as("label"))
        .agg(count(lit(1)).as("n_points"))
      val sus = screened.groupBy(col("label_q").as("label"))
        .agg(count(lit(1)).as("n_screened"),
          sum(when(col("suspect"), 1L).otherwise(0L)).as("n_suspect"))
      totals.join(sus, Seq("label"), "left")
        .select(col("label"), col("n_points"),
          coalesce(col("n_screened"), lit(0L)).as("n_screened"),
          coalesce(col("n_suspect"), lit(0L)).as("n_suspect"),
          TextAnalysis.round6(coalesce(col("n_suspect"), lit(0L)).cast("double")
            / coalesce(col("n_screened"), lit(1L)).cast("double")).as("suspect_rate"))
        .orderBy("label")
    },
    oracle = Some(
      s"""WITH ${dLloydCtes(2)},
         |c AS (SELECT a2.vec_id, a2.e, a2.cell, lab.label
         |      FROM a2 JOIN (SELECT vec_id, label FROM embeddings) lab USING (vec_id)),
         |p AS (SELECT q.vec_id AS qid, q.label AS lq,
         |        n.vec_id AS nid, n.label AS ln, ${dCos("q.e", "n.e")} AS cos
         |      FROM c q JOIN c n USING (cell) WHERE q.vec_id <> n.vec_id),
         |r AS (SELECT qid, lq, ln,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
         |      FROM p),
         |v AS (SELECT qid, lq, ln, COUNT(*) AS votes FROM r WHERE rank <= 5
         |      GROUP BY 1, 2, 3),
         |mj AS (SELECT qid, lq, ln AS mj,
         |        row_number() OVER (PARTITION BY qid ORDER BY votes DESC, ln ASC) AS rr
         |      FROM v),
         |s AS (SELECT lq AS label, COUNT(*) AS n_screened,
         |        SUM(CASE WHEN lq <> mj THEN 1 ELSE 0 END) AS n_suspect
         |      FROM mj WHERE rr = 1 GROUP BY lq),
         |t AS (SELECT label, COUNT(*) AS n_points FROM c GROUP BY label)
         |SELECT t.label, t.n_points,
         |  COALESCE(s.n_screened, 0) AS n_screened,
         |  CAST(COALESCE(s.n_suspect, 0) AS BIGINT) AS n_suspect,
         |  floor(CAST(COALESCE(s.n_suspect, 0) AS DOUBLE)
         |    / CAST(COALESCE(s.n_screened, 1) AS DOUBLE) * 1000000.0 + 0.5)
         |    / 1000000.0 AS suspect_rate
         |FROM t LEFT JOIN s USING (label) ORDER BY t.label""".stripMargin))

  /** One Lloyd reassignment step over the label-seeded centroids — the IVF
    * training operator. Output = every vector's new cell, deterministic
    * (cosine rounded 1e-6, ties to lowest cell); the oracle recomputes the
    * identical step in SQL. */
  private val ivfKmeans = QueryDef(
    // level 1 of the shared memoized training chain — same computation as
    // before (one centroid pass + one reassignment), now reused by the
    // level-2 consumers instead of re-derived
    fn = (spark, dir) =>
      trainedIvfCells(spark, dir, 1)
        .select(col("vec_id"), col("label").as("new_cell"))
        .orderBy("vec_id"),
    oracle = Some(
      // one assignBlock step of the shared chain — a1 IS the reassignment
      // (cent2, the trailing centroid CTE, is unreferenced and pruned)
      s"""WITH ${dLloydCtes(1)}
         |SELECT vec_id, cell AS new_cell FROM a1
         |ORDER BY vec_id""".stripMargin))

  /** ANN quality gate: recall of the LSH and IVF paths against brute-force
    * ground truth on the same queries, with the recall CONTRACT as verified
    * booleans (the HLL-contract pattern): `lsh_recall_ok` asserts the
    * amplified 16×4-bit family stays at >= 0.8 top-5 recall (measured
    * 39/40, 37/40, 35/40 at sf0.001/0.01/0.1), and `ivf_recall_ok` asserts
    * >= 0.35 for the nprobe=2-of-10-cells probe over TRAINED cells (two
    * Lloyd iterations via [[trainedIvfCells]]). Untrained `label` cells
    * are direction-uncorrelated, pinning recall near the 0.2 scan
    * fraction (measured 0.25-0.33); training lifts it to 0.45/0.45/0.375
    * at sf0.001/0.01/0.1. The floor sits under the measured minimum —
    * 0.4 is NOT attainable on these near-uniform 64-dim embeddings (no
    * iteration count 1-3 clears 0.4 at every SF; they oscillate
    * 0.35-0.45, the coarse-quantization worst case) — so the boolean
    * catches a broken probe join, a training regression, or a centroid
    * regression, not a bar the index geometry cannot meet.
    */
  /** IVF index-quality report: per-cell mean centroid-separation margin
    * over the trained assignment ([[Similarity.silhouetteMargin]] — the
    * silhouette stand-in that prices recall risk per cell BEFORE paying
    * for a recall measurement: low-margin cells are where low-nprobe
    * probes lose neighbors first). Consumes the memoized level-2 Lloyd
    * chain and its literal centroids, so the marginal cost is ONE
    * map-side scan (both cosines are transforms over literal arrays) plus
    * a cell-domain aggregation. Margins are 6dp floor-rounded and summed
    * in DECIMAL(18,6); the oracle replays the identical training chain,
    * so the driver hash-gates train + margin + rollup end-to-end. */
  private val ivfSilhouette = QueryDef(
    fn = (spark, dir) => {
      val cells = trainedIvfCells(spark, dir, 2)
      val cents = trainedCentFrame(spark, dir, 3)
      Similarity.silhouetteMargin(cells, cents, "embedding", "label")
        .select(col("label"),
          (floor((col("cos_own") - col("cos_other")) * 1e6 + 0.5) / 1e6)
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("mg"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          (floor((sum(col("mg")).cast("double") / count(lit(1)))
            * 1e6 + 0.5) / 1e6).as("mean_margin"))
        .orderBy("label")
    },
    oracle = Some {
      val dotEC = dSumD("list_transform(range(1, len(e) + 1), i -> CAST(e[i] AS DOUBLE) * centroid[i])")
      val normE = s"sqrt(${dDot("e", "e")})"
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      s"""WITH ${dLloydCtes(2)},
         |sc AS (SELECT vec_id, a2.cell AS own, c.cell AS ocell,
         |    floor(($dotEC / ($normE * $normC)) * 1000000.0 + 0.5) / 1000000.0 AS cs
         |  FROM a2 CROSS JOIN cent3 c),
         |ow AS (SELECT vec_id, own, cs AS a FROM sc WHERE ocell = own),
         |ot AS (SELECT vec_id, MAX(cs) AS b FROM sc WHERE ocell <> own
         |       GROUP BY vec_id),
         |mg AS (SELECT ow.own AS label,
         |    CAST(floor((a - b) * 1000000.0 + 0.5) / 1000000.0
         |      AS DECIMAL(18,6)) AS mg
         |  FROM ow JOIN ot USING (vec_id))
         |SELECT label, COUNT(*) AS n,
         |  floor((CAST(SUM(mg) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS mean_margin
         |FROM mg GROUP BY label ORDER BY label""".stripMargin
    })

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, then drop every vector that has a LOWER-id near-duplicate
    * (cosine >= 0.2, the repo's near-dup threshold) within its OWN
    * cluster — cross-cluster pairs are never compared. Consumes the
    * memoized level-2 Lloyd chain ([[trainedIvfCells]]), so clustering
    * adds no marginal cost over the ANN family. Output: per-cell vector /
    * dropped / kept counts (cell-domain-sized).
    *
    * Scale shape: the pair join is an equi-join ON THE CELL KEY — the
    * quadratic form is confined within clusters, and in production k grows
    * with the corpus (k ∝ √n keeps cells near-constant), so per-cell work
    * is bounded and AQE-skew-splittable. The label-seeded fixture has only
    * 10 cells, so the input is id-sampled (vec_id % 2) exactly like the
    * other pair-space oracle twins; the unsampled deploy path is the same
    * plan with real k.
    */
  private val semDedup = QueryDef(
    fn = (spark, dir) => {
      val cells = trainedIvfCells(spark, dir, 2)
        .filter(col("vec_id") % 2 === 0)
      val a = cells.select(col("label").as("cell"),
        col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = cells.select(col("label").as("cell"),
        col("vec_id").as("id_b"), col("embedding").as("eb"))
      val dropped = a.join(b, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .filter(Similarity.cosine(col("ea"), col("eb")) >= 0.2)
        .select(col("cell"), col("id_b").as("vec_id")).distinct()
      cells.select(col("label").as("cell"), col("vec_id"))
        .join(dropped.withColumn("is_dup", lit(1)), Seq("cell", "vec_id"), "left_outer")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(coalesce(col("is_dup"), lit(0))).cast("bigint").as("n_dropped"))
        .withColumn("n_kept", col("n_vecs") - col("n_dropped"))
        .orderBy("cell")
    },
    oracle = Some {
      s"""WITH ${dLloydCtes(2)},
         |v AS (SELECT vec_id, e, cell FROM a2 WHERE vec_id % 2 = 0),
         |dp AS (SELECT DISTINCT y.cell AS cell, y.vec_id AS vec_id
         |       FROM v x JOIN v y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |       WHERE ${dCos("x.e", "y.e")} >= 0.2)
         |SELECT v.cell, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN dp.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(COUNT(*) - SUM(CASE WHEN dp.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM v LEFT JOIN dp ON v.cell = dp.cell AND v.vec_id = dp.vec_id
         |GROUP BY v.cell ORDER BY v.cell""".stripMargin
    })

  private val annRecall = QueryDef(
    fn = (spark, dir) => {
      // The three index builds are INDEPENDENT eager materializations
      // (exact truth, LSH buckets, IVF train+probe) — launch them as
      // concurrent Spark jobs so the scheduler fills otherwise-idle cores
      // during each build's stage tails (classic driver-side job-level
      // parallelism; on a cluster this is how a recall gate over several
      // indexes keeps executors busy). Each build is deterministic and
      // memoized under its own key, so concurrency changes wall time only.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fTruth = Future(annTruth(spark, dir, 5))
      val fLsh = Future(annLshTopK(spark, dir))
      val fIvf = Future(annIvfTopK(spark, dir))
      Similarity.hits(Await.result(fTruth, Duration.Inf),
          "lsh_hits" -> Await.result(fLsh, Duration.Inf),
          "ivf_hits" -> Await.result(fIvf, Duration.Inf))
        .select(col("n_truth"), col("lsh_hits"), col("ivf_hits"),
          (col("lsh_hits").cast("double") >= col("n_truth") * 0.8).as("lsh_recall_ok"),
          (col("ivf_hits").cast("double") >= col("n_truth") * 0.35).as("ivf_recall_ok"))
    },
    oracle = Some {
      val dotQC = dSumD("list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * centroid[i])")
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      val normQ = s"sqrt(${dDot("qv", "qv")})"
      s"""WITH ${dLloydCtes(2)},
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |tc AS (SELECT vec_id AS neighbor_id, e AS cv, cell FROM a2),
         |${dTruth(5)},
         |vb AS (SELECT vec_id, embedding AS e,
         |  ${dLshKeys("embedding", tables = 16, nBits = 4)} AS keys FROM embeddings),
         |vk AS (SELECT vec_id, unnest(keys) AS key FROM vb),
         |lcand AS (SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
         |          FROM vk x JOIN vk y USING (key)
         |          WHERE x.vec_id < 8 AND x.vec_id <> y.vec_id),
         |lsh AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY
         |        floor((${dDot("xe.e", "ye.e")} / (sqrt(${dDot("xe.e", "xe.e")}) * sqrt(${dDot("ye.e", "ye.e")}))) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |        neighbor_id ASC) AS r
         |    FROM lcand JOIN vb xe ON lcand.query_id = xe.vec_id
         |               JOIN vb ye ON lcand.neighbor_id = ye.vec_id) WHERE r <= 5),
         |qc AS (
         |  SELECT query_id, qv, cell FROM (
         |    SELECT query_id, qv, cell, row_number() OVER (PARTITION BY query_id ORDER BY
         |      floor(($dotQC / ($normQ * $normC)) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |      cell ASC) AS cr
         |    FROM q CROSS JOIN cent3) WHERE cr <= 2),
         |ivf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY ${dCos("qv", "cv")} DESC, neighbor_id ASC) AS r
         |    FROM tc JOIN qc USING (cell) WHERE query_id <> neighbor_id) WHERE r <= 5),
         |${dHits("lsh_hits" -> "lsh", "ivf_hits" -> "ivf")}
         |SELECT n_truth, lsh_hits, ivf_hits,
         |  (CAST(lsh_hits AS DOUBLE) >= n_truth * 0.8) AS lsh_recall_ok,
         |  (CAST(ivf_hits AS DOUBLE) >= n_truth * 0.35) AS ivf_recall_ok
         |FROM agg""".stripMargin
    })

  /** Multi-probe IVF sweep — the standard recall/cost knob of an IVF
    * index: probe the top-p nearest cells per query (p = 1, 2, 3, 5 of
    * 10) and report top-5 recall against the shared exact truth at
    * each depth. One row per p, so the query IS the recall-vs-
    * scan-fraction curve an index operator reads before picking nprobe
    * in production. Candidate sets nest as p grows (the cell ranking is
    * fixed), so hits are monotone non-decreasing in p — spec-pinned.
    *
    * Consumes the memoized level-2 Lloyd chain, its literal probe
    * centroids, and the memoized exact truth ([[annTruth]]), so the
    * marginal work is the p=1/3/5 probe joins (cell-keyed equi-joins;
    * at 100 TB the corpus is bucketed by cell and scan cost is
    * ~p/n_cells of brute force). Recall is emitted as the exact integer
    * ⌊hits·10⁶/n_truth⌋ plus a floor contract per depth (the
    * q_ann_recall pattern, integer cross-multiplied). MEASURED curve on
    * these near-uniform 64-dim embeddings (sf0.001/0.01/0.1):
    * p=1: 0.325/0.25/0.275 · p=2: 0.45/0.45/0.375 ·
    * p=3: 0.55/0.675/0.50 · p=5: 0.80/0.775/0.675. The round-13 order's
    * ≥ 0.6 floor is NOT attainable at p=3 on this corpus (the same
    * coarse-quantization worst case documented at q_ann_recall — label-
    * seeded Lloyd on direction-near-uniform vectors), so the sweep
    * extends to p=5, where ≥ 0.6 holds at every SF with margin; floors
    * 0.20/0.35/0.45/0.60 sit with REAL margin under the measured
    * per-depth minima 0.25/0.375/0.50/0.675 (the p=1 floor was 0.25 —
    * exactly the measured minimum, zero margin — lowered to 0.20 per
    * the round-13 ADVICE so a fixture or tie-break perturbation can't
    * flip recall_ok). */
  private val ivfMultiprobe = QueryDef(
    fn = (spark, dir) => {
      val truth = annTruth(spark, dir, 5)
      // ONE memoized cell ranking at the max depth + ONE memoized corpus
      // join + exact-cosine pass shared by all four sweep points (and by
      // q_ivf_rerank): depth p is the crank<=p restriction — candidate
      // sets nest, so results are bit-identical to the per-depth ivfTopK
      // calls this replaced. A per-pass eager checkpoint was measured
      // SLOWER locally (the materialization barrier outweighs the 3
      // redundant scoring chains it removes at sf0.1); the session memo
      // keeps the one-build shape without the per-pass barrier.
      val scored = ivfScored5(spark, dir)
      Seq(1, 2, 3, 5).map { p =>
        Similarity.hits(truth, "hits" -> Similarity.ivfTopKAt(scored, k = 5, nprobe = p))
          .select(lit(p.toLong).as("nprobe"), col("n_truth"), col("hits"))
      }.reduce(_ union _)
        .withColumn("recall_e6", Similarity.recallE6())
        // integer cross-multiplied floor contract: 0.20/0.35/0.45/0.60
        // (under the measured per-depth minima; see the scaladoc curve)
        .withColumn("recall_ok",
          col("hits") * 100 >= col("n_truth")
            * when(col("nprobe") === 1, 20)
              .when(col("nprobe") === 2, 35)
              .when(col("nprobe") === 3, 45)
              .otherwise(60))
        .orderBy("nprobe")
    },
    oracle = Some {
      val dotQC = dSumD("list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * centroid[i])")
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      val normQ = s"sqrt(${dDot("qv", "qv")})"
      s"""WITH ${dLloydCtes(2)},
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |${dTruth(5)},
         |tc AS (SELECT vec_id AS neighbor_id, e AS cv, cell FROM a2),
         |qc AS (
         |  SELECT query_id, qv, cell, row_number() OVER (PARTITION BY query_id ORDER BY
         |      floor(($dotQC / ($normQ * $normC)) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |      cell ASC) AS cr
         |  FROM q CROSS JOIN cent3),
         |ps AS (SELECT unnest([1, 2, 3, 5]) AS nprobe),
         |probe AS (SELECT ps.nprobe, qc.query_id, qc.qv, qc.cell
         |          FROM qc JOIN ps ON qc.cr <= ps.nprobe),
         |ivf AS (
         |  SELECT nprobe, query_id, neighbor_id FROM (
         |    SELECT probe.nprobe, probe.query_id, tc.neighbor_id,
         |      row_number() OVER (PARTITION BY probe.nprobe, probe.query_id
         |        ORDER BY ${dCos("qv", "cv")} DESC, neighbor_id ASC) AS r
         |    FROM tc JOIN probe USING (cell)
         |    WHERE probe.query_id <> tc.neighbor_id) WHERE r <= 5),
         |${dSweepHits("ps", "nprobe", "ivf")}
         |SELECT CAST(nprobe AS BIGINT) AS nprobe, n_truth, hits,
         |  CAST(hits * 1000000 // n_truth AS BIGINT) AS recall_e6,
         |  hits * 100 >= n_truth
         |    * (CASE nprobe WHEN 1 THEN 20 WHEN 2 THEN 35 WHEN 3 THEN 45
         |       ELSE 60 END)
         |    AS recall_ok
         |FROM agg ORDER BY nprobe""".stripMargin
    })

  /** Two-stage ANN retrieval readout (round-14 verdict task 4): probe p
    * cells map-side, re-rank the probed candidate set with EXACT cosine,
    * and report recall@10 against brute force TOGETHER WITH the scanned
    * fraction — the two numbers a production retrieval operator trades
    * against each other (q_ivf_multiprobe sweeps recall only). One row
    * per probe depth p ∈ {2, 3, 5}: n_truth = 8 queries × 10, hits,
    * recall_e6, scanned_e6 = ⌊Σ probed-cell sizes · 10⁶ / (n_q · n)⌋
    * (rows READ by the candidate stage, self rows included — the I/O
    * measure), and two integer cross-multiplied contracts. Floors sit
    * strictly under the measured minima across the 3 SFs
    * (recall@10 at sf0.001/0.01/0.1: p=2 0.350/0.375/0.363,
    * p=3 0.488/0.563/0.475, p=5 0.750/0.725/0.688 → floors
    * 0.30/0.40/0.60); the scan ceiling rides the near-uniform 10-cell
    * geometry (measured scanned fraction ≈ p/10 + ~0.002 at every SF →
    * ceiling 10·scanned ≤ p+2, ~2-cell margin).
    *
    * Scale shape: the probe is a broadcast-literal centroid argmax per
    * query (map-side), candidates come from the cell equi-join (at
    * 100 TB the corpus is BUCKETED by cell, so the candidate stage reads
    * ~p/n_cells of it), and the exact re-rank touches candidates only.
    * Consumes the memoized Lloyd chain + the memoized exact top-10 truth
    * ([[annTruth]]). */
  private val ivfRerank = QueryDef(
    fn = (spark, dir) => {
      val cells = trainedIvfCells(spark, dir, 2)
      val truth = annTruth(spark, dir)
      val sizes = cells.groupBy(col("label").as("cell"))
        .agg(count(lit(1)).as("cell_n"))
      val nTotal = cells.agg(count(lit(1)).as("n_corpus"))
      // The memoized max-depth cell ranking feeds BOTH the candidate
      // scoring (via the memoized scored frame, shared with
      // q_ivf_multiprobe) and the three per-depth scan-cost readouts;
      // depth p = crank<=p (candidate sets nest), so results are
      // bit-identical to the per-depth ivfTopK/probeCells calls this
      // replaced while the corpus join + exact-cosine pass runs once
      // per session, not once per sweep point per pass.
      val qCells = ivfProbe5(spark, dir)
      val scored = ivfScored5(spark, dir)
      val perP = Seq(2, 3, 5).map { p =>
        val rec = Similarity.hits(truth,
          "hits" -> Similarity.ivfTopKAt(scored, k = 10, nprobe = p))
        val scan = qCells.filter(col("crank") <= p)
          .join(broadcast(sizes), Seq("cell"))
          .agg(sum(col("cell_n")).as("n_scanned"),
            countDistinct(col("query_id")).as("n_q"))
        rec.crossJoin(broadcast(scan)).crossJoin(broadcast(nTotal))
          .select(lit(p.toLong).as("nprobe"), col("n_truth"), col("hits"),
            col("n_scanned"), col("n_q"), col("n_corpus"))
      }
      perP.reduce(_ union _)
        .withColumn("recall_e6", Similarity.recallE6())
        .withColumn("scanned_e6",
          expr("(n_scanned * CAST(1000000 AS BIGINT)) div (n_q * n_corpus)"))
        .withColumn("recall_ok",
          col("hits") * 100 >= col("n_truth")
            * when(col("nprobe") === 2, 30)
              .when(col("nprobe") === 3, 40)
              .otherwise(60))
        .withColumn("scan_ok",
          col("n_scanned") * 10 <= col("n_q") * col("n_corpus")
            * (col("nprobe") + 2))
        .select(col("nprobe"), col("n_truth"), col("hits"),
          col("recall_e6"), col("scanned_e6"), col("recall_ok"),
          col("scan_ok"))
        .orderBy("nprobe")
    },
    oracle = Some {
      val dotQC = dSumD("list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * centroid[i])")
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      val normQ = s"sqrt(${dDot("qv", "qv")})"
      s"""WITH ${dLloydCtes(2)},
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |${dTruth(10)},
         |tc AS (SELECT vec_id AS neighbor_id, e AS cv, cell FROM a2),
         |sz AS (SELECT cell, COUNT(*) AS cell_n FROM a2 GROUP BY cell),
         |nt AS (SELECT COUNT(*) AS n_corpus FROM a2),
         |qc AS (
         |  SELECT query_id, qv, cell, row_number() OVER (PARTITION BY query_id ORDER BY
         |      floor(($dotQC / ($normQ * $normC)) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |      cell ASC) AS cr
         |  FROM q CROSS JOIN cent3),
         |ps AS (SELECT unnest([2, 3, 5]) AS nprobe),
         |probe AS (SELECT ps.nprobe, qc.query_id, qc.qv, qc.cell
         |          FROM qc JOIN ps ON qc.cr <= ps.nprobe),
         |scan AS (SELECT nprobe, CAST(SUM(sz.cell_n) AS BIGINT) AS n_scanned,
         |    CAST(COUNT(DISTINCT probe.query_id) AS BIGINT) AS n_q
         |  FROM probe JOIN sz USING (cell) GROUP BY nprobe),
         |ivf AS (
         |  SELECT nprobe, query_id, neighbor_id FROM (
         |    SELECT probe.nprobe, probe.query_id, tc.neighbor_id,
         |      row_number() OVER (PARTITION BY probe.nprobe, probe.query_id
         |        ORDER BY ${dCos("qv", "cv")} DESC, neighbor_id ASC) AS r
         |    FROM tc JOIN probe USING (cell)
         |    WHERE probe.query_id <> tc.neighbor_id) WHERE r <= 10),
         |${dSweepHits("ps", "nprobe", "ivf")}
         |SELECT CAST(agg.nprobe AS BIGINT) AS nprobe, n_truth, hits,
         |  CAST(hits * 1000000 // n_truth AS BIGINT) AS recall_e6,
         |  CAST((n_scanned * 1000000) // (n_q * nt.n_corpus) AS BIGINT)
         |    AS scanned_e6,
         |  hits * 100 >= n_truth
         |    * (CASE agg.nprobe WHEN 2 THEN 30 WHEN 3 THEN 40 ELSE 60 END)
         |    AS recall_ok,
         |  n_scanned * 10 <= n_q * nt.n_corpus * (agg.nprobe + 2) AS scan_ok
         |FROM agg JOIN scan ON agg.nprobe = scan.nprobe CROSS JOIN nt
         |ORDER BY agg.nprobe""".stripMargin
    })

  /** PQ codebook per (session, dir) — the trained sub-centroid literals
    * are m × 16 × subDim doubles (metadata scale); training runs once
    * across the PQ family's consumers. */
  private[queries] def pqCodebook(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Int, Int, Seq[Double])] =
    SessionCache.memo(spark, dir, "pq-cb")(
      Similarity.pqTrainCodebook(trainedIvfCells(spark, dir, 2),
        "vec_id", "embedding", 8, 8))

  /** Memoized PQ code table (vec_id, label = trained cell, codes
    * array<int>[8]) — shared by the ADC re-rank query and the persisted
    * PQ store. */
  private[queries] def pqCodesMemo(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "pq_codes") {
      val cb = pqCodebook(spark, dir)
      trainedIvfCells(spark, dir, 2)
        .select(col("vec_id"), col("label"),
          Similarity.pqCodesExpr(col("embedding"), cb, 8, 8).as("codes"))
        .localCheckpoint(true)
    }

  /** Shared oracle CTE chain replaying PQ training + coding over the
    * trained cells (a2): seed-group means → cb1 → floored-L2² Lloyd
    * reassignment (pqa1) → cb2 → final codes. Mirrors
    * [[graft.ops.Similarity.pqTrainCodebook]]/[[Similarity.pqCodesExpr]]
    * literal-for-literal; consumed by q_ivf_pq_rerank and
    * q_ivf_pq_persist. */
  private[queries] def pqOracleCtes: String = pqOracleCtesFrom(
    "SELECT vec_id, generate_subscripts(e, 1) AS pos, unnest(e) AS v FROM a2")

  /** [[pqOracleCtes]] generalized over its (vec_id, pos, v) source and
    * subspace width — `pqOracleCtes` trains on the raw embedding values
    * at subDim = 8; the residual query passes [[pqResidualSrc]] and
    * subDim = 4 so the SAME chain trains m = 64/subDim codebooks on
    * x − centroid(cell) values. */
  private def pqOracleCtesFrom(src: String, subDim: Int = 8): String = {
    def dL2(x: String, c: String) =
      s"floor((${dSumD(s"list_transform(range(1, len($x) + 1), i -> (CAST($x[i] AS DOUBLE) - $c[i]) * (CAST($x[i] AS DOUBLE) - $c[i]))")}) * 1000000.0 + 0.5) / 1000000.0"
    s"""pqsub AS (SELECT vec_id, CAST((pos - 1) // $subDim AS INTEGER) AS s,
       |    (pos - 1) % $subDim AS spos, v
       |  FROM ($src)),
       |pm1 AS (SELECT s, vec_id % 16 AS j, spos,
       |    CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS m
       |  FROM pqsub GROUP BY s, vec_id % 16, spos),
       |cb1 AS (SELECT s, j, list(m ORDER BY spos) AS sc FROM pm1 GROUP BY s, j),
       |sv AS (SELECT vec_id, s, list(v ORDER BY spos) AS x
       |       FROM pqsub GROUP BY vec_id, s),
       |pqa1 AS (SELECT vec_id, s, j FROM (
       |    SELECT sv.vec_id, sv.s, cb1.j, row_number() OVER (
       |      PARTITION BY sv.vec_id, sv.s
       |      ORDER BY ${dL2("sv.x", "cb1.sc")} ASC, cb1.j ASC) AS r
       |    FROM sv JOIN cb1 USING (s)) WHERE r = 1),
       |pm2 AS (SELECT pqsub.s, pqa1.j, pqsub.spos,
       |    CAST(SUM(CAST(pqsub.v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS m
       |  FROM pqsub JOIN pqa1 ON pqsub.vec_id = pqa1.vec_id AND pqsub.s = pqa1.s
       |  GROUP BY pqsub.s, pqa1.j, pqsub.spos),
       |cb2 AS (SELECT s, j, list(m ORDER BY spos) AS sc FROM pm2 GROUP BY s, j),
       |codes AS (SELECT vec_id, s, j FROM (
       |    SELECT sv.vec_id, sv.s, cb2.j, row_number() OVER (
       |      PARTITION BY sv.vec_id, sv.s
       |      ORDER BY ${dL2("sv.x", "cb2.sc")} ASC, cb2.j ASC) AS r
       |    FROM sv JOIN cb2 USING (s)) WHERE r = 1)""".stripMargin
  }

  /** The residual (vec_id, pos, v) source for [[pqOracleCtesFrom]]:
    * v = CAST(x AS DOUBLE) − centroid(cell)[pos] — the exact IEEE
    * per-dimension subtraction [[graft.ops.Similarity.pqResidual]]
    * computes. Requires dLloydCtes(2)'s a2 and cent3. */
  private def pqResidualSrc: String =
    """SELECT t.vec_id, t.pos, CAST(t.v AS DOUBLE) - cent3.centroid[t.pos] AS v
      |FROM (SELECT vec_id, cell, generate_subscripts(e, 1) AS pos,
      |        unnest(e) AS v FROM a2) t
      |JOIN cent3 USING (cell)""".stripMargin

  /** LUT-order ADC oracle tables, replaying
    * [[graft.ops.Similarity.pqAdcCosineLut]]'s grouping term-for-term:
    * `pqn` = per-(s, j) sub-centroid squared norm (sequential
    * within-subspace fold), `qlut` = per-(query, s, j) partial dot of the
    * query's 8-dim slice with the sub-centroid (same fold). Consumers sum
    * each candidate's m partials with a sequential s-ascending fold —
    * dSumD over `list(... ORDER BY s)` — NOT the flat 64-term fold of the
    * reconstruction form, so the SQL stays bit-identical to the Spark
    * side. Requires [[pqOracleCtes]]' cb2 and a prior `q (query_id, qv)`
    * CTE. */
  private[queries] def pqLutCtes: String =
    s"""pqn AS (SELECT s, j,
       |    ${dSumD("list_transform(range(1, len(sc) + 1), i -> sc[i] * sc[i])")} AS nsq
       |  FROM cb2),
       |qlut AS (SELECT q.query_id, cb2.s, cb2.j,
       |    ${dSumD("list_transform(range(1, 9), i -> CAST(qv[cb2.s * 8 + i] AS DOUBLE) * sc[i])")} AS pd
       |  FROM q CROSS JOIN cb2)""".stripMargin


  /** Memoized LUT-order ADC scores of the max-depth (nprobe = 5) probe
    * candidate set — the PQ sibling of [[ivfScored5]]: the m × 16
    * partial-dot LUT expression and the candidate ADC pass (two LARGE
    * literal expression trees — codebook literals expand per
    * construction) build once per session; q_ivf_pq_rerank's sweep
    * depths are `crank <= p` restrictions re-ranked per pass
    * (candidate sets nest — a codes row has exactly one cell). */
  private def pqAdc5(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "pq_adc5") {
      val (m, subDim) = (8, 8)
      val cb = pqCodebook(spark, dir)
      val codes = pqCodesMemo(spark, dir)
      val qs = trainedIvfCells(spark, dir, 0).filter(isProbe())
      // LUT-order ADC (round-16 verdict task 2): the m × 16 partial-dot
      // table and the query norm are computed ONCE per probed row
      // (n_q × p rows), so each candidate costs m lookups + adds
      // instead of a 64-dim x̂ reconstruction + dot.
      val probed = Similarity.probeCellsRanked(qs,
          trainedCentFrame(spark, dir, 3),
          "vec_id", "embedding", "label", nprobe = 5)
        .withColumn("lut", Similarity.pqQueryLut(col("qv"), cb, m, subDim))
        .withColumn("qnorm", Similarity.norm(col("qv")))
      codes
        .join(probed, codes("label") === probed("cell"))
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("adc", Similarity.pqAdcCosineLut(
          col("lut"), col("qnorm"), col("codes"), cb, m, subDim))
        .select(col("query_id"), col("qv"), col("vec_id"), col("adc"),
          col("crank"))
        .localCheckpoint(true)
    }

  /** IVF-PQ compressed-scan retrieval (round-15 verdict task 4): the
    * production 100 TB embedding-store design point — the in-cell
    * candidate scan reads PQ CODES (m = 8 subspaces × 16 centroids →
    * 8 code bytes/vector, 32× smaller than the 64 × float32 raw row),
    * scores candidates by ADC cosine against the reconstruction
    * x̂ = concat(codebook[s][code_s]) from the BROADCAST literal
    * codebook, exact-re-ranks only the top-30 ADC survivors with true
    * cosine (raw-vector random access, candidate-sized I/O), and
    * reports recall@10 vs the memoized exact truth per probe depth
    * p ∈ {3, 5} plus the compression ratio. Codebook training is the
    * Lloyd machinery on sub-vector slices: 16 seed clusters (id % 16)
    * → DECIMAL(20,10)-exact means → one floored-L2² reassignment →
    * final means ([[Similarity.pqTrainCodebook]]); the oracle replays
    * training, coding, ADC, and re-rank row-level, so the driver
    * hash-gates the whole compressed pipeline.
    *
    * MEASURED recall@10 (sf0.001/0.01/0.1): p=3 0.475/0.538/0.375,
    * p=5 0.675/0.675/0.425 → floors 0.30/0.35 strictly under the
    * per-depth minima 0.375/0.425 (the q_ivf_rerank margin
    * discipline; an ADC top-30 cut was measured first and lost ~0.2
    * recall — the re-rank budget is 100). ADC loses recall to the
    * raw-vector re-rank at the same p (p=5 0.688 → 0.425 at sf0.1:
    * 16-centroid sub-codebooks on direction-near-uniform 64-dim
    * vectors are the PQ distortion worst case) — that loss, against a
    * 32× smaller candidate scan, is exactly the trade the query
    * quantifies.
    *
    * Scale shape: training aggregates are (m·16·subDim)-grid-sized;
    * codes are a one-pass map-side projection (codegen'd literal
    * argmin); the candidate stage is the same bucketed cell equi-join
    * as q_ivf_rerank but over the 8-byte code rows; nothing corpus-
    * sized shuffles. */
  private val ivfPqRerank = QueryDef(
    fn = (spark, dir) => {
      val (m, cTop) = (8, 100)
      val cells = trainedIvfCells(spark, dir, 2)
      val codes = pqCodesMemo(spark, dir)
      val truth = annTruth(spark, dir)
      val raw = cells.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"))
      // corpus size from the CHECKPOINTED codes frame (one row per
      // vector) — no extra embeddings scan just to count
      val nTotal = codes.agg(count(lit(1)).as("n_corpus"))
      Seq(3, 5).map { p =>
        // depth p = crank<=p restriction of the memoized max-depth ADC
        // frame (candidate sets nest; ADC values and tie-breaks are the
        // per-depth chain's, computed once per session — see pqAdc5)
        Similarity.hits(truth, "hits" -> Similarity.rerankExact(
            pqAdc5(spark, dir).filter(col("crank") <= p),
            "adc", "vec_id", cTop, raw, 10))
          .select(lit(p.toLong).as("nprobe"), col("n_truth"), col("hits"))
      }.reduce(_ union _)
        .crossJoin(broadcast(nTotal))
        .withColumn("recall_e6", Similarity.recallE6())
        .withColumn("recall_ok",
          col("hits") * 100 >= col("n_truth")
            * when(col("nprobe") === 3, 30).otherwise(35))
        .withColumn("bytes_raw", col("n_corpus") * lit(256L))
        .withColumn("bytes_pq", col("n_corpus") * lit(m.toLong))
        .withColumn("compression_x", col("bytes_raw") / col("bytes_pq"))
        .select(col("nprobe"), col("n_truth"), col("hits"),
          col("recall_e6"), col("recall_ok"), col("n_corpus"),
          col("bytes_raw"), col("bytes_pq"),
          col("compression_x").cast("long").as("compression_x"))
        .orderBy("nprobe")
    },
    oracle = Some {
      val dotQC = dSumD("list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * centroid[i])")
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      val normQ = s"sqrt(${dDot("qv", "qv")})"
      s"""WITH ${dLloydCtes(2)},
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |${dTruth(10)},
         |$pqOracleCtes,
         |$pqLutCtes,
         |tcell AS (SELECT vec_id, cell FROM a2),
         |nt AS (SELECT COUNT(*) AS n_corpus FROM a2),
         |qc AS (
         |  SELECT query_id, qv, cell, row_number() OVER (PARTITION BY query_id ORDER BY
         |      floor(($dotQC / ($normQ * $normC)) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |      cell ASC) AS cr
         |  FROM q CROSS JOIN cent3),
         |ps AS (SELECT unnest([3, 5]) AS nprobe),
         |probe AS (SELECT ps.nprobe, qc.query_id, qc.qv, qc.cell
         |          FROM qc JOIN ps ON qc.cr <= ps.nprobe),
         |cadc AS (SELECT probe.nprobe, probe.query_id, tcell.vec_id AS neighbor_id,
         |    ${dSumD("list(qlut.pd ORDER BY codes.s)")} AS dotq,
         |    ${dSumD("list(pqn.nsq ORDER BY codes.s)")} AS nsq
         |  FROM tcell JOIN probe USING (cell)
         |    JOIN codes ON codes.vec_id = tcell.vec_id
         |    JOIN qlut ON qlut.query_id = probe.query_id
         |      AND qlut.s = codes.s AND qlut.j = codes.j
         |    JOIN pqn ON pqn.s = codes.s AND pqn.j = codes.j
         |  WHERE probe.query_id <> tcell.vec_id
         |  GROUP BY probe.nprobe, probe.query_id, tcell.vec_id),
         |adc AS (SELECT nprobe, query_id, qv, neighbor_id FROM (
         |    SELECT cadc.nprobe, cadc.query_id, q.qv, cadc.neighbor_id,
         |      row_number() OVER (PARTITION BY cadc.nprobe, cadc.query_id
         |        ORDER BY floor((cadc.dotq / (sqrt(${dDot("q.qv", "q.qv")})
         |          * sqrt(cadc.nsq))) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |        cadc.neighbor_id ASC) AS ar
         |    FROM cadc JOIN q ON q.query_id = cadc.query_id) WHERE ar <= 100),
         |rr AS (SELECT nprobe, query_id, neighbor_id FROM (
         |    SELECT adc.nprobe, adc.query_id, adc.neighbor_id,
         |      row_number() OVER (PARTITION BY adc.nprobe, adc.query_id
         |        ORDER BY ${dCos("adc.qv", "c.cv")} DESC, adc.neighbor_id ASC) AS r
         |    FROM adc JOIN c USING (neighbor_id)) WHERE r <= 10),
         |${dSweepHits("ps", "nprobe", "rr")}
         |SELECT CAST(nprobe AS BIGINT) AS nprobe, n_truth, hits,
         |  CAST(hits * 1000000 // n_truth AS BIGINT) AS recall_e6,
         |  hits * 100 >= n_truth * (CASE nprobe WHEN 3 THEN 30 ELSE 35 END)
         |    AS recall_ok,
         |  nt.n_corpus,
         |  nt.n_corpus * 256 AS bytes_raw,
         |  nt.n_corpus * 8 AS bytes_pq,
         |  (nt.n_corpus * 256) // (nt.n_corpus * 8) AS compression_x
         |FROM agg CROSS JOIN nt ORDER BY nprobe""".stripMargin
    })

  /** Path of the persisted PQ index's cell-partitioned code table
    * (`codes/`, with the codebook sidecar in `cb/` beside it), written
    * once per (session, dir) under its own scratch directory
    * ([[Scratch.scratchPath]]). */
  private def persistedPqPath(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SessionCache.memo(spark, dir, "pq-store") {
      val base = Scratch.scratchPath(spark, "pqstore", dir)
      val path = s"$base/codes"
      Store.pqCodes.write(
        pqCodesMemo(spark, dir)
          .select(col("vec_id"), col("label").as("cell"), col("codes")),
        path, Store.byCell("vec_id"))
      val spark2 = spark
      import spark2.implicits._
      Store.pqCodebook.write(pqCodebook(spark, dir).toDF("s", "j", "centroid"),
        s"$base/cb", Store.clustered("s", "j"))
      path
    }

  /** Persisted-PQ-index round trip, hash-gated (the q_ivf_state_persist
    * convention for the compressed ANN store): train codebooks, code
    * the corpus, WRITE the code table cell-partitioned plus the
    * codebook sidecar, READ the codes back, and emit them unnested.
    * The oracle recomputes training + coding straight from the
    * embeddings table, so the driver's gate proves the persisted
    * 8-byte-per-vector form is value-identical to a rebuild after a
    * disk round trip. IndexStoreSpec additionally proves the codebook's
    * double coordinates survive parquet bit-exactly and that a
    * probed-cell read partition-prunes (ADC candidate I/O =
    * nprobe/n_cells of the store).
    *
    * Scale shape: the store IS the 100 TB deployment artifact — codes
    * are written once at index build, partitioned by cell so the
    * multi-probe ADC scan reads p of k partitions; the codebook is
    * m × 16 rows of metadata. */
  private val ivfPqPersist = QueryDef(
    fn = (spark, dir) => {
      val path = persistedPqPath(spark, dir)
      Store.pqCodes.read(spark, path)
        .select(col("vec_id"), col("cell"),
          posexplode(col("codes")).as(Seq("s", "code")))
        .orderBy("vec_id", "s")
    },
    oracle = Some(
      s"""WITH ${dLloydCtes(2)},
         |$pqOracleCtes
         |SELECT codes.vec_id, CAST(a2.cell AS INTEGER) AS cell,
         |  CAST(codes.s AS INTEGER) AS s, CAST(codes.j AS INTEGER) AS code
         |FROM codes JOIN a2 USING (vec_id)
         |ORDER BY vec_id, s""".stripMargin))

  /** The store-backed top-10 of [[ivfPqProbe]] and [[ivfPqTombstone]]:
    * p = 3 probed cells per query, ADC scores for the probed cells' code
    * rows that `keep` passes, exact cosine over the ADC top-100. The
    * probe stage — the ranked probes with their ADC lookup tables, and
    * the union of probed cells that prunes the store read — is built
    * once per (session, dir), so a warm construction launches no job. */
  private def pqStoreTopK(spark: org.apache.spark.sql.SparkSession,
      dir: String)(
      keep: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val (m, subDim, cTop) = (8, 8, 100)
    val cb = pqCodebook(spark, dir)
    val (probed, probedCells) = SessionCache.memo(spark, dir, "pq-probes") {
      // tiny (n_queries × p) frame: feeds the pruned-cell collect AND
      // the candidate join; checkpointed so the probe ranking runs once.
      // The ADC lookup table + query norm materialize INTO the
      // checkpoint (m × 16 doubles per probed row), so candidate scoring
      // is m lookups + adds per code row (round-16 verdict task 2).
      val probed = Similarity.probeCells(
          trainedIvfCells(spark, dir, 0).filter(isProbe()),
          trainedCentFrame(spark, dir, 3),
          "vec_id", "embedding", "label", nprobe = 3)
        .withColumn("lut", Similarity.pqQueryLut(col("qv"), cb, m, subDim))
        .withColumn("qnorm", Similarity.norm(col("qv")))
        .localCheckpoint(true)
      (probed, probed.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted)
    }
    val codes = keep(Store.pqCodes.read(spark, persistedPqPath(spark, dir))
      .filter(col("cell").isin(probedCells: _*)))
    val adc = codes.join(probed, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adc", Similarity.pqAdcCosineLut(
        col("lut"), col("qnorm"), col("codes"), cb, m, subDim))
    val raw = trainedIvfCells(spark, dir, 2)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    Similarity.rerankExact(adc, "adc", "vec_id", cTop, raw, 10)
      .select(col("query_id"), col("neighbor_id"), col("cos"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** ADC retrieval FROM THE PERSISTED STORE with partition-pruned
    * probes — q_ivf_pq_rerank's production read path: the probe stage
    * picks p = 3 cells per query map-side, the UNION of probed cells
    * (≤ n_cells values, metadata) prunes the cell-partitioned code
    * store (a [[Store.pqCodes]] read filtered on `cell` — the `isin` lands
    * in PartitionFilters, so candidate I/O is |∪cells|/n_cells of the
    * store), ADC scores the 8-byte code rows against the broadcast
    * codebook, and exact cosine re-ranks the ADC top-100 into each
    * query's top-10. Emits the ranked neighbor rows themselves (the
    * annIvf convention), so the driver hash-gates the store-backed
    * retrieval end to end — training, coding, the disk round trip,
    * probing, ADC, and re-rank. */
  private val ivfPqProbe = QueryDef(
    fn = (spark, dir) => pqStoreTopK(spark, dir)(identity),
    oracle = Some {
      val dotQC = dSumD("list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * centroid[i])")
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      val normQ = s"sqrt(${dDot("qv", "qv")})"
      s"""WITH ${dLloydCtes(2)},
         |$pqOracleCtes,
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |$pqLutCtes,
         |tcell AS (SELECT vec_id, cell FROM a2),
         |qc AS (
         |  SELECT query_id, qv, cell, row_number() OVER (PARTITION BY query_id ORDER BY
         |      floor(($dotQC / ($normQ * $normC)) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |      cell ASC) AS cr
         |  FROM q CROSS JOIN cent3),
         |probe AS (SELECT query_id, qv, cell FROM qc WHERE cr <= 3),
         |cadc AS (SELECT probe.query_id, tcell.vec_id AS neighbor_id,
         |    ${dSumD("list(qlut.pd ORDER BY codes.s)")} AS dotq,
         |    ${dSumD("list(pqn.nsq ORDER BY codes.s)")} AS nsq
         |  FROM tcell JOIN probe USING (cell)
         |    JOIN codes ON codes.vec_id = tcell.vec_id
         |    JOIN qlut ON qlut.query_id = probe.query_id
         |      AND qlut.s = codes.s AND qlut.j = codes.j
         |    JOIN pqn ON pqn.s = codes.s AND pqn.j = codes.j
         |  WHERE probe.query_id <> tcell.vec_id
         |  GROUP BY probe.query_id, tcell.vec_id),
         |adc AS (SELECT query_id, qv, neighbor_id FROM (
         |    SELECT cadc.query_id, q.qv, cadc.neighbor_id,
         |      row_number() OVER (PARTITION BY cadc.query_id
         |        ORDER BY floor((cadc.dotq / (sqrt(${dDot("q.qv", "q.qv")})
         |          * sqrt(cadc.nsq))) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |        cadc.neighbor_id ASC) AS ar
         |    FROM cadc JOIN q ON q.query_id = cadc.query_id) WHERE ar <= 100)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT adc.query_id, adc.neighbor_id, ${dCos("adc.qv", "c.cv")} AS cos,
         |    row_number() OVER (PARTITION BY adc.query_id
         |      ORDER BY ${dCos("adc.qv", "c.cv")} DESC, adc.neighbor_id ASC) AS rank
         |  FROM adc JOIN c USING (neighbor_id))
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    })

  /** Tombstone-aware retrieval from the persisted PQ store — the DELETE
    * half of index maintenance (q_ivf_upsert covers adds): an ANN store
    * cannot rewrite cell partitions per delete, so deletes land as a
    * TOMBSTONE SET and the read path must exclude them. This query runs
    * q_ivf_pq_probe's exact store-backed pipeline with a deterministic
    * tombstone set (vec_id % 31 = 5, ~3% of the corpus) anti-joined at
    * the CANDIDATE stage — on the 8-byte code rows inside the probed
    * cells, so the filter costs candidate-sized work with a broadcast
    * id set (bounded by the delete rate), never a store rewrite or a
    * post-re-rank patch (filtering AFTER top-k would under-fill k, the
    * q_ann_filtered post-filter failure). The oracle replays the chain
    * with deleted ids excluded from the candidate set; a deleted id
    * appearing in any emitted top-10 would hash-break the row, so the
    * gate proves the exclusion end to end. Compaction (rewriting cells
    * to drop tombstoned rows once the set grows) is the
    * q_compaction_plan discipline applied to this store. */
  private val ivfPqTombstone = QueryDef(
    fn = (spark, dir) => {
      val tombstones = trainedIvfCells(spark, dir, 0)
        .filter(col("vec_id") % 31 === 5)
        .select(col("vec_id"))
      pqStoreTopK(spark, dir)(
        _.join(broadcast(tombstones), Seq("vec_id"), "left_anti"))
    },
    oracle = Some {
      val dotQC = dSumD("list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * centroid[i])")
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      val normQ = s"sqrt(${dDot("qv", "qv")})"
      s"""WITH ${dLloydCtes(2)},
         |$pqOracleCtes,
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |$pqLutCtes,
         |tcell AS (SELECT vec_id, cell FROM a2 WHERE vec_id % 31 <> 5),
         |qc AS (
         |  SELECT query_id, qv, cell, row_number() OVER (PARTITION BY query_id ORDER BY
         |      floor(($dotQC / ($normQ * $normC)) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |      cell ASC) AS cr
         |  FROM q CROSS JOIN cent3),
         |probe AS (SELECT query_id, qv, cell FROM qc WHERE cr <= 3),
         |cadc AS (SELECT probe.query_id, tcell.vec_id AS neighbor_id,
         |    ${dSumD("list(qlut.pd ORDER BY codes.s)")} AS dotq,
         |    ${dSumD("list(pqn.nsq ORDER BY codes.s)")} AS nsq
         |  FROM tcell JOIN probe USING (cell)
         |    JOIN codes ON codes.vec_id = tcell.vec_id
         |    JOIN qlut ON qlut.query_id = probe.query_id
         |      AND qlut.s = codes.s AND qlut.j = codes.j
         |    JOIN pqn ON pqn.s = codes.s AND pqn.j = codes.j
         |  WHERE probe.query_id <> tcell.vec_id
         |  GROUP BY probe.query_id, tcell.vec_id),
         |adc AS (SELECT query_id, qv, neighbor_id FROM (
         |    SELECT cadc.query_id, q.qv, cadc.neighbor_id,
         |      row_number() OVER (PARTITION BY cadc.query_id
         |        ORDER BY floor((cadc.dotq / (sqrt(${dDot("q.qv", "q.qv")})
         |          * sqrt(cadc.nsq))) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |        cadc.neighbor_id ASC) AS ar
         |    FROM cadc JOIN q ON q.query_id = cadc.query_id) WHERE ar <= 100)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT adc.query_id, adc.neighbor_id, ${dCos("adc.qv", "c.cv")} AS cos,
         |    row_number() OVER (PARTITION BY adc.query_id
         |      ORDER BY ${dCos("adc.qv", "c.cv")} DESC, adc.neighbor_id ASC) AS rank
         |  FROM adc JOIN c USING (neighbor_id))
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    })

  /** The trained corpus with each row's cell CENTROID (literal lookup,
    * map-side) and its residual x − centroid — IVFADC's encoding input.
    * A lazy projection over the memoized Lloyd chain; nothing
    * materializes here. */
  private def residualCells(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val cs = trainedCentRows(spark, dir, 3)
    val centLits = array(cs.map(c => typedlit(c._2)): _*)
    val cellLits = array(cs.map(c => lit(c._1)): _*)
    trainedIvfCells(spark, dir, 2)
      .withColumn("centroid", element_at(centLits,
        array_position(cellLits, col("label")).cast("int")))
      .withColumn("resid",
        Similarity.pqResidual(col("embedding"), col("centroid")))
  }

  /** Residual PQ codebook per (session, dir) — [[pqCodebook]]'s twin
    * trained on x − centroid(cell) values (IVFADC's second half: the
    * coarse quantizer absorbs the cell mean; the same 8-byte budget
    * quantizes the tighter intra-cell spread). */
  private def pqResCodebook(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Int, Int, Seq[Double])] =
    SessionCache.memo(spark, dir, "pqres-cb")(
      Similarity.pqTrainCodebook(residualCells(spark, dir),
        "vec_id", "resid", 16, 4))

  /** Memoized residual code table (vec_id, label = trained cell, codes
    * array<int>[8]). */
  private def pqResCodesMemo(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "pq_res_codes") {
      val cb = pqResCodebook(spark, dir)
      residualCells(spark, dir)
        .select(col("vec_id"), col("label"),
          Similarity.pqCodesExpr(col("resid"), cb, 16, 4).as("codes"))
        .localCheckpoint(true)
    }

  /** IVF-PQ with RESIDUAL encoding (round-16 verdict task 3 — IVFADC's
    * second half, Jégou et al. 2011, public): each vector's residual
    * against its cell centroid is PQ-coded instead of the raw vector —
    * the coarse quantizer absorbs the between-cell mean structure, so
    * the same m = 8 × 16-centroid budget quantizes the tighter
    * intra-cell spread. The ADC reconstruction is x̂ = centroid + r̂
    * (the probed cell's centroid rides on the probe side of the join;
    * candidates still contribute only their 8 code bytes). Everything
    * else mirrors q_ivf_pq_rerank: probe depths p ∈ {3, 5}, ADC top-100
    * → exact re-rank → recall@10 vs the memoized exact truth.
    *
    * Quantizer geometry: m = 16 subspaces × 4 dims × 16 centroids →
    * 16 code bytes/vector (16× compression vs the raw-PQ query's 32×).
    * At m = 8 the residual lift was a wash on these direction-near-
    * uniform synthetic vectors (cell centroids ≈ 0, so residual ≈ raw —
    * the PQ worst case; measured sf0.1 p=3 0.3625 vs raw 0.375), and
    * extra Lloyd rounds made it WORSE (0.3625 → 0.325 at 3 rounds —
    * the quantizer overfits its own assignment); halving subDim is the
    * lever that actually buys recall, trading 8 more bytes/vector.
    *
    * MEASURED recall@10 (sf0.001/0.01/0.1): p=3 0.487/0.562/0.462,
    * p=5 0.750/0.725/0.612 — above raw-vector 32× PQ at every p=5 point
    * (0.675/0.675/0.425) and at the sf0.1 p=3 point (0.462 vs 0.375).
    * Floors 0.40 (p=3) / 0.50 (p=5) sit strictly under the minima
    * 0.462/0.612 AND strictly above the raw-PQ p=5 floor 0.35 — the
    * round-16 verdict's done-condition.
    *
    * The oracle replays residual formation (exact IEEE per-dim
    * subtraction from the DECIMAL-exact centroid doubles), codebook
    * training on residual values, coding, reconstruction, ADC, and the
    * re-rank row-level, so the driver hash-gates the full IVFADC
    * pipeline. Scale shape unchanged from q_ivf_pq_rerank: grid-sized
    * training aggregates, map-side coding, bucketed cell equi-join over
    * 8-byte code rows. */
  private val ivfPqResidual = QueryDef(
    fn = (spark, dir) => {
      val (m, subDim, cTop) = (16, 4, 100)
      val cents = trainedCentFrame(spark, dir, 3)
      val qs = trainedIvfCells(spark, dir, 0).filter(isProbe())
      val cbr = pqResCodebook(spark, dir)
      val codes = pqResCodesMemo(spark, dir)
      val truth = annTruth(spark, dir)
      val raw = trainedIvfCells(spark, dir, 2)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val cs = trainedCentRows(spark, dir, 3)
      val centLits = array(cs.map(c => typedlit(c._2)): _*)
      val cellLits = array(cs.map(c => lit(c._1)): _*)
      val perP = Seq(3, 5).map { p =>
        val probed = Similarity.probeCells(qs, cents,
            "vec_id", "embedding", "label", nprobe = p)
          // the probed cell's centroid — x̂'s coarse half — attaches
          // map-side on the (n_q × p)-row probe frame, never per candidate
          .withColumn("ccent", element_at(centLits,
            array_position(cellLits, col("cell")).cast("int")))
        val adc = codes
          .join(probed, codes("label") === probed("cell"))
          .filter(col("query_id") =!= col("vec_id"))
          .withColumn("adc", Similarity.pqAdcCosineResidual(
            col("qv"), col("ccent"), col("codes"), cbr, m, subDim))
        Similarity.hits(truth,
            "hits" -> Similarity.rerankExact(adc, "adc", "vec_id", cTop, raw, 10))
          .select(lit(p.toLong).as("nprobe"), col("n_truth"), col("hits"))
      }
      perP.reduce(_ union _)
        .withColumn("recall_e6", Similarity.recallE6())
        .withColumn("recall_ok",
          col("hits") * 100 >= col("n_truth")
            * when(col("nprobe") === 3, 40).otherwise(50))
        .select(col("nprobe"), col("n_truth"), col("hits"),
          col("recall_e6"), col("recall_ok"))
        .orderBy("nprobe")
    },
    oracle = Some {
      val dotQC = dSumD("list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * centroid[i])")
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      val normQ = s"sqrt(${dDot("qv", "qv")})"
      s"""WITH ${dLloydCtes(2)},
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |${dTruth(10)},
         |${pqOracleCtesFrom(pqResidualSrc, 4)},
         |rh AS (SELECT codes.vec_id, flatten(list(cb2.sc ORDER BY codes.s)) AS rhat
         |       FROM codes JOIN cb2 USING (s, j) GROUP BY codes.vec_id),
         |xh AS (SELECT rh.vec_id, list_transform(range(1, len(rh.rhat) + 1),
         |         i -> cent3.centroid[i] + rh.rhat[i]) AS xhat
         |       FROM rh JOIN a2 ON a2.vec_id = rh.vec_id
         |         JOIN cent3 USING (cell)),
         |tcell AS (SELECT vec_id, cell FROM a2),
         |qc AS (
         |  SELECT query_id, qv, cell, row_number() OVER (PARTITION BY query_id ORDER BY
         |      floor(($dotQC / ($normQ * $normC)) * 1000000.0 + 0.5) / 1000000.0 DESC,
         |      cell ASC) AS cr
         |  FROM q CROSS JOIN cent3),
         |ps AS (SELECT unnest([3, 5]) AS nprobe),
         |probe AS (SELECT ps.nprobe, qc.query_id, qc.qv, qc.cell
         |          FROM qc JOIN ps ON qc.cr <= ps.nprobe),
         |adc AS (SELECT nprobe, query_id, qv, neighbor_id FROM (
         |    SELECT probe.nprobe, probe.query_id, probe.qv,
         |      tcell.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY probe.nprobe, probe.query_id
         |        ORDER BY ${dCos("probe.qv", "xh.xhat")} DESC, tcell.vec_id ASC) AS ar
         |    FROM tcell JOIN probe USING (cell)
         |      JOIN xh ON xh.vec_id = tcell.vec_id
         |    WHERE probe.query_id <> tcell.vec_id) WHERE ar <= 100),
         |rr AS (SELECT nprobe, query_id, neighbor_id FROM (
         |    SELECT adc.nprobe, adc.query_id, adc.neighbor_id,
         |      row_number() OVER (PARTITION BY adc.nprobe, adc.query_id
         |        ORDER BY ${dCos("adc.qv", "c.cv")} DESC, adc.neighbor_id ASC) AS r
         |    FROM adc JOIN c USING (neighbor_id)) WHERE r <= 10),
         |${dSweepHits("ps", "nprobe", "rr")}
         |SELECT CAST(nprobe AS BIGINT) AS nprobe, n_truth, hits,
         |  CAST(hits * 1000000 // n_truth AS BIGINT) AS recall_e6,
         |  hits * 100 >= n_truth * (CASE nprobe WHEN 3 THEN 40 ELSE 50 END)
         |    AS recall_ok
         |FROM agg ORDER BY nprobe""".stripMargin
    })

  /** Paragraph-level exact dedup (Dolma/RefinedWeb-style): split every
    * document into paragraph units, keep only the FIRST global occurrence
    * of each distinct unit (ordered by doc_id, then position), and report
    * per-document survival. The synthetic corpus has no newline paragraph
    * breaks, so the unit here is a 4-token non-overlapping chunk (the
    * granularity is a parameter of [[TextAnalysis.chunks]]); at sf0.001
    * ~6% of chunks are cross-document duplicates, so the query exercises
    * real removal, not a pass-through.
    *
    * Scale shape: the chunk TEXT is dropped before the shuffle — dedup
    * keys on the composed token-hash combine
    * ([[TextAnalysis.chunkHashesFromHashes]]: md5 once per TOKEN, no chunk
    * string ever built), so the wide exchange carries (8-byte hash,
    * doc_id, chunk_idx) only, never document bytes. Two shuffles total (by
    * hash for keep-first, by doc_id for the survival profile); both AQE-
    * coalescible. Keep-first order (doc_id, chunk_idx) is a total order,
    * so the survivor set is deterministic under any partitioning.
    */
  private val dedupParagraphs = QueryDef(
    fn = (spark, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"), col("chunk_idx"))
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkHashesFromHashes(col("th"), 4)))
        .select(col("doc_id"), col("pos").as("chunk_idx"), col("col").as("h"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .withColumn("kept_frac",
          TextAnalysis.round6(col("n_kept").cast("double") / col("n_chunks").cast("double")))
        .orderBy("doc_id")
    },
    oracle = Some {
      val C = TextAnalysis.ShingleHashC; val M = TextAnalysis.ShingleHashM
      def fold(k: Int) = (1 until k).foldLeft("th[ci*4+1]") { (acc, j) =>
        s"(($acc * $C + th[ci*4+${j + 1}]) % $M)"
      }
      val h =
        s"""CASE WHEN len(th) - ci * 4 >= 4 THEN ${fold(4)}
           |  WHEN len(th) - ci * 4 = 3 THEN ${fold(3)}
           |  WHEN len(th) - ci * 4 = 2 THEN ${fold(2)}
           |  ELSE ${fold(1)} END""".stripMargin
      s"""WITH tk AS (SELECT doc_id,
         |        list_transform(${dToks("text")}, t -> ${dHash32("t")}) AS th
         |        FROM documents),
         |idx AS (SELECT doc_id, th,
         |        unnest(range(0, CAST(ceil(len(th) / 4.0) AS BIGINT))) AS ci
         |        FROM tk WHERE len(th) > 0),
         |ch AS (SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx, $h AS h
         |        FROM idx),
         |r AS (SELECT doc_id, chunk_idx,
         |        row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
         |        FROM ch)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  floor((CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*))
         |        * 1000000.0 + 0.5) / 1000000.0 AS kept_frac
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** Boilerplate pruning (RefinedWeb/CCNet rule): a paragraph unit that
    * appears in MORE THAN 2 distinct documents is boilerplate — removed
    * from EVERY document, including the first (contrast with
    * q_dedup_paragraphs' keep-first). Unit = 3-token chunk (finer than the
    * dedup query's 4 so repeated phrasing actually crosses the threshold
    * on the synthetic corpus: ~3% of distinct chunks at sf0.01).
    *
    * Scale shape: pass 1 aggregates doc-frequency per chunk HASH (text
    * dropped pre-shuffle, partial counts map-side); the >2 filter leaves a
    * frequency table orders of magnitude smaller than the corpus — it
    * broadcasts here, and at 100 TB AQE falls back to a shuffle join if
    * the boilerplate set outgrows the threshold. Pass 2 is a left join to
    * flag occurrences plus a doc-keyed count — no row ever carries more
    * than (hash, doc_id, chunk_idx). Chunk identity is the composed
    * token-hash combine ([[TextAnalysis.chunkHashesFromHashes]]): md5 runs
    * once per TOKEN, chunk keys are 8 bytes, and no chunk string is ever
    * materialized — both engines fold the identical integers.
    */
  private val boilerplatePrune = QueryDef(
    fn = (spark, dir) => {
      val ch = Tables.documents(spark, dir)
        .select(col("doc_id"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
        .select(col("doc_id"),
          explode(TextAnalysis.chunkHashesFromHashes(col("th"), 3)).as("h"))
      val boiler = ch.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 2)
        .select(col("h"), lit(1).as("is_boiler"))
      ch.join(broadcast(boiler), Seq("h"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("is_boiler").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("kept_frac",
          TextAnalysis.round6(lit(1.0)
            - col("n_boiler").cast("double") / col("n_chunks").cast("double")))
        .orderBy("doc_id")
    },
    oracle = Some {
      val C = TextAnalysis.ShingleHashC; val M = TextAnalysis.ShingleHashM
      // the composed chunk hash: fold th[ci*3+1 .. ci*3+3] (short tail
      // folds its actual tokens) — exact BIGINT twin of
      // chunkHashesFromHashes' aggregate
      val h =
        s"""CASE WHEN len(th) - ci * 3 >= 3
           |  THEN ((th[ci*3+1] * $C + th[ci*3+2]) % $M * $C + th[ci*3+3]) % $M
           |  WHEN len(th) - ci * 3 = 2
           |  THEN (th[ci*3+1] * $C + th[ci*3+2]) % $M
           |  ELSE th[ci*3+1] END""".stripMargin
      s"""WITH tk AS (SELECT doc_id,
         |        list_transform(${dToks("text")}, t -> ${dHash32("t")}) AS th
         |        FROM documents),
         |idx AS (SELECT doc_id, th,
         |        unnest(range(0, CAST(ceil(len(th) / 3.0) AS BIGINT))) AS ci
         |        FROM tk WHERE len(th) > 0),
         |ch AS (SELECT doc_id, $h AS h FROM idx),
         |b AS (SELECT h FROM ch GROUP BY h HAVING COUNT(DISTINCT doc_id) > 2)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  floor((1.0 - CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |               / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS kept_frac
         |FROM ch LEFT JOIN b ON ch.h = b.h
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** Exact duplicated-substring spans — the token-level twin of the
    * ExactSubstr dedup in Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (suffix-array substring dedup): every 8-token
    * window whose composed hash occurs in >= 2 DISTINCT documents marks its
    * token span [pos, pos+7] as duplicated; overlapping or abutting flagged
    * windows merge into maximal spans (gaps-and-islands over window starts —
    * with a fixed window length L the span-merge test is simply
    * `pos <= prev_pos + L`, no running-max needed). Per document: span
    * count, duplicated-token total, duplicated fraction (all docs emitted,
    * zero-filled).
    *
    * Scale shape: wide exchanges are keyed ONLY on the 8-byte window hash
    * (high-cardinality, AQE-skew-splittable) and on doc_id (span merge).
    * Document text never crosses an exchange — windows are composed from
    * per-token hashes ([[TextAnalysis.shingleHashesFromHashes]]: md5 once
    * per TOKEN, no window string, rolling-combine replayed exactly by the
    * oracle). The df >= 2 window set joins back LEFT SEMI on the same hash
    * key, so each (doc, pos) survives at most once — no posting-list
    * fan-out — and the groupBy exchange is reused for the semi join. The
    * span merge is a per-doc window over FLAGGED positions only (a small
    * fraction of the corpus), partitioned by high-cardinality doc_id.
    */
  private val dedupSubstring = QueryDef(
    fn = (spark, dir) => {
      val L = 8
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val docs = Tables.documents(spark, dir)
      val nTok = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      val grams = docs
        .select(col("doc_id"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
        .select(col("doc_id"),
          posexplode(TextAnalysis.shingleHashesFromHashes(col("th"), L)))
        .select(col("doc_id"), col("pos"), col("col").as("g"))
        // narrow (doc_id, pos, g) window stream, memo-checkpointed: the df
        // rollup and the flagged semi join both re-reference it, each
        // re-planning the documents tokenize scan (ScanCountLintSpec)
        .memoCheckpoint(spark, dir, "dedup_substring_grams")
      val dup = grams.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("g"))
      val flagged = grams.join(dup, Seq("g"), "left_semi")
      val spans = flagged
        .withColumn("new_span",
          when(lag(col("pos"), 1).over(w).isNull
            || col("pos") > lag(col("pos"), 1).over(w) + L, 1).otherwise(0))
        .withColumn("island", sum(col("new_span"))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("p1") - col("p0") + L).as("dup_tokens"))
      nTok.join(spans, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
        .withColumn("dup_frac", TextAnalysis.round6(
          col("dup_tokens").cast("double") / col("n_tokens").cast("double")))
        .orderBy("doc_id")
    },
    oracle = Some {
      val C = TextAnalysis.ShingleHashC; val M = TextAnalysis.ShingleHashM
      val fold8 = (1 until 8).foldLeft("th[i]") { (acc, j) =>
        s"(($acc * $C + th[i+$j]) % $M)"
      }
      s"""WITH tk AS (SELECT doc_id,
         |        list_transform(${dToks("text")}, t -> ${dHash32("t")}) AS th
         |        FROM documents),
         |g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, $fold8 AS g
         |      FROM (SELECT doc_id, th, unnest(range(1, len(th) - 6)) AS i
         |            FROM tk WHERE len(th) >= 8) z),
         |dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
         |f AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (g)),
         |s AS (SELECT doc_id, pos,
         |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         |               OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
         |             THEN 1 ELSE 0 END AS new_span
         |      FROM f),
         |isl AS (SELECT doc_id, pos,
         |        SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |        FROM s),
         |sp AS (SELECT doc_id, island, MIN(pos) AS p0, MAX(pos) AS p1
         |       FROM isl GROUP BY doc_id, island),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         |          CAST(SUM(p1 - p0 + 8) AS BIGINT) AS dup_tokens
         |        FROM sp GROUP BY doc_id),
         |nt AS (SELECT doc_id, CAST(len(${dToks("text")}) AS BIGINT) AS n_tokens
         |       FROM documents)
         |SELECT nt.doc_id, nt.n_tokens,
         |  COALESCE(agg.n_spans, CAST(0 AS BIGINT)) AS n_spans,
         |  COALESCE(agg.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
         |  floor((CAST(COALESCE(agg.dup_tokens, CAST(0 AS BIGINT)) AS DOUBLE)
         |         / nt.n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
         |FROM nt LEFT JOIN agg ON nt.doc_id = agg.doc_id
         |ORDER BY nt.doc_id""".stripMargin
    })

  /** Count-Min Sketch frequency estimation over the token stream: build a
    * depth-4 × width-64 counter grid in ONE map-side-combinable shuffle
    * (256 cells regardless of corpus size), then probe the exact top-20
    * tokens and report estimate vs truth. Width is deliberately small so
    * collisions are visible (est >= exact, the CMS one-sided error). At
    * 100 TB the sketch build replaces a full token groupBy for frequency
    * queries: fixed memory, broadcastable result, mergeable partials.
    * Every counter is engine-portable (md5-fold hashes) — the oracle
    * rebuilds the identical sketch in SQL.
    */
  private val cmsTopk = QueryDef(
    fn = (spark, dir) => {
      val w = 64; val depth = 4
      val toks = Tables.documents(spark, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val cells = toks.select(col("tok"),
          explode(Sketches.cmsCells(col("tok"), depth, w)).as("c"))
        .select(col("tok"), col("c.d").as("d"), col("c.cell").as("cell"))
      val sketch = cells.groupBy(col("d"), col("cell"))
        .agg(count(lit(1)).as("cnt"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("exact_n").desc, col("tok"))))
        .filter(col("rn") <= 20).drop("rn")
      top.select(col("tok"), col("exact_n"),
          explode(Sketches.cmsCells(col("tok"), depth, w)).as("c"))
        .select(col("tok"), col("exact_n"), col("c.d").as("d"), col("c.cell").as("cell"))
        .join(broadcast(sketch), Seq("d", "cell"))
        .groupBy(col("tok"), col("exact_n"))
        .agg(min(col("cnt")).as("est_n"))
        .withColumn("overestimate_only", col("est_n") >= col("exact_n"))
        .orderBy(col("exact_n").desc, col("tok"))
    },
    oracle = Some {
      def cell(d: String) = Sketches.cmsCellSql(dHash32, "tok", d, 64)
      s"""WITH toks AS (SELECT unnest(${dToks("text")}) AS tok FROM documents),
         |cells AS (SELECT tok, d, ${cell("d")} AS cell
         |          FROM toks, range(0, 4) t(d)),
         |sketch AS (SELECT d, cell, COUNT(*) AS cnt FROM cells GROUP BY d, cell),
         |top AS (SELECT tok, exact_n FROM (
         |    SELECT tok, COUNT(*) AS exact_n,
         |      row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rn
         |    FROM toks GROUP BY tok) WHERE rn <= 20),
         |probe AS (SELECT tok, exact_n, d, ${cell("d")} AS cell
         |          FROM top, range(0, 4) t(d))
         |SELECT tok, exact_n, MIN(cnt) AS est_n,
         |  (MIN(cnt) >= exact_n) AS overestimate_only
         |FROM probe JOIN sketch USING (d, cell)
         |GROUP BY tok, exact_n
         |ORDER BY exact_n DESC, tok""".stripMargin
    })

  /** Bloom-filter decontamination: the sketch twin of q_decontaminate.
    * The held-out set's distinct 4-gram shingles build a 4096-word
    * blocked Bloom filter (k=3, 128 Kbit => <7% fill through sf0.1),
    * collected into a 32 KB long-array LITERAL; corpus shingles probe all
    * k bits with scan-stage `element_at` + mask tests — no ×k explode, no
    * per-shingle shuffle, no join on the sketch side. A doc's bloom hits
    * can only overcount its exact matches (no false negatives —
    * `no_false_negative` is emitted per doc and must be true everywhere).
    * At 100 TB: the filter builds from the (small) eval set once, ships
    * as expression state to every task, and the corpus-side probe is a
    * scan-stage hash + array lookup — no data-sized shuffle at all.
    */
  private val bloomDecontaminate = QueryDef(
    fn = (spark, dir) => {
      val words = 4096; val k = 3
      val docs = Tables.documents(spark, dir)
      def shingle(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
          .select(col("doc_id"),
            explode(array_distinct(TextAnalysis.shinglesFromTokens(col("__toks"), 4))).as("g"))
      val eval_ = shingle(docs.filter(col("doc_id") % 97 === 0))
      // build the 4096-word filter distributedly, then collect it into a
      // 32 KB long-array literal — metadata-scale (words rows, independent
      // of corpus size), the same driver-state contract as the centroid
      // literals in Similarity. Probing becomes a pure scan-stage
      // expression: no ×k explode, no (doc_id, g) shuffle, no join.
      val bloomArr = Array.fill[Long](words)(0L)
      eval_
        .select(explode(Sketches.bloomBits(col("g"), k, words)).as("b"))
        .select(col("b.word").as("word"), col("b.mask").as("mask"))
        .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))
        .collect()
        .foreach(r => bloomArr(r.getLong(0).toInt) = r.getLong(1))
      val bloomLit = lit(bloomArr)
      val exact = eval_.select(col("g")).distinct().withColumn("is_exact", lit(1))
      val probeBits = Sketches.bloomBits(col("g"), k, words)
      val kHit = (0 until k).map { j =>
        val b = element_at(probeBits, j + 1)
        when(element_at(bloomLit, b.getField("word").cast("int") + 1)
          .bitwiseAND(b.getField("mask")) =!= 0L, 1).otherwise(0)
      }.reduce(_ + _)
      shingle(docs.filter(col("doc_id") % 97 =!= 0))
        .select(col("doc_id"), col("g"), kHit.as("k_hit"))
        .join(broadcast(exact), Seq("g"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("k_hit") === k, 1L).otherwise(0L)).as("n_bloom_hits"),
          sum(when(col("is_exact").isNotNull, 1L).otherwise(0L)).as("n_exact_hits"),
          min(when(col("is_exact").isNotNull, (col("k_hit") === k).cast("int"))
            .otherwise(lit(1))).cast("boolean").as("no_false_negative"))
        .filter(col("n_bloom_hits") > 0 || col("n_exact_hits") > 0)
        .orderBy("doc_id")
    },
    oracle = Some {
      val toks = dToks("text")
      def wm(j: Int) = Sketches.bloomBitSql(dHash32, "g", j, 4096)
      val wmCases =
        (0 until 3).map { j => s"WHEN $j THEN ${wm(j)._1}" }.mkString(" ")
      val maskCases =
        (0 until 3).map { j => s"WHEN $j THEN ${wm(j)._2}" }.mkString(" ")
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len($toks) >= 4 THEN
         |    list_transform(range(1, len($toks) - 2),
         |      i -> array_to_string(($toks)[i:i+3], ' '))
         |  ELSE [] END)) AS g
         |  FROM documents),
         |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
         |evbits AS (SELECT g, j,
         |    CASE j $wmCases END AS word, CASE j $maskCases END AS mask
         |  FROM ev, range(0, 3) t(j)),
         |bloom AS (SELECT word, bit_or(mask) AS bits FROM evbits GROUP BY word),
         |pr AS (SELECT doc_id, g FROM sh WHERE doc_id % 97 <> 0),
         |prbits AS (SELECT doc_id, g, j,
         |    CASE j $wmCases END AS word, CASE j $maskCases END AS mask
         |  FROM pr, range(0, 3) t(j)),
         |perg AS (
         |  SELECT doc_id, g,
         |    CAST(SUM(CASE WHEN bits IS NOT NULL AND (bits & mask) <> 0
         |             THEN 1 ELSE 0 END) AS BIGINT) AS k_hit
         |  FROM prbits LEFT JOIN bloom USING (word) GROUP BY doc_id, g),
         |j2 AS (SELECT p.doc_id, p.g, p.k_hit,
         |         CASE WHEN e.g IS NOT NULL THEN 1 END AS is_exact
         |       FROM perg p LEFT JOIN ev e ON p.g = e.g)
         |SELECT doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN k_hit = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
         |  CAST(SUM(CASE WHEN is_exact IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
         |  CAST(MIN(CASE WHEN is_exact IS NOT NULL
         |           THEN CASE WHEN k_hit = 3 THEN 1 ELSE 0 END
         |           ELSE 1 END) AS BOOLEAN) AS no_false_negative
         |FROM j2 GROUP BY doc_id
         |HAVING SUM(CASE WHEN k_hit = 3 THEN 1 ELSE 0 END) > 0
         |    OR SUM(CASE WHEN is_exact IS NOT NULL THEN 1 ELSE 0 END) > 0
         |ORDER BY doc_id""".stripMargin
    })

  /** Blocked fuzzy join (entity resolution): near-duplicate part names by
    * edit distance <= 2, candidates generated by an equi-join on a
    * blocking key (the name's noun) — never a cartesian. The expensive
    * verify (levenshtein, codegen'd built-in on both engines) runs only
    * inside blocks, and the input collapses to the DISTINCT name
    * vocabulary first, so candidate volume tracks entity count, not fact
    * rows (the output is SF-invariant here). At 100 TB this is the
    * standard two-stage ER shape: cheap blocking equi-join + per-block
    * quadratic verify, with AQE splitting any oversized block.
    */
  private val fuzzyJoin = QueryDef(
    fn = (spark, dir) => {
      val names = Tables.part(spark, dir).select(col("p_name")).distinct()
        .select(col("p_name").as("n"),
          element_at(split(col("p_name"), " "), 2).as("noun"))
      names.select(col("noun"), col("n").as("n1"))
        .join(names.select(col("noun"), col("n").as("n2")), Seq("noun"))
        .filter(col("n1") < col("n2"))
        .withColumn("dist", levenshtein(col("n1"), col("n2")))
        .filter(col("dist") <= 2)
        .orderBy("noun", "n1", "n2")
    },
    oracle = Some(
      """WITH p AS (SELECT DISTINCT p_name AS n,
        |             string_split(p_name, ' ')[2] AS noun FROM part)
        |SELECT a.noun AS noun, a.n AS n1, b.n AS n2,
        |  CAST(levenshtein(a.n, b.n) AS INTEGER) AS dist
        |FROM p a JOIN p b ON a.noun = b.noun AND a.n < b.n
        |WHERE levenshtein(a.n, b.n) <= 2
        |ORDER BY noun, n1, n2""".stripMargin))

  /** Deterministic weighted sampling via priority sampling
    * (Duffield–Lund–Thorup / sequential Poisson): each doc gets priority
    * u/w from a hash-uniform u and weight w = n_chars; the k smallest
    * priorities form a weight-proportional sample. Unlike df.sample the
    * draw is a pure function of the key — stable across runs, engines,
    * partitionings, cluster sizes. Deliberately transcendental-free (the
    * classic exp-key A-ES scheme needs ln/pow, whose libm last-ulp
    * rounding differs across engines): a single IEEE double DIVISION is
    * correctly rounded everywhere, so the ordering is bit-identical. One
    * scan + global top-k (TakeOrderedAndProject) — no shuffle of the
    * corpus, partial top-k per partition then a k-row reduction.
    */
  private val weightedSample = QueryDef(
    fn = (spark, dir) => {
      val u = TextAnalysis.tokenHash32(concat(lit("ws:"), col("doc_id").cast("string")))
      Tables.documents(spark, dir)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars"),
          (u.cast("double") / col("n_chars").cast("double")).as("priority"))
        .orderBy(col("priority").asc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.round6(col("priority")).as("priority"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH p AS (
         |  SELECT doc_id, n_chars,
         |    CAST(${dHash32("'ws:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
         |      / CAST(n_chars AS DOUBLE) AS priority
         |  FROM documents WHERE n_chars > 0
         |  ORDER BY priority ASC, doc_id ASC LIMIT 20)
         |SELECT doc_id, n_chars,
         |  floor(priority * 1000000.0 + 0.5) / 1000000.0 AS priority
         |FROM p ORDER BY doc_id""".stripMargin))

  // ---- exact similarity join: prefix filtering -----------------------------

  /** EXACT Jaccard self-join via prefix filtering
    * ([[graft.ops.Dedup.nearDupPrefixJoin]]): the no-false-negatives
    * counterpart to MinHash banding. Because the operator is exact, the
    * oracle is the strongest possible one — the BRUTE-FORCE all-pairs
    * ground truth — so a green row here proves the prefix+length pruning
    * dropped nothing, at every SF, while the Spark side only ever joins on
    * rare prefix tokens. Input sampled (doc_id % 20) to bound the oracle's
    * quadratic cost, like every pair-space twin in this file. */
  private val dedupPrefixJoin = QueryDef(
    fn = (spark, dir) =>
      Dedup.nearDupPrefixJoin(
          Tables.documents(spark, dir).filter(col("doc_id") % 20 === 0),
          "doc_id", "text", minJaccard = 0.5)
        .orderBy("id_a", "id_b"),
    oracle = Some(
      s"""WITH docs AS (
         |  SELECT doc_id AS id, ${dTokSet("text")} AS toks
         |  FROM documents WHERE doc_id % 20 = 0),
         |ne AS (SELECT id, toks FROM docs WHERE len(toks) > 0),
         |jac AS (SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |      / (len(a.toks) + len(b.toks)
         |         - CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)) AS jraw
         |  FROM ne a JOIN ne b ON a.id < b.id)
         |SELECT id_a, id_b,
         |  floor(jraw * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |FROM jac WHERE jraw >= 0.5
         |ORDER BY id_a, id_b""".stripMargin))

  // ---- positional-index phrase search --------------------------------------

  /** Exact phrase search ("big order scan") via a positional inverted
    * index — the position-AWARE join family, distinct from the bag-of-
    * shingles joins: postings are (doc, token, position) triples from
    * posexplode, one narrow postings frame per phrase word (token filter
    * applied at the explode), and adjacency is the equi-join
    * `(doc, pos+k)`. Occurrences, not just containment, fall out of the
    * final count. A conservative substring prefilter on the phrase's FIRST
    * word prunes the scan before any explode (any phrase word works — a
    * whitespace token implies its substring, supersets only, semantics
    * untouched; the rarest word would prune hardest but requires corpus
    * statistics this single-pass query does not collect); tokenization is the
    * repo-standard lower/split, so the oracle unnests the identical
    * positions in lockstep. At 100 TB this is term-partitioned retrieval:
    * join keys (doc, pos) are high-cardinality and the per-term postings
    * are the only shuffled data. */
  private val phraseSearch = QueryDef(
    fn = (spark, dir) => {
      val words = Seq("big", "order", "scan")
      val docs = Tables.documents(spark, dir)
        .filter(lower(col("text")).contains(words.head))
      // one pass extracts ALL three terms' postings (tiny after the
      // isin filter), checkpointed — the per-word form re-scanned the
      // prefiltered docs once per phrase word (ScanCountLintSpec)
      val postings = docs.select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
        .filter(col("tok").isin(words.map(lit): _*))
        .memoCheckpoint(spark, dir, "phrase_postings")
      val parts = words.zipWithIndex.map { case (w, i) =>
        postings.filter(col("tok") === w)
          .select(col("doc_id"), (col("pos") - i).as("anchor"))
      }
      parts.reduce((a, b) => a.join(b, Seq("doc_id", "anchor")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH t AS (SELECT doc_id, ${dToks("text")} AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
         |             unnest(toks) AS tok FROM t),
         |p0 AS (SELECT doc_id, pos AS anchor FROM p WHERE tok = 'big'),
         |p1 AS (SELECT doc_id, pos - 1 AS anchor FROM p WHERE tok = 'order'),
         |p2 AS (SELECT doc_id, pos - 2 AS anchor FROM p WHERE tok = 'scan')
         |SELECT p0.doc_id, COUNT(*) AS n_occurrences
         |FROM p0 JOIN p1 ON p0.doc_id = p1.doc_id AND p0.anchor = p1.anchor
         |        JOIN p2 ON p0.doc_id = p2.doc_id AND p0.anchor = p2.anchor
         |GROUP BY p0.doc_id ORDER BY p0.doc_id""".stripMargin))

  // ---- KMV (bottom-k) sketch: distinct estimate + set algebra --------------

  /** Shared oracle CTE chain: per-`group` distinct 3-gram shingles of the
    * documents table, their md5-fold hashes deduplicated — the input stream
    * both KMV queries sketch. */
  /** n-gram shingle hashes composed from a per-token hash array column
    * `th` — the DuckDB twin of
    * [[graft.ops.TextAnalysis.shingleHashesFromHashes]]: md5 runs once per
    * TOKEN, each shingle is the exact rolling combine
    * ((…(h₁·C + h₂) mod M)·C + …) mod M with all intermediates ≤ 2^52. */
  private[queries] def dShingleHashes(n: Int): String = {
    val inner = (0 until n).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc * ${TextAnalysis.ShingleHashC} + th[i+$j]) % ${TextAnalysis.ShingleHashM})"
    }
    s"""CASE WHEN len(th) >= $n THEN
       |    list_transform(range(1, len(th) - ${n - 2}), i -> $inner)
       |  ELSE CAST([] AS BIGINT[]) END""".stripMargin
  }

  /** Distinct composed 3-gram shingle hashes per group (see
    * [[dShingleHashes]]). */
  private def dKmvBase(group: String, where: String): String =
    s"""tk AS (SELECT $group, list_transform(${dToks("text")}, t -> ${dHash32("t")}) AS th
       |       FROM documents $where),
       |hd AS (SELECT DISTINCT $group, unnest(${dShingleHashes(3)}) AS h FROM tk)""".stripMargin

  /** Distinct-count estimation via the [[graft.functions.KmvSketch]]
    * bottom-k aggregate: per-language distinct 3-gram shingle cardinality.
    * Unlike the HLL row (q_approx_distinct), whose register merge order the
    * oracle cannot replay, the KMV sketch VALUE is engine-portable: DuckDB
    * rebuilds the identical sorted k-minimum array with a rank filter over
    * the same md5-fold hashes, so the gate hash-compares the sketch itself
    * (serialized `:`-joined), the kth hash, the integer estimator, AND the
    * ±35 % accuracy contract (measured worst 19.7 % across the three SFs;
    * k=64 ⇒ σ ≈ 12.7 %). Scale shape: the aggregate carries O(k) state per
    * group with map-side partial combine — the sketch never grows with
    * input, and the exact `countDistinct` beside it is the verification
    * twin, not the deploy path. */
  private val kmvDistinct = QueryDef(
    fn = (spark, dir) => {
      // distinct on the 8-byte (lang, hash) pair — NOT the shingle string —
      // then both the sketch and the exact count read the pre-distinct
      // stream: one narrow shuffle instead of a countDistinct expand over
      // strings (isolated sf0.1 median 4.3 s -> 3.6 s). n_exact counts distinct
      // HASHES, matching the estimator's own universe (the oracle mirrors).
      val hd = Tables.documents(spark, dir)
        .select(col("lang"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
        .select(col("lang"),
          explode(TextAnalysis.shingleHashesFromHashes(col("th"), 3)).as("h"))
        .distinct()
      hd.groupBy(col("lang"))
        .agg(
          graft.functions.KmvSketch.kmv64(col("h")).as("kmv"),
          count(lit(1)).as("n_exact"))
        .select(col("lang"),
          array_join(transform(col("kmv"), v => v.cast("string")), ":").as("kmv_str"),
          size(col("kmv")).cast("long").as("k_used"),
          element_at(col("kmv"), size(col("kmv"))).as("kth_hash"),
          when(size(col("kmv")) < 64, size(col("kmv")).cast("long"))
            .otherwise(expr("(63 * 4294967296) div (element_at(kmv, 64) + 1)")).as("est"),
          col("n_exact"))
        .withColumn("ok",
          lit(100) * abs(col("est") - col("n_exact")) <= lit(35) * col("n_exact"))
        .orderBy("lang")
    },
    oracle = Some(
      s"""WITH ${dKmvBase("lang", "")},
         |ex AS (SELECT lang, COUNT(*) AS n_exact FROM hd GROUP BY lang),
         |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
         |             COUNT(*) OVER (PARTITION BY lang) AS nd FROM hd),
         |sk AS (SELECT lang,
         |         string_agg(h::VARCHAR, ':' ORDER BY h) AS kmv_str,
         |         MAX(CASE WHEN rn = LEAST(nd, 64) THEN h END) AS kth_hash,
         |         CAST(LEAST(MAX(nd), 64) AS BIGINT) AS k_used
         |       FROM r WHERE rn <= 64 GROUP BY lang)
         |SELECT sk.lang, kmv_str, k_used, kth_hash,
         |  CASE WHEN k_used < 64 THEN k_used
         |       ELSE (63 * 4294967296) // (kth_hash + 1) END AS est,
         |  n_exact,
         |  (100 * abs((CASE WHEN k_used < 64 THEN k_used
         |              ELSE (63 * 4294967296) // (kth_hash + 1) END) - n_exact)
         |    <= 35 * n_exact) AS ok
         |FROM sk JOIN ex USING (lang) ORDER BY lang""".stripMargin))

  /** KMV set algebra over per-source sketches (Beyer et al., SIGMOD'07):
    * union cardinality from the capped merge of two k-minimum arrays, and
    * Jaccard from the fraction of the merged k-set present in both inputs.
    * The sketch-side pair math runs on 5 constant-size arrays (broadcast
    * join of a groups-sized frame — at 100 TB the pairwise set-overlap
    * matrix of N corpora costs O(N²k), independent of corpus size); the
    * exact intersection join beside it is the verification twin. Contracts:
    * union within ±35 % (measured worst 24.9 %), Jaccard within ±0.15
    * absolute (measured worst 0.064; σ ≈ √(J(1−J)/64) ≤ 0.063). jac_est
    * = c/k_used (k_used, not the nominal 64: a sub-k merge is exhaustive
    * and the ratio is then the exact Jaccard); jac_exact divides the same
    * int64s in both engines — bit-identical either way. */
  /** Memoized distinct (source, shingle-hash) frame shared by
    * [[kmvSetops]] and [[kmvDiff]]: it feeds three consumers per query
    * (sketch agg + both sides of the exact-intersection self-join), and
    * without materialization every reference re-planned the documents
    * scan — 6 corpus scans per query (ScanCountLintSpec). It is already
    * a shuffle output (distinct) and narrow (string + long), so one
    * checkpoint per session is the 100 TB shape. */
  private def kmvSrcDist(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "kmv_src_dist")(
      Tables.documents(spark, dir)
        .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .select(col("source"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
        .select(col("source"),
          explode(TextAnalysis.shingleHashesFromHashes(col("th"), 3)).as("h"))
        .distinct()
        .localCheckpoint(true))

  private val kmvSetops = QueryDef(
    fn = (spark, dir) => {
      val dist = kmvSrcDist(spark, dir)
      val agg = dist.groupBy(col("source"))
        .agg(graft.functions.KmvSketch.kmv64(col("h")).as("kmv"),
          count(lit(1)).as("n"))
      val inter = dist.as("a")
        .join(dist.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_inter"))
      val pairs = agg
        .select(col("source").as("src_a"), col("kmv").as("ka"), col("n").as("n_a"))
        .join(broadcast(agg
            .select(col("source").as("src_b"), col("kmv").as("kb"), col("n").as("n_b"))),
          col("src_a") < col("src_b"))
        .withColumn("m", slice(array_sort(array_union(col("ka"), col("kb"))), 1, 64))
        .withColumn("k_used", size(col("m")).cast("long"))
        .withColumn("est_union",
          when(col("k_used") < 64, col("k_used"))
            .otherwise(expr("(63 * 4294967296) div (element_at(m, 64) + 1)")))
        .withColumn("c", size(array_intersect(array_intersect(col("m"), col("ka")), col("kb"))))
      pairs
        .join(inter, Seq("src_a", "src_b"), "left")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        // divisor is k_used, NOT the nominal 64: a sub-k merged sketch is
        // exhaustive, and c/k_used is then the EXACT Jaccard (c/64 would
        // deflate it — for two identical 10-shingle sources, 10/64 vs 1.0)
        .withColumn("jac_est", col("c").cast("double") / col("k_used").cast("double"))
        .withColumn("jac_exact", col("n_inter").cast("double") / col("n_union").cast("double"))
        .select(col("src_a"), col("src_b"), col("k_used"), col("est_union"),
          col("n_union"), col("jac_est"), col("jac_exact"),
          (lit(100) * abs(col("est_union") - col("n_union")) <= lit(35) * col("n_union"))
            .as("ok_union"),
          (abs(col("jac_est") - col("jac_exact")) <= 0.15).as("ok_jac"))
        .orderBy("src_a", "src_b")
    },
    oracle = Some(
      s"""WITH ${dKmvBase("source",
             "WHERE source IN ('src0','src1','src2','src3','src4')")},
         |ex AS (SELECT source, COUNT(*) AS n FROM hd GROUP BY source),
         |r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hd),
         |sk AS (SELECT source, list(h ORDER BY h) AS kmv FROM r WHERE rn <= 64 GROUP BY source),
         |xp AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
         |       FROM hd a JOIN hd b ON a.h = b.h AND a.source < b.source
         |       GROUP BY 1, 2),
         |pairs AS (SELECT sa.source AS src_a, sb.source AS src_b,
         |    list_sort(list_distinct(sa.kmv || sb.kmv))[1:64] AS m,
         |    sa.kmv AS ka, sb.kmv AS kb, ea.n AS n_a, eb.n AS n_b
         |  FROM sk sa JOIN sk sb ON sa.source < sb.source
         |  JOIN ex ea ON sa.source = ea.source JOIN ex eb ON sb.source = eb.source),
         |est AS (SELECT src_a, src_b, CAST(len(m) AS BIGINT) AS k_used,
         |    CASE WHEN len(m) < 64 THEN CAST(len(m) AS BIGINT)
         |         ELSE (63 * 4294967296) // (m[64] + 1) END AS est_union,
         |    len(list_intersect(list_intersect(m, ka), kb)) AS c, n_a, n_b
         |  FROM pairs),
         |fin AS (SELECT e.src_a, e.src_b, k_used, est_union,
         |    n_a + n_b - COALESCE(x.n_inter, 0) AS n_union,
         |    CAST(c AS DOUBLE) / CAST(k_used AS DOUBLE) AS jac_est,
         |    CAST(COALESCE(x.n_inter, 0) AS DOUBLE)
         |      / CAST(n_a + n_b - COALESCE(x.n_inter, 0) AS DOUBLE) AS jac_exact
         |  FROM est e LEFT JOIN xp x ON e.src_a = x.src_a AND e.src_b = x.src_b)
         |SELECT src_a, src_b, k_used, est_union, n_union, jac_est, jac_exact,
         |  (100 * abs(est_union - n_union) <= 35 * n_union) AS ok_union,
         |  (abs(jac_est - jac_exact) <= 0.15) AS ok_jac
         |FROM fin ORDER BY src_a, src_b""".stripMargin))

  // ---- signed random projection (Johnson–Lindenstrauss) --------------------

  /** 64→16-dim signed random projection (Achlioptas' database-friendly JL
    * variant: entries ±1, so the projection is integer adds, no float
    * matrix): the embedding-compression map for ANN pre-filtering and
    * sketch storage. Arithmetic is EXACT end to end — inputs quantize to
    * scaled int64 (`floor(e·1e6 + 0.5)`, deterministic on the float's exact
    * double value), the ±1 matrix derives from the repo's md5-fold hash of
    * "rp:j:i" (Spark pre-computes the 16×64 literals at plan time; the
    * oracle re-derives them in SQL from the same md5), and each output is a
    * ±-signed integer sum — no accumulation-order sensitivity at all.
    * Scale shape: scan-stage-only projection inside whole-stage codegen
    * (zip_with/aggregate over array literals), zero shuffles; output is
    * 4× narrower than the input column. */
  private val embProject = QueryDef(
    fn = (spark, dir) => {
      import org.apache.spark.unsafe.types.UTF8String
      val signs = (0 until 16).map(j => (0 until 64).map { i =>
        if (graft.functions.Kernels.tokenHash32(
            UTF8String.fromString(s"rp:$j:$i")) % 2 == 1) 1 else -1
      })
      val q = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          expr("transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")
            .as("qe"))
      val projCols = (0 until 16).map { j =>
        val sArr = signs(j).mkString("array(", ",", ")")
        expr(s"aggregate(zip_with(qe, $sArr, (q, s) -> q * CAST(s AS BIGINT)), " +
          s"CAST(0 AS BIGINT), (acc, x) -> acc + x)").as(s"p$j")
      }
      q.select((col("vec_id") +: projCols): _*).orderBy("vec_id")
    },
    oracle = Some {
      val pCols = (0 until 16)
        .map(j => s"CAST(MAX(CASE WHEN j = $j THEN p END) AS BIGINT) AS p$j")
        .mkString(",\n  ")
      s"""WITH q AS (SELECT vec_id, list_transform(embedding,
         |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qe
         |  FROM embeddings),
         |signs AS (SELECT j, i,
         |    CASE WHEN ${dHash32("'rp:' || j || ':' || i")} % 2 = 1 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT unnest(range(0, 16)) AS j)
         |  CROSS JOIN (SELECT unnest(range(0, 64)) AS i)),
         |flat AS (SELECT vec_id, ii.i AS i, qe[ii.i + 1] AS qv
         |         FROM q CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ii),
         |prods AS (SELECT vec_id, j, SUM(qv * s) AS p
         |          FROM flat JOIN signs USING (i) GROUP BY vec_id, j)
         |SELECT vec_id, $pCols
         |FROM prods GROUP BY vec_id ORDER BY vec_id""".stripMargin
    })

  /** Containment-based near-dup (|A∩B| / min(|A|,|B|) ≥ 0.9 on token
    * sets) over the FULL documents table: catches SUBSET duplication — a
    * short doc quoted inside a long one — which Jaccard structurally
    * misses (the asymmetric measure stays high while |A∩B|/|A∪B|
    * collapses as the big doc grows; the output carries both so the gap
    * is visible). Tokens (not shingles) because containment is about
    * vocabulary coverage — and on THIS corpus that choice is measured to
    * be degenerate in a way that dictates the plan: the synthetic
    * vocabulary is 31 tokens, so 7.0M of 12.5M possible pairs qualify at
    * sf0.1 and any inverted-index/prefix scheme still pays the Θ(output)
    * floor while carrying dense posting lists. [[Dedup.containmentBitmapPairs]]
    * instead packs each token set into one 64-bit mask (vocabulary-sized
    * driver collect) and streams the all-pairs broadcast loop at three
    * machine ops per pair — measured 1.7 s vs 17.9 s (10×) against the
    * prefix join on this corpus at sf0.1, identical 7,036,349 pairs.
    * For realistic vocabularies the exact prefix-filtered
    * [[Dedup.containmentPrefixJoin]] is the scale path (equivalence spec:
    * TextDedupSpec). */
  private val dedupContainment = QueryDef(
    fn = (spark, dir) =>
      Dedup.containmentBitmapPairs(
        Tables.documents(spark, dir), "doc_id", "text", 0.9)
        .orderBy("id_a", "id_b"),
    oracle = Some(
      s"""WITH d AS (SELECT doc_id AS id, ${dTokSet("text")} AS gs
         |           FROM documents),
         |ne AS (SELECT id, gs, len(gs) AS sz FROM d WHERE len(gs) > 0),
         |idx AS (SELECT id, unnest(gs) AS g, sz FROM ne),
         |inter AS (SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS ni,
         |                 MIN(x.sz) AS sz_a, MIN(y.sz) AS sz_b
         |          FROM idx x JOIN idx y ON x.g = y.g AND x.id < y.id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b, ni,
         |  floor((CAST(ni AS DOUBLE) / LEAST(sz_a, sz_b)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS containment,
         |  floor((CAST(ni AS DOUBLE) / (sz_a + sz_b - ni)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS jaccard
         |FROM inter
         |WHERE CAST(ni AS DOUBLE) / LEAST(sz_a, sz_b) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin))

  /** Containment dedup on the HIGH-CARDINALITY composed 3-gram shingle
    * domain via [[Dedup.containmentPrefixJoinSets]] — the scale path the
    * bitmap query's ≤64-token vocabulary guard fails fast TOWARD. On
    * shingles the vocabulary is |distinct trigrams| (thousands at sf0.01,
    * unbounded at corpus scale), so the rarest-first positional-postings
    * prefix index is the right plan: candidates come from (prefix tokens)
    * ⋈ (positional postings), never df² per token, and exact
    * intersection ([[graft.functions.Kernels.intersectCount]] over
    * longs) verifies candidates only. Oracle is the brute-force postings
    * ground truth — green means the pruning dropped NOTHING. PlanAuditSpec
    * pins candidate count ≪ n²/2 on a clustered fixture.
    */
  private val dedupContainmentPrefix = QueryDef(
    fn = (spark, dir) => {
      // th PROJECTED first (the shingleHashesFromHashes discipline):
      // passing the token-hash transform inline re-evaluates it through
      // every element_at of the shingle lambda — measured 37.5 s vs 0.8 s
      // for this set build at sf0.1 (42M redundant md5s vs 270k)
      // checkpointed: the set build feeds SIX plan references inside the
      // prefix join (freq, rarest-first reorder, both posting sides, both
      // verify joins) and Catalyst re-inlines the md5 token-hash transform
      // through several of them — measured 37.9 s -> 2.1 s warm at sf0.1
      // for the whole query; the frame is docs × ~52 longs.
      // Memoized per (session, dir) (r18): the sorted-distinct shingle
      // set frame is a pure index artifact of the corpus (the PPJoin
      // index input an entity-resolution service persists), so the
      // eager per-construction rebuild — corpus tokenize + 3-gram
      // compose + sort — moves to first touch, same discipline as the
      // dedup-chain digests. The prefix join itself still runs per pass.
      val sets = Tables.documents(spark, dir)
        .select(col("doc_id").as("id"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
        .select(col("id"),
          array_sort(array_distinct(
            TextAnalysis.shingleHashesFromHashes(col("th"), 3))).as("gs"))
        .memoCheckpoint(spark, dir, "containment_prefix_sets")
      Dedup.containmentPrefixJoinSets(sets, "id", "gs", 0.8)
        .orderBy("id_a", "id_b")
    },
    oracle = Some(
      s"""WITH tk AS (SELECT doc_id, list_transform(${dToks("text")}, t -> ${dHash32("t")}) AS th
         |           FROM documents),
         |d AS (SELECT doc_id AS id,
         |        list_sort(list_distinct(${dShingleHashes(3)})) AS gs FROM tk),
         |ne AS (SELECT id, gs, len(gs) AS sz FROM d WHERE len(gs) > 0),
         |idx AS (SELECT id, unnest(gs) AS g, sz FROM ne),
         |inter AS (SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS ni,
         |                 MIN(x.sz) AS sz_a, MIN(y.sz) AS sz_b
         |          FROM idx x JOIN idx y ON x.g = y.g AND x.id < y.id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b, ni,
         |  floor((CAST(ni AS DOUBLE) / LEAST(sz_a, sz_b)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS containment,
         |  floor((CAST(ni AS DOUBLE) / (sz_a + sz_b - ni)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS jaccard
         |FROM inter
         |WHERE CAST(ni AS DOUBLE) / LEAST(sz_a, sz_b) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin))

  /** KMV set DIFFERENCE estimate |A \ B| for every ordered source pair —
    * completing the sketch algebra (distinct, union, Jaccard, difference).
    * est = (d/k)·est_union with d = |{h ∈ merged-k : h ∈ K_A ∧ h ∉ K_B}|,
    * integer-arithmetic throughout. Differences are the high-variance
    * corner of sketch algebra (the estimator subtracts), so the honest
    * contract is ABSOLUTE error against the union size — |est − exact| ≤
    * 0.3·|A∪B| (3.5σ at σ ≈ 0.0625·U; measured worst 0.222·U across all
    * 20 ordered pairs at all three SFs) — not a relative bound that a
    * small true difference would blow up. Exact side n_only_a = n_a −
    * |A∩B| reuses the unordered intersection counts (both directions from
    * one join). */
  private val kmvDiff = QueryDef(
    fn = (spark, dir) => {
      val dist = kmvSrcDist(spark, dir)
      val agg = dist.groupBy(col("source"))
        .agg(graft.functions.KmvSketch.kmv64(col("h")).as("kmv"),
          count(lit(1)).as("n"))
      val interU = dist.as("a")
        .join(dist.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("sl"), col("b.source").as("sr"))
        .agg(count(lit(1)).as("n_inter"))
      // both directions from the one unordered join
      val inter = interU.select(col("sl").as("src_a"), col("sr").as("src_b"), col("n_inter"))
        .unionByName(interU.select(col("sr").as("src_a"), col("sl").as("src_b"), col("n_inter")))
      val pairs = agg
        .select(col("source").as("src_a"), col("kmv").as("ka"), col("n").as("n_a"))
        .join(broadcast(agg
            .select(col("source").as("src_b"), col("kmv").as("kb"), col("n").as("n_b"))),
          col("src_a") =!= col("src_b"))
        .withColumn("m", slice(array_sort(array_union(col("ka"), col("kb"))), 1, 64))
        .withColumn("k_used", size(col("m")).cast("long"))
        .withColumn("est_union",
          when(col("k_used") < 64, col("k_used"))
            .otherwise(expr("(63 * 4294967296) div (element_at(m, 64) + 1)")))
        .withColumn("d",
          size(array_except(array_intersect(col("m"), col("ka")), col("kb"))).cast("long"))
      pairs
        .join(inter, Seq("src_a", "src_b"), "left")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .select(col("src_a"), col("src_b"), col("k_used"),
          expr("(d * est_union) div k_used").as("est_only_a"),
          (col("n_a") - col("n_inter")).as("n_only_a"),
          (col("n_a") + col("n_b") - col("n_inter")).as("n_union"))
        .withColumn("ok",
          lit(10) * abs(col("est_only_a") - col("n_only_a")) <= lit(3) * col("n_union"))
        .orderBy("src_a", "src_b")
    },
    oracle = Some(
      s"""WITH ${dKmvBase("source",
             "WHERE source IN ('src0','src1','src2','src3','src4')")},
         |ex AS (SELECT source, COUNT(*) AS n FROM hd GROUP BY source),
         |r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hd),
         |sk AS (SELECT source, list(h ORDER BY h) AS kmv FROM r WHERE rn <= 64 GROUP BY source),
         |xu AS (SELECT a.source AS sl, b.source AS sr, COUNT(*) AS n_inter
         |       FROM hd a JOIN hd b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2),
         |xp AS (SELECT sl AS src_a, sr AS src_b, n_inter FROM xu
         |       UNION ALL SELECT sr, sl, n_inter FROM xu),
         |pairs AS (SELECT sa.source AS src_a, sb.source AS src_b,
         |    list_sort(list_distinct(sa.kmv || sb.kmv))[1:64] AS m,
         |    sa.kmv AS ka, sb.kmv AS kb, ea.n AS n_a, eb.n AS n_b
         |  FROM sk sa JOIN sk sb ON sa.source <> sb.source
         |  JOIN ex ea ON sa.source = ea.source JOIN ex eb ON sb.source = eb.source),
         |est AS (SELECT src_a, src_b, CAST(len(m) AS BIGINT) AS k_used,
         |    CASE WHEN len(m) < 64 THEN CAST(len(m) AS BIGINT)
         |         ELSE (63 * 4294967296) // (m[64] + 1) END AS est_union,
         |    CAST(len(list_filter(m, x -> list_contains(ka, x)
         |                             AND NOT list_contains(kb, x))) AS BIGINT) AS d,
         |    n_a, n_b
         |  FROM pairs),
         |fin AS (SELECT e.src_a, e.src_b, k_used,
         |    (d * est_union) // k_used AS est_only_a,
         |    n_a - COALESCE(x.n_inter, 0) AS n_only_a,
         |    n_a + n_b - COALESCE(x.n_inter, 0) AS n_union
         |  FROM est e LEFT JOIN xp x ON e.src_a = x.src_a AND e.src_b = x.src_b)
         |SELECT src_a, src_b, k_used, est_only_a, n_only_a, n_union,
         |  (10 * abs(est_only_a - n_only_a) <= 3 * n_union) AS ok
         |FROM fin ORDER BY src_a, src_b""".stripMargin))

  /** Deterministic equal-representation rebalance ([[Mixing]]): keep
    * `min(n_lang, (n_total div 2) div |langs|)` documents per language —
    * the quota-smallest by (md5-fold hash of doc_id, doc_id) — so the
    * dominant language is down-sampled to the same budget share as the
    * rest. Selection is content-hash-keyed (reproducible, no rand()); the
    * oracle replays it with a rank window over the identical hash, while
    * the Spark plan finds each per-group quota threshold with the
    * two-pass bucket-histogram rank search (no full-table sort in a
    * |langs|-partition window — see [[graft.ops.RobustStats]]).
    */
  private val mixRebalance = QueryDef(
    fn = (spark, dir) =>
      Mixing.rebalanceEqual(
          Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
          "lang",
          TextAnalysis.tokenHash32(col("doc_id").cast("string")),
          col("doc_id"), num = 1, den = 2)
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id"),
    oracle = Some(
      s"""WITH d AS (SELECT lang, doc_id,
         |        ${dHash32("CAST(doc_id AS VARCHAR)")} AS h
         |        FROM documents),
         |t AS (SELECT (COUNT(*) // 2) // COUNT(DISTINCT lang) AS per_g FROM d),
         |r AS (SELECT lang, doc_id,
         |        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
         |        FROM d)
         |SELECT lang, doc_id FROM r, t WHERE rn <= per_g
         |ORDER BY lang, doc_id""".stripMargin))

  /** Temperature-flattened language mixture ([[Mixing
    * .rebalanceTemperature]], α = 1/2): half-corpus budget split across
    * languages proportionally to ⌊√n_lang⌋ — the mC4/XLM-R multilingual
    * sampling rule, which keeps more of the tail languages than natural
    * sampling and less of the dominant one. Selection stays content-hash-
    * keyed and engine-replayable; the oracle recomputes the integer quota
    * arithmetic (floor(sqrt(n)) is exact for these counts — see the op's
    * scaladoc) and replays selection with a rank window over the same
    * hash, while the Spark plan uses the two-pass bucket-histogram rank
    * search (no |langs|-partition full sort).
    */
  private val mixTemperature = QueryDef(
    fn = (spark, dir) =>
      Mixing.rebalanceTemperature(
          Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
          "lang",
          TextAnalysis.tokenHash32(col("doc_id").cast("string")),
          col("doc_id"), num = 1, den = 2)
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id"),
    oracle = Some(
      s"""WITH d AS (SELECT lang, doc_id,
         |        ${dHash32("CAST(doc_id AS VARCHAR)")} AS h
         |        FROM documents),
         |n AS (SELECT lang, COUNT(*) AS n_g FROM d GROUP BY lang),
         |w AS (SELECT lang, n_g,
         |        CAST(floor(sqrt(CAST(n_g AS DOUBLE))) AS BIGINT) AS w_g FROM n),
         |t AS (SELECT SUM(w_g) AS w_sum, SUM(n_g) // 2 AS budget FROM w),
         |q AS (SELECT lang, least(n_g, (budget * w_g) // w_sum) AS quota FROM w, t),
         |r AS (SELECT lang, doc_id,
         |        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
         |        FROM d)
         |SELECT r.lang, doc_id FROM r JOIN q USING (lang)
         |WHERE rn <= quota ORDER BY lang, doc_id""".stripMargin))

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by the average log-likelihood ratio of a smoothed
    * unigram LM of the TARGET distribution (here the `lang = 'en'` slice)
    * against the RAW corpus LM — the data-selection signal used to skim
    * target-domain-like documents out of a web-scale crawl.
    *
    * w(t) = (ln(c_T(t)+1) − ln(N_T+V)) − (ln(c_R(t)+1) − ln(N_R+V))
    * (add-one smoothing over the shared vocabulary V); score(d) =
    * Σ_{t∈d} w(t) / |d| over token OCCURRENCES (the tf-weighted sum the
    * paper's hashed-ngram features reduce to for n = 1).
    *
    * Scale shape: one token-keyed aggregation builds the vocabulary LM
    * (map-side combinable; output is vocab-sized, not corpus-sized), one
    * broadcast of the 1-row totals, one token-keyed join back to the
    * exploded stream, one doc-keyed aggregation — every stage hashes on
    * token or doc_id. Determinism: every ln() argument is an
    * integer-valued double (the repo's libm-identity discipline), each
    * token weight is 6dp-floored and summed in DECIMAL(18,6) so the
    * per-doc mean replays exactly in DuckDB.
    */
  private val dsirWeights = QueryDef(
    fn = (spark, dir) => {
      // checkpointed: the exploded token stream feeds BOTH the vocabulary
      // LM counts and the per-doc scoring join
      val tok = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
        .localCheckpoint(false)
      val vocab = tok.groupBy(col("token")).agg(
          count(lit(1)).as("c_r"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
        .localCheckpoint(false) // feeds the totals AND the weight join
      val stats = vocab.agg(sum(col("c_r")).as("n_r"),
        sum(col("c_t")).as("n_t"), count(lit(1)).as("v"))
      val wtab = vocab.crossJoin(broadcast(stats))
        .select(col("token"),
          TextAnalysis.round6(
            (log(col("c_t") + 1) - log(col("n_t") + col("v")))
              - (log(col("c_r") + 1) - log(col("n_r") + col("v"))))
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("w"))
      tok.join(wtab, "token")
        .groupBy(col("doc_id"))
        .agg(sum(col("w")).as("sw"), count(lit(1)).as("n_toks"))
        .select(col("doc_id"), col("n_toks"),
          TextAnalysis.round6(col("sw").cast("double") / col("n_toks"))
            .as("dsir_score"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH tok AS (SELECT doc_id, lang, unnest(${dToks("text")}) AS token
         |            FROM documents),
         |v AS (SELECT token, COUNT(*) AS c_r,
         |        SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
         |      FROM tok GROUP BY token),
         |s AS (SELECT SUM(c_r) AS n_r, SUM(c_t) AS n_t, COUNT(*) AS vsz FROM v),
         |w AS (SELECT token, CAST(floor(
         |        ((ln(c_t + 1) - ln(n_t + vsz)) - (ln(c_r + 1) - ln(n_r + vsz)))
         |        * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS w
         |      FROM v, s),
         |d AS (SELECT doc_id, SUM(w.w) AS sw, COUNT(*) AS n_toks
         |      FROM tok JOIN w USING (token) GROUP BY doc_id)
         |SELECT doc_id, n_toks,
         |  floor(CAST(sw AS DOUBLE) / n_toks * 1000000.0 + 0.5) / 1000000.0
         |    AS dsir_score
         |FROM d ORDER BY doc_id""".stripMargin))

  /** Sorted-neighborhood dedup ([[Dedup.sortedNeighborhoodPairs]],
    * SIGMOD 1995): documents sorted by their alphanumeric content prefix,
    * each compared to its 5 successors in GLOBAL sort order, pairs kept
    * at token-set Jaccard ≥ 0.5 — the bounded-comparison classic whose
    * cost is O(n·w) regardless of bucket skew. The oracle replays the
    * identical algorithm with a single `row_number()` window + offset
    * self-join, so a green row proves the distributed rank (range
    * partition + per-partition window + exclusive offsets) equals the
    * single-node total order exactly.
    */
  private val dedupSortedNbr = QueryDef(
    fn = (spark, dir) =>
      Dedup.sortedNeighborhoodPairs(
          Tables.documents(spark, dir), "doc_id",
          substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, 24),
          TextAnalysis.tokenSet(col("text")),
          window = 5, minJaccard = 0.5)
        .orderBy("id_a", "id_b"),
    oracle = Some(
      s"""WITH d AS (SELECT doc_id,
         |        substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS sk,
         |        ${dTokSet("text")} AS ts
         |      FROM documents),
         |r AS (SELECT doc_id, ts,
         |        row_number() OVER (ORDER BY sk, doc_id) AS rn FROM d),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        floor((CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
         |          / (CAST(len(a.ts) + len(b.ts) AS DOUBLE)
         |             - CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)))
         |          * 1000000.0 + 0.5) / 1000000.0 AS jaccard
         |      FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 5)
         |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin))

  /** Typo-class dedup: EXACT edit-distance ≤ 1 pairs over supplier names
    * via [[Dedup.editDistanceJoin]]'s deletion-neighborhood equi-join
    * (FastSS) — the single-character-corruption sibling the token-set
    * family (Jaccard / containment / MinHash) structurally misses. The
    * oracle is the BRUTE-FORCE quadratic `levenshtein` join over the
    * bounded name domain, so a green row proves the deletion-variant
    * pruning dropped no pair. This fixture only exercises the
    * substitution case (all names are equal length); insert / delete /
    * identity candidates are pinned by TextDedupSpec on a crafted corpus.
    */
  private val dedupEdit1 = QueryDef(
    fn = (spark, dir) =>
      Dedup.editDistanceJoin(
          Tables.supplier(spark, dir), "s_suppkey", "s_name")
        .orderBy("id_a", "id_b"),
    oracle = Some(
      """WITH v AS (SELECT s_suppkey AS id, lower(s_name) AS w FROM supplier)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.w, b.w) AS INTEGER) AS dist
        |FROM v a JOIN v b ON a.id < b.id AND levenshtein(a.w, b.w) <= 1
        |ORDER BY id_a, id_b""".stripMargin))

  /** Okapi BM25 ranked retrieval (k1 = 1.2, b = 0.75) for a fixed 3-term
    * query over the documents corpus — the scored-retrieval step after
    * q_phrase_search's boolean match and q_tfidf_top_terms' per-doc
    * weighting. Two token-keyed aggregations (tf per (doc, term), df per
    * term over the QUERY TERMS only — the explode is filtered to the
    * query vocabulary at the scan, so the shuffled stream is a tiny
    * fraction of the corpus) plus one broadcast 1-row corpus-stats frame;
    * the top-10 cut runs through a rank window over the ≤|terms|·N scored
    * slice, map-side-limited by WindowGroupLimit. Scale: every stage keys
    * on token or doc id (hash-partitionable, no global structure);
    * nothing data-sized is collected or broadcast.
    *
    * Determinism: each per-term score is floor-rounded to 6dp then summed
    * in DECIMAL(18,6) — double addition across terms would be
    * association-ordered and Spark's partial aggregation order is not
    * DuckDB's sequential one. ln() agrees bit-for-bit across the engines'
    * libm on this data (same discipline as q_tfidf_top_terms); the final
    * rank orders by the exact decimal score with doc_id ties. */
  private val bm25Topk = QueryDef(
    fn = (spark, dir) => {
      val terms = Seq("spark", "window", "merge")
      // checkpointed: the tokenized projection feeds THREE consumers
      // (corpus stats, doc lengths, term frequencies) — one tokenization
      // pass instead of three
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .localCheckpoint(false)
      val stats = docs.agg(
        count(lit(1)).cast("double").as("n"),
        (sum(size(col("toks"))).cast("double")
          / count(lit(1)).cast("double")).as("avgdl"))
      val dl = docs.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
      val tok = docs.select(col("doc_id"), explode(col("toks")).as("token"))
        .filter(col("token").isin(terms: _*))
      val tf = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val dfq = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
      val perTerm = tf.join(dfq, "token").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          TextAnalysis.round6(
            log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
              * (col("tf") * 2.2)
              / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("s"))
      perTerm.groupBy(col("doc_id"))
        .agg(sum(col("s")).cast("double").as("bm25"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("bm25").desc, col("doc_id"))))
        .filter(col("rn") <= 10)
        .orderBy("rn")
    },
    oracle = Some(
      s"""WITH docs AS (SELECT doc_id, ${dToks("text")} AS toks FROM documents),
         |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |  CAST(SUM(len(toks)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM docs),
         |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs),
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM docs),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
         |       WHERE token IN ('spark', 'window', 'merge') GROUP BY 1, 2),
         |dfq AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |per_term AS (SELECT tf.doc_id,
         |    CAST(floor(ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
         |      * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS s
         |  FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
         |scored AS (SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS bm25
         |           FROM per_term GROUP BY doc_id)
         |SELECT doc_id, bm25, CAST(row_number() OVER
         |    (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rn
         |FROM scored QUALIFY rn <= 10 ORDER BY rn""".stripMargin))

  /** Hybrid retrieval via reciprocal-rank fusion (Cormack et al., SIGIR
    * 2009, k = 60): the lexical BM25 ranking (q_bm25_topk's pipeline, cut
    * at 20) fused with the semantic cosine ranking (q_sim_ann_brute's
    * ranking for query vector 0, cut at 20) — the standard RAG retrieval
    * stack, where either signal alone misses what the other catches.
    * RRF(d) = Σ_lists 1/(60 + rank_d); absent-from-list contributes 0.
    * Both legs are the proven scale shapes (token-keyed aggs; broadcast
    * query row); the fusion itself is a full-outer join of two ≤20-row
    * frames and a ≤40-row window — free. Contributions are 9dp
    * floor-rounded and added in DECIMAL(18,9) before the double cast, so
    * the fused order replays exactly. */
  private val hybridRrf = QueryDef(
    fn = (spark, dir) => {
      val terms = Seq("spark", "window", "merge")
      // checkpointed for the same three-consumer reason as bm25Topk
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .localCheckpoint(false)
      val stats = docs.agg(
        count(lit(1)).cast("double").as("n"),
        (sum(size(col("toks"))).cast("double")
          / count(lit(1)).cast("double")).as("avgdl"))
      val dl = docs.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
      val tf = docs.select(col("doc_id"), explode(col("toks")).as("token"))
        .filter(col("token").isin(terms: _*))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val dfq = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
      val lex = tf.join(dfq, "token").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          TextAnalysis.round6(
            log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
              * (col("tf") * 2.2)
              / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("s"))
        .groupBy(col("doc_id"))
        .agg(sum(col("s")).cast("double").as("bm25"))
        .withColumn("lex_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("bm25").desc, col("doc_id"))))
        .filter(col("lex_rank") <= 20)
        .select(col("doc_id"), col("lex_rank"))
      val emb = Tables.embeddings(spark, dir)
      val sem = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("sem_rank"))
      val d189 = org.apache.spark.sql.types.DecimalType(18, 9)
      def contrib(r: org.apache.spark.sql.Column) =
        coalesce(floor(lit(1.0) / (lit(60) + r) * 1e9 + 0.5) / 1e9, lit(0.0)).cast(d189)
      lex.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
          (contrib(col("lex_rank")) + contrib(col("sem_rank")))
            .cast("double").as("rrf"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rrf").desc, col("doc_id"))))
        .filter(col("rn") <= 10)
        .orderBy("rn")
    },
    oracle = Some(
      s"""WITH docs AS (SELECT doc_id, ${dToks("text")} AS toks FROM documents),
         |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |  CAST(SUM(len(toks)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM docs),
         |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs),
         |tok AS (SELECT doc_id, unnest(toks) AS token FROM docs),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
         |       WHERE token IN ('spark', 'window', 'merge') GROUP BY 1, 2),
         |dfq AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |per_term AS (SELECT tf.doc_id,
         |    CAST(floor(ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
         |      * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS s
         |  FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
         |lexsc AS (SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS bm25
         |          FROM per_term GROUP BY doc_id),
         |lex AS (SELECT doc_id, CAST(rn AS INTEGER) AS lex_rank FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
         |  FROM lexsc) WHERE rn <= 20),
         |q AS (SELECT vec_id AS query_id, embedding AS qv
         |      FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |semsc AS (SELECT query_id, neighbor_id, ${dCos("qv", "cv")} AS cos
         |          FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
         |sem AS (SELECT neighbor_id AS doc_id, CAST(rank AS INTEGER) AS sem_rank
         |  FROM (SELECT *, row_number() OVER (
         |    ORDER BY cos DESC, neighbor_id ASC) AS rank FROM semsc)
         |  WHERE rank <= 20),
         |f AS (SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         |             l.lex_rank, s.sem_rank
         |      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id),
         |r AS (SELECT doc_id, lex_rank, sem_rank,
         |    CAST(CAST(COALESCE(floor(1.0 / (60 + lex_rank)
         |        * 1000000000.0 + 0.5) / 1000000000.0, 0.0) AS DECIMAL(18,9))
         |      + CAST(COALESCE(floor(1.0 / (60 + sem_rank)
         |        * 1000000000.0 + 0.5) / 1000000000.0, 0.0) AS DECIMAL(18,9))
         |      AS DOUBLE) AS rrf
         |  FROM f)
         |SELECT doc_id, lex_rank, sem_rank, rrf,
         |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rn
         |FROM r QUALIFY rn <= 10 ORDER BY rn""".stripMargin))

  /** The distributed half of BPE vocabulary induction: adjacent-symbol
    * pair counts over the word-frequency table — the argmax of this
    * frame IS the next merge rule, and re-running the count after each
    * (cheap, local) merge apply is exactly how BPE training iterates at
    * corpus scale. Counting on the DISTINCT-word frame weighted by word
    * frequency (not the raw token stream) is the standard trick: the
    * pair explode runs over vocabulary-sized input — corpus growth only
    * fattens the integer weights, not the exploded row count. One
    * vocabulary-keyed aggregation, one in-stage index expansion
    * (`transform` over 1..len-1 — single-char words filtered first,
    * since a descending `sequence(1, 0)` would fabricate indices), one
    * domain-sized pair aggregation; the top-10 window orders a
    * ≤alphabet² frame. */
  private val bpePairs = QueryDef(
    fn = (spark, dir) => {
      val wf = Tables.documents(spark, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      wf.select(col("cnt"), split(col("word"), "").as("cs"))
        .filter(size(col("cs")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(cs) - 1),
            |  i -> struct(element_at(cs, i) AS a, element_at(cs, i + 1) AS b))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("a"), col("b"))))
        .filter(col("rn") <= 10)
        .orderBy("rn")
    },
    oracle = Some(
      s"""WITH w AS (SELECT unnest(${dToks("text")}) AS word FROM documents),
         |wf AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
         |ch AS (SELECT cnt, regexp_split_to_array(word, '') AS cs FROM wf),
         |pairs AS (SELECT cs[i] AS a, cs[i+1] AS b, cnt
         |          FROM ch, unnest(range(1, len(cs))) t(i)),
         |pc AS (SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS n
         |       FROM pairs GROUP BY a, b)
         |SELECT a, b, n,
         |  CAST(row_number() OVER (ORDER BY n DESC, a, b) AS INTEGER) AS rn
         |FROM pc QUALIFY rn <= 10 ORDER BY rn""".stripMargin))

  /** The BPE merge APPLICATION step — the other half of tokenizer
    * induction (q_bpe_pairs counts; this applies the argmax merge and
    * recounts, i.e. one full training iteration). The top pair (ordered
    * by count desc, then a, b; SELF-pairs a = b excluded so leftmost-
    * greedy application reduces to an independent positional predicate —
    * with a ≠ b two merge sites can never overlap) is resolved on the
    * driver from the vocabulary-sized pair table (metadata-class, the
    * merge table IS driver state in every real BPE trainer) and embedded
    * as literals. Each word then rewrites its symbol stream (merge sites
    * emit the fused symbol, their right halves drop) and pairs are
    * recounted — the fused symbol now participates in new pairs on both
    * sides, exactly like iteration 2 of Sennrich et al.'s algorithm.
    *
    * Scale shape: identical to q_bpe_pairs — all heavy work is keyed on
    * the WORD VOCABULARY (corpus growth fattens `cnt` weights, not rows),
    * the rewrite is a scan-stage array transform, and the recount is a
    * map-side-combinable weighted aggregation over symbol pairs.
    */
  /** Per-word symbol-frequency base of the BPE family: (cnt, cs) with cs
    * the word's character array — vocabulary-sized. Sole caller is the
    * [[trainedBpe]] memo builder, which eagerly checkpoints it as
    * frames(0) of the training chain. */
  private def bpeWordFreq(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), split(col("word"), "").as("cs"))

  /** Adjacent-pair counts over a (cnt, symbol-array) frame — the BPE
    * statistic, keyed on the (bounded) symbol-pair domain. */
  private def bpePairCounts(df: org.apache.spark.sql.DataFrame,
      csCol: String): org.apache.spark.sql.DataFrame = df
    .filter(size(col(csCol)) >= 2)
    .select(col("cnt"), explode(expr(
      s"""transform(sequence(1, size($csCol) - 1),
         |  i -> struct(element_at($csCol, i) AS a, element_at($csCol, i + 1) AS b))"""
        .stripMargin)).as("p"))
    .groupBy(col("p.a").as("a"), col("p.b").as("b"))
    .agg(sum(col("cnt")).as("n"))

  /** Argmax mergeable pair (a <> b, ties by (a, b) asc) or a loud error. */
  private def bpeTopPair(pairs: org.apache.spark.sql.DataFrame, what: String)
      : (String, String, Long) = {
    val top = pairs.filter(col("a") =!= col("b"))
      .orderBy(col("n").desc, col("a"), col("b")).limit(1)
      .collect().headOption.getOrElse(throw new IllegalStateException(
        s"$what requires at least one mergeable adjacent " +
          "symbol pair (corpus has no 2+-character words)"))
    (top.getString(0), top.getString(1), top.getLong(2))
  }

  /** One BPE merge applied to a symbol array column. Column-built (no
    * literal splicing): merge sites emit the fused symbol, their right
    * halves drop; with a != b sites cannot overlap. */
  private def bpeApplyMerge(cs: String, ma: String, mb: String)
      : org.apache.spark.sql.Column =
    filter(
      transform(sequence(lit(1), size(col(cs))), i =>
        when(i < size(col(cs))
            && element_at(col(cs), i) === ma
            && element_at(col(cs), i + 1) === mb, lit(ma + mb))
          .when(i > lit(1)
            && element_at(col(cs), i - 1) === ma
            && element_at(col(cs), i) === mb, lit(null).cast("string"))
          .otherwise(element_at(col(cs), i))),
      x => x.isNotNull)

  /** Memoized k-round BPE training chain: the trained merge table
    * (driver rows — the artifact a real BPE trainer ships) plus the
    * word-frequency frame after EACH round (frames(0) = the raw
    * char-split vocabulary, frames(i) = after i merges; all eagerly
    * checkpointed). Training is deterministic model fitting — the same
    * session-memo discipline as the Lloyd-trained IVF chain
    * (trainedIvfCells): q_bpe_train_k reports the merge table,
    * q_bpe_encode the before/after budget stats, q_bpe_merge_step the
    * post-merge pair counts; each previously re-ran its training rounds
    * (driver argmax collect + vocabulary rewrite per round) on EVERY
    * construction — 5 collect barriers per pass for the k=5 queries. */
  private def trainedBpe(spark: org.apache.spark.sql.SparkSession,
      dir: String, k: Int): (Seq[org.apache.spark.sql.Row],
      IndexedSeq[org.apache.spark.sql.DataFrame]) =
    SessionCache.memo(spark, dir, s"bpe-$k") {
      val frames = IndexedSeq.newBuilder[org.apache.spark.sql.DataFrame]
      var wf = bpeWordFreq(spark, dir).localCheckpoint(true)
      frames += wf
      val merges = Seq.newBuilder[org.apache.spark.sql.Row]
      for (step <- 1 to k) {
        val (ma, mb, n) =
          bpeTopPair(bpePairCounts(wf, "cs"), s"BPE training (k=$k)")
        merges += org.apache.spark.sql.Row(step, ma, mb, n)
        wf = wf.withColumn("cs", bpeApplyMerge("cs", ma, mb))
          .localCheckpoint(true)
        frames += wf
      }
      (merges.result(), frames.result())
    }

  private val bpeMergeStep = QueryDef(
    fn = (spark, dir) => {
      // first trained merge (the k=1 argmax — identical to training's
      // round 1 on the same vocabulary); the rewrite + recount still run
      // per pass over the memoized char-split frame
      val (merges, frames) = trainedBpe(spark, dir, 5)
      val wf = frames(0)
      val (ma, mb) = (merges.head.getString(1), merges.head.getString(2))
      val merged = wf.withColumn("ms", bpeApplyMerge("cs", ma, mb))
      bpePairCounts(merged, "ms")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("a"), col("b"))))
        .filter(col("rn") <= 10)
        .orderBy("rn")
    },
    oracle = Some(
      s"""WITH w AS (SELECT unnest(${dToks("text")}) AS word FROM documents),
         |wf AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
         |ch AS (SELECT cnt, regexp_split_to_array(word, '') AS cs FROM wf),
         |p0 AS (SELECT cs[i] AS a, cs[i+1] AS b, CAST(SUM(cnt) AS BIGINT) AS n
         |       FROM ch, unnest(range(1, len(cs))) t(i) GROUP BY 1, 2),
         |top AS (SELECT a, b FROM p0 WHERE a <> b
         |        ORDER BY n DESC, a, b LIMIT 1),
         |mg AS (SELECT cnt, list_filter(
         |         list_transform(range(1, len(cs) + 1), i ->
         |           CASE WHEN i < len(cs) AND cs[i] = top.a AND cs[i+1] = top.b
         |                THEN top.a || top.b
         |                WHEN i > 1 AND cs[i-1] = top.a AND cs[i] = top.b
         |                THEN NULL
         |                ELSE cs[i] END),
         |         x -> x IS NOT NULL) AS ms
         |       FROM ch CROSS JOIN top),
         |pc AS (SELECT ms[i] AS a, ms[i+1] AS b, CAST(SUM(cnt) AS BIGINT) AS n
         |       FROM mg, unnest(range(1, len(ms))) t(i)
         |       WHERE len(ms) >= 2 GROUP BY 1, 2)
         |SELECT a, b, n,
         |  CAST(row_number() OVER (ORDER BY n DESC, a, b) AS INTEGER) AS rn
         |FROM pc QUALIFY rn <= 10 ORDER BY rn""".stripMargin))

  /** Multi-step BPE TRAINING (k = 5 merges) — the full tokenizer-training
    * loop q_bpe_merge_step demonstrates one round of: per round, count
    * adjacent symbol pairs ([[bpePairCounts]]), pick the argmax mergeable
    * pair (a <> b, ties by (a, b) — deterministic), apply the merge to
    * every word ([[bpeApplyMerge]]) and iterate on the REWRITTEN symbol
    * arrays, so later rounds merge fused symbols ("th"+"e" → "the") —
    * genuine BPE induction, not five independent first merges. Output is
    * the trained MERGE TABLE (step, a, b, n at selection time): exactly
    * the artifact a BPE tokenizer ships. Scale shape: the driver loop
    * moves only the k argmax rows; each round's heavy work is one
    * symbol-pair-domain aggregation over the checkpointed
    * vocabulary-sized word-frequency frame ([[bpeWordFreq]] built ONCE,
    * rewritten in place per round — never re-scanning documents). The
    * oracle replays the identical 5 chained rounds as CTEs; k is a query
    * constant, so the SQL is static.
    */
  private val bpeTrainK = QueryDef(
    fn = (spark, dir) => {
      // the trained merge table comes from the memoized training chain
      // (per-round argmax + rewrite, eager checkpoints keeping lineage
      // flat); this query re-emits it as a LocalRelation per pass
      val merges = trainedBpe(spark, dir, 5)._1
      spark.createDataFrame(
        java.util.Arrays.asList[org.apache.spark.sql.Row](merges: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("step",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("a",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .orderBy("step")
    },
    oracle = Some {
      val steps = (1 to 5).map(r =>
        s"SELECT CAST($r AS INTEGER) AS step, a, b, n FROM t$r")
        .mkString("\nUNION ALL\n")
      s"""WITH $dBpeChain
         |$steps
         |ORDER BY step""".stripMargin
    })

  /** The k = 5 chained BPE rounds as CTEs (ch0 = char split of the word
    * vocabulary, p$r/t$r/ch$r per round) — shared by the trainer's and
    * the encoder's oracles. */
  private def dBpeChain: String = {
    val rounds = (1 to 5).map { r =>
      s"""p$r AS (SELECT cs[i] AS a, cs[i+1] AS b, CAST(SUM(cnt) AS BIGINT) AS n
         |       FROM ch${r - 1}, unnest(range(1, len(cs))) t(i) GROUP BY 1, 2),
         |t$r AS (SELECT a, b, n FROM p$r WHERE a <> b
         |        ORDER BY n DESC, a, b LIMIT 1),
         |ch$r AS (SELECT cnt, list_filter(
         |         list_transform(range(1, len(cs) + 1), i ->
         |           CASE WHEN i < len(cs) AND cs[i] = t.a AND cs[i+1] = t.b
         |                THEN t.a || t.b
         |                WHEN i > 1 AND cs[i-1] = t.a AND cs[i] = t.b
         |                THEN NULL
         |                ELSE cs[i] END),
         |         x -> x IS NOT NULL) AS cs
         |       FROM ch${r - 1} CROSS JOIN t$r t)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT unnest(${dToks("text")}) AS word FROM documents),
       |wf AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
       |ch0 AS (SELECT cnt, regexp_split_to_array(word, '') AS cs FROM wf),
       |$rounds""".stripMargin
  }

  /** ENCODE the corpus with the k = 5 trained merges and report the
    * token-budget compression: total symbol count before (characters)
    * and after (BPE symbols), weighted by word frequency — i.e. the
    * corpus length a downstream token budget would be charged under the
    * trained tokenizer vs raw characters. The ratio is integer-exact
    * (×1e6 integer division). Training and encoding share the SAME
    * vocabulary-sized chain (the corpus is scanned once for word
    * frequencies; every round is a vocab-scale rewrite), so "encode the
    * corpus" costs no corpus-scale second pass — the per-word final
    * symbol count multiplied by the word's frequency IS the corpus
    * encoding length. Oracle replays the identical 5 rounds. */
  private val bpeEncode = QueryDef(
    fn = (spark, dir) => {
      // before/after frames come from the memoized training chain
      // (frames(0) = char-split vocabulary, frames(5) = after the 5
      // trained merges); the budget aggregates still run per pass
      val frames = trainedBpe(spark, dir, 5)._2
      val before = frames(0).agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * size(col("cs"))).as("symbols_before"))
      val after = frames(5)
        .agg(sum(col("cnt") * size(col("cs"))).as("symbols_after"))
      before.crossJoin(after)
        .select(col("n_words"), col("symbols_before"), col("symbols_after"),
          (col("symbols_before") - col("symbols_after")).as("saved"),
          expr("symbols_after * 1000000 div symbols_before").as("ratio_e6"))
    },
    oracle = Some(
      s"""WITH $dBpeChain,
         |be AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_words,
         |         CAST(SUM(cnt * len(cs)) AS BIGINT) AS symbols_before
         |       FROM ch0),
         |af AS (SELECT CAST(SUM(cnt * len(cs)) AS BIGINT) AS symbols_after
         |       FROM ch5)
         |SELECT n_words, symbols_before, symbols_after,
         |  symbols_before - symbols_after AS saved,
         |  symbols_after * 1000000 // symbols_before AS ratio_e6
         |FROM be CROSS JOIN af""".stripMargin))

  /** Zipf-law fit over the token frequency distribution: log-log OLS of
    * ln(count) on ln(rank) for the top-100 tokens — the standard corpus
    * sanity check (natural text fits slope ≈ −1; a synthetic or
    * template-heavy corpus bends away). The rank window is
    * VOCABULARY-sized (the bpePairs/cmsTopk domain-bounded-singleton
    * argument); each ln term is 9dp floor-rounded and the OLS sufficient
    * statistics are exact DECIMAL products summed over a fixed 100 rows
    * (the q_regr_ols discipline), so both engines derive bit-identical
    * slope/intercept/R².
    */
  private val zipfFit = QueryDef(
    fn = (spark, dir) => {
      val d189 = org.apache.spark.sql.types.DecimalType(18, 9)
      def t9(c: org.apache.spark.sql.Column) =
        (floor(c * 1e9 + 0.5) / 1e9).cast(d189)
      val tf = Tables.documents(spark, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("tok"))))
        .filter(col("rank") <= 100)
      val agg = tf
        .select(t9(log(col("rank").cast("double"))).as("x"),
          t9(log(col("c").cast("double"))).as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sxd"), sum(col("x") * col("x")).as("sxxd"),
          sum(col("y")).as("syd"), sum(col("y") * col("y")).as("syyd"),
          sum(col("x") * col("y")).as("sxyd"))
      val n = col("n").cast("double")
      val sx = col("sxd").cast("double"); val sxx = col("sxxd").cast("double")
      val sy = col("syd").cast("double"); val syy = col("syyd").cast("double")
      val sxy = col("sxyd").cast("double")
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      agg.select(col("n"),
        TextAnalysis.round6(slope).as("zipf_slope"),
        TextAnalysis.round6((sy - slope * sx) / n).as("intercept"),
        TextAnalysis.round6(((n * sxy - sx * sy) * (n * sxy - sx * sy))
          / ((n * sxx - sx * sx) * (n * syy - sy * sy))).as("r2"))
    },
    oracle = Some(
      s"""WITH w AS (SELECT unnest(${dToks("text")}) AS tok FROM documents),
         |tf AS (SELECT tok, COUNT(*) AS c FROM w GROUP BY tok),
         |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank
         |      FROM tf QUALIFY rank <= 100),
         |xy AS (SELECT
         |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000000.0 + 0.5)
         |         / 1000000000.0 AS DECIMAL(18,9)) AS x,
         |    CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000000.0 + 0.5)
         |         / 1000000000.0 AS DECIMAL(18,9)) AS y
         |  FROM r),
         |s AS (SELECT COUNT(*) AS n,
         |    CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
         |    CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
         |    CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
         |    CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
         |    CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
         |  FROM xy)
         |SELECT n,
         |  floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS zipf_slope,
         |  floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
         |    * 1000000.0 + 0.5) / 1000000.0 AS intercept,
         |  floor((((n * sxy - sx * sy) * (n * sxy - sx * sy))
         |         / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
         |    * 1000000.0 + 0.5) / 1000000.0 AS r2
         |FROM s""".stripMargin))

  /** Per-source embedding-centroid drift: cosine of each source's mean
    * embedding against the corpus mean — the SEMANTIC sibling of
    * q_kl_divergence's token drift (a shard whose content shifts shows up
    * here even when its token mix doesn't). Every value is quantized to
    * an exact integer (floor(v·1e6 + 0.5), the q_emb_project discipline)
    * so the per-(source, dim) and corpus-dim sums are exact BIGINTs;
    * count factors cancel in the cosine, so the score is computed from
    * the raw sums with DECIMAL(38,0) products (int128 on the oracle
    * side) and ONE double cast at the end — no float accumulation
    * anywhere. Scale shape: one narrow (source, dim)-keyed aggregation
    * (dims × sources cells), one dim-keyed corpus aggregation, and a
    * dims-sized join — nothing data-sized after the first combinable
    * pass.
    */
  /** Embedding-norm profile per label — the vector-table health check a
    * pipeline runs before indexing (a zero-norm or wildly-scaled batch
    * breaks cosine retrieval silently; this table is where it shows):
    * per label, count, min / max / mean L2 norm and the zero-norm count.
    * Norms are sqrt of the fixed-fold dot (IEEE-exact composition), 9dp
    * floor-pinned per row, aggregated with DECIMAL sums (min/max are
    * order-free; the mean must not be a shuffle-order-dependent double
    * sum — house discipline). Scale shape: one scan-local projection +
    * one partial-aggregatable groupBy(label). */
  private val embNormStats = QueryDef(
    fn = (spark, dir) => {
      val n9 = (floor(Similarity.norm(col("embedding")) * 1e9 + 0.5) / 1e9)
        .cast(org.apache.spark.sql.types.DecimalType(28, 9))
      Tables.embeddings(spark, dir)
        .select(col("label"), n9.as("n9"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("n9") === 0, 1L).otherwise(0L)).as("n_zero"),
          (min(col("n9")) * 1000000000L).cast("long").as("min_norm_e9"),
          (max(col("n9")) * 1000000000L).cast("long").as("max_norm_e9"),
          floor((sum(col("n9")).cast("double") / count(lit(1)))
            * 1e6 + 0.5).cast("long").as("mean_norm_e6"))
        .orderBy("label")
    },
    oracle = Some(
      s"""WITH v AS (SELECT label,
         |    CAST(floor(sqrt(${dDot("embedding", "embedding")})
         |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS n9
         |  FROM embeddings)
         |SELECT label, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN n9 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |  CAST(MIN(n9) * 1000000000 AS BIGINT) AS min_norm_e9,
         |  CAST(MAX(n9) * 1000000000 AS BIGINT) AS max_norm_e9,
         |  CAST(floor((CAST(SUM(n9) AS DOUBLE) / COUNT(*))
         |    * 1000000.0 + 0.5) AS BIGINT) AS mean_norm_e6
         |FROM v GROUP BY label ORDER BY label""".stripMargin))

  private val embDrift = QueryDef(
    fn = (spark, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val e = Tables.embeddings(spark, dir)
        .join(Tables.documents(spark, dir)
          .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
        .select(col("source"), col("vec_id"), posexplode(expr(
          "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")))
        .select(col("source"), col("vec_id"), col("pos"), col("col").as("q"))
        .localCheckpoint(false) // three consumers of the quantized explode
      val ssum = e.groupBy(col("source"), col("pos")).agg(sum(col("q")).as("sd"))
      val scnt = e.groupBy(col("source")).agg(countDistinct(col("vec_id")).as("n_vecs"))
      val csum = e.groupBy(col("pos")).agg(sum(col("q")).as("cd"))
      ssum.join(csum, "pos")
        .groupBy(col("source"))
        .agg(sum(col("sd").cast(d38) * col("cd").cast(d38)).as("dot"),
          sum(col("sd").cast(d38) * col("sd").cast(d38)).as("ss"),
          sum(col("cd").cast(d38) * col("cd").cast(d38)).as("cc"))
        .join(scnt, "source")
        .select(col("source"), col("n_vecs"),
          TextAnalysis.round6(col("dot").cast("double")
            / (sqrt(col("ss").cast("double")) * sqrt(col("cc").cast("double"))))
            .as("cos_to_corpus"))
        .orderBy("source")
    },
    oracle = Some(
      """WITH e AS (
        |  SELECT d.source, v.vec_id, i AS pos,
        |    CAST(floor(CAST(v.embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
        |  FROM embeddings v JOIN documents d ON v.vec_id = d.doc_id,
        |       unnest(range(1, len(v.embedding) + 1)) t(i)),
        |ssum AS (SELECT source, pos, SUM(q) AS sd FROM e GROUP BY source, pos),
        |scnt AS (SELECT source, COUNT(DISTINCT vec_id) AS n_vecs FROM e GROUP BY source),
        |csum AS (SELECT pos, SUM(q) AS cd FROM e GROUP BY pos),
        |dots AS (SELECT s.source,
        |           SUM(CAST(s.sd AS HUGEINT) * CAST(c.cd AS HUGEINT)) AS dot,
        |           SUM(CAST(s.sd AS HUGEINT) * CAST(s.sd AS HUGEINT)) AS ss,
        |           SUM(CAST(c.cd AS HUGEINT) * CAST(c.cd AS HUGEINT)) AS cc
        |         FROM ssum s JOIN csum c USING (pos) GROUP BY s.source)
        |SELECT dt.source, sc.n_vecs,
        |  floor((CAST(dot AS DOUBLE)
        |         / (sqrt(CAST(ss AS DOUBLE)) * sqrt(CAST(cc AS DOUBLE))))
        |    * 1000000.0 + 0.5) / 1000000.0 AS cos_to_corpus
        |FROM dots dt JOIN scnt sc USING (source) ORDER BY dt.source""".stripMargin))

  /** Per-source token-distribution drift: KL(source ‖ corpus) — the
    * data-quality probe that flags a crawl shard whose language suddenly
    * shifts before it poisons a training mix. Two token-keyed
    * aggregations (per-source counts, corpus counts) and one broadcast
    * of the source totals; every per-token term is floor-rounded to 9dp
    * and summed in DECIMAL(18,9) (the BM25 discipline — double addition
    * across tokens would be association-ordered), so the oracle replays
    * the identical sum. Sources are disjoint slices of the corpus, so
    * q_s > 0 whenever p_s > 0 and the KL is always finite. */
  private val klDivergence = QueryDef(
    fn = (spark, dir) => {
      val tok = Tables.documents(spark, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      // vocab×source-domain count table, checkpointed: ns/cq/the final
      // term join all re-reference it, each re-planning the documents
      // tokenize scan (4 corpus scans; ScanCountLintSpec)
      val cs = tok.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
        .memoCheckpoint(spark, dir, "kl_source_counts")
      val ns = cs.groupBy(col("source")).agg(sum(col("c")).cast("double").as("n_s"))
      val cq = cs.groupBy(col("token")).agg(sum(col("c")).cast("double").as("c_q"))
      val nq = cq.agg(sum(col("c_q")).as("n_q"))
      val p = col("c").cast("double") / col("n_s")
      val q = col("c_q") / col("n_q")
      cs.join(broadcast(ns), "source").join(cq, "token").crossJoin(broadcast(nq))
        .select(col("source"),
          (floor(p * log(p / q) * 1e9 + 0.5) / 1e9)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("term"))
        .groupBy(col("source"))
        .agg(sum(col("term")).cast("double").as("kl"))
        .orderBy("source")
    },
    oracle = Some(
      s"""WITH tok AS (SELECT source, unnest(${dToks("text")}) AS token
         |             FROM documents),
         |cs AS (SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |ns AS (SELECT source, CAST(SUM(c) AS DOUBLE) AS n_s FROM cs GROUP BY 1),
         |cq AS (SELECT token, CAST(SUM(c) AS DOUBLE) AS c_q FROM cs GROUP BY 1),
         |nq AS (SELECT CAST(SUM(c_q) AS DOUBLE) AS n_q FROM cq),
         |terms AS (SELECT cs.source,
         |    CAST(floor((CAST(cs.c AS DOUBLE) / ns.n_s)
         |        * ln((CAST(cs.c AS DOUBLE) / ns.n_s) / (cq.c_q / nq.n_q))
         |        * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(18,9)) AS term
         |  FROM cs JOIN ns USING (source) JOIN cq USING (token) CROSS JOIN nq)
         |SELECT source, CAST(SUM(term) AS DOUBLE) AS kl
         |FROM terms GROUP BY source ORDER BY source""".stripMargin))

  /** Bigram-LM cross-entropy scoring — the CCNet-style perplexity filter
    * (Wenzek et al., LREC 2020): docs whose token stream surprises a
    * language model trained on the corpus itself are boilerplate/noise
    * candidates (high score) or degenerate repetition (low score). The
    * "LM" is the corpus bigram table with add-one smoothing, so training
    * IS two token-keyed aggregations (bigram counts, unigram
    * continuation counts) — no gradient, fully replayable. Score = mean
    * of -ln((c(a,b)+1)/(c(a)+V)) over the doc's bigrams.
    *
    * Scale shape: the bigram explode is in-stage (transform over
    * 1..len-1); count tables join back on high-cardinality token keys
    * (unhinted — at real vocabulary they exceed broadcast size, AQE
    * decides); V is a 1-row broadcast; the final agg is doc-keyed. Each
    * per-bigram term is floor-rounded to 9dp and summed in
    * DECIMAL(18,9) — the q_kl_divergence discipline — so the mean's
    * numerator is association-order-free and the oracle replays it. */
  private val lmPerplexity = QueryDef(
    fn = (spark, dir) => {
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      // the narrow (doc_id, a, b) bigram stream is checkpointed: the
      // two count tables and the scoring join all re-reference it, and
      // un-materialized each reference re-planned the documents
      // tokenize+explode (4 corpus scans; ScanCountLintSpec). One
      // materialization of three string columns vs three repeated
      // tokenize passes is the trade a production scorer makes too
      // (count tables are built once, then the stream re-joins them).
      val bg = d.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(toks) - 1),
            |  i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"""
            .stripMargin)).as("p"))
        .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
        .memoCheckpoint(spark, dir, "lm_bigrams")
      val bc = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      val uc = bg.groupBy(col("a")).agg(count(lit(1)).as("ca"))
      val v = d.select(explode(col("toks")).as("tok"))
        .agg(countDistinct(col("tok")).as("vs"))
      bg.join(bc, Seq("a", "b")).join(uc, Seq("a")).crossJoin(broadcast(v))
        .select(col("doc_id"),
          (floor(-log((col("cab").cast("double") + 1.0)
              / (col("ca").cast("double") + col("vs").cast("double")))
            * 1e9 + 0.5) / 1e9)
            .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          (floor((sum(col("h")).cast("double") / count(lit(1)))
            * 1e6 + 0.5) / 1e6).as("cross_entropy"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH d AS (SELECT doc_id, ${dToks("text")} AS toks FROM documents),
         |bg AS (SELECT doc_id, toks[i] AS a, toks[i+1] AS b
         |       FROM d, unnest(range(1, len(toks))) t(i)
         |       WHERE len(toks) >= 2),
         |bc AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY a, b),
         |uc AS (SELECT a, COUNT(*) AS ca FROM bg GROUP BY a),
         |v AS (SELECT COUNT(DISTINCT t.tok) AS vs
         |      FROM (SELECT unnest(toks) AS tok FROM d) t),
         |terms AS (SELECT g.doc_id,
         |    CAST(floor(-ln((CAST(bc.cab AS DOUBLE) + 1.0)
         |                   / (CAST(uc.ca AS DOUBLE) + CAST(v.vs AS DOUBLE)))
         |         * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(18,9)) AS h
         |  FROM bg g JOIN bc ON g.a = bc.a AND g.b = bc.b
         |  JOIN uc ON g.a = uc.a CROSS JOIN v)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  floor((CAST(SUM(h) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS cross_entropy
         |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Join-size estimation from Count-Min sketches (the AMS/CMS
    * inner-product estimator — Cormode & Muthukrishnan, J.Alg 2005 §4.2):
    * |A ⋈ B| = Σ_k f_A(k)·f_B(k) is estimated by the minimum over hash
    * rows of the sketch-row dot product, one-sided (≥ exact, error ≤
    * ‖A‖₁·‖B‖₁/width per row) — what a cost-based optimizer consults
    * BEFORE running a join it cannot afford to mis-plan. Two probes: the
    * orders×customer key join, and lineitem's SELF-join size on suppkey
    * (= the second frequency moment F2, the canonical skew signal). Each
    * sketch build is one map-side-combinable aggregation to depth×width
    * cells regardless of input size; the dot product joins two 1024-cell
    * frames. The exact sides are data-sized joins/aggregations emitted
    * only as the verification contract (same pattern as q_cms_topk's
    * exact top-20). Estimates are deterministic: md5-fold cell hashes,
    * integer counters, integer dot products — the oracle rebuilds
    * identical sketches in SQL. */
  private val cmsJoinSize = QueryDef(
    fn = (spark, dir) => {
      val w = 256; val depth = 4
      def sketch(keys: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        keys.select(explode(Sketches.cmsCells(col("k").cast("string"), depth, w)).as("c"))
          .groupBy(col("c.d").as("d"), col("c.cell").as("cell"))
          .agg(count(lit(1)).as("cnt"))
      def estimatePre(sa: org.apache.spark.sql.DataFrame,
          sb: org.apache.spark.sql.DataFrame) =
        sa.as("x").join(sb.as("y"), Seq("d", "cell"))
          .groupBy(col("d")).agg(sum(col("x.cnt") * col("y.cnt")).as("ip"))
          .agg(min(col("ip")).as("est_n"))
      def estimate(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        estimatePre(sketch(a), sketch(b))
      val o = Tables.orders(spark, dir).select(col("o_custkey").as("k"))
      val c = Tables.customer(spark, dir).select(col("c_custkey").as("k"))
      val l = Tables.lineitem(spark, dir).select(col("l_suppkey").as("k"))
      // the self-join estimate would hash the 600k-key stream TWICE (x and
      // y sides are the same subplan); checkpoint the 1024-cell sketch so
      // it builds once (frame is sketch-sized, not data-sized)
      val sl = sketch(l).localCheckpoint(false)
      val exactOC = o.join(c, "k").agg(count(lit(1)).as("exact_n"))
      val exactLL = l.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt") * col("cnt")).as("exact_n"))
      def row(name: String, exact: org.apache.spark.sql.DataFrame,
          est: org.apache.spark.sql.DataFrame) =
        exact.crossJoin(est).select(lit(name).as("join_name"),
          col("exact_n"), col("est_n"),
          (col("est_n") >= col("exact_n")).as("overestimate_only"))
      row("lineitem_self_suppkey", exactLL, estimatePre(sl, sl))
        .union(row("orders_x_customer", exactOC, estimate(o, c)))
        .orderBy("join_name")
    },
    oracle = Some {
      def cell(d: String) = Sketches.cmsCellSql(dHash32, "k", d, 256)
      def sk(src: String) =
        s"""(SELECT d, ${cell("d")} AS cell, COUNT(*) AS cnt
           | FROM $src, range(0, 4) t(d) GROUP BY 1, 2)""".stripMargin
      s"""WITH ko AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
         |kc AS (SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer),
         |kl AS (SELECT CAST(l_suppkey AS VARCHAR) AS k FROM lineitem),
         |est_oc AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_n FROM (
         |  SELECT x.d, SUM(x.cnt * y.cnt) AS ip
         |  FROM ${sk("ko")} x JOIN ${sk("kc")} y USING (d, cell) GROUP BY 1)),
         |est_ll AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_n FROM (
         |  SELECT x.d, SUM(x.cnt * y.cnt) AS ip
         |  FROM ${sk("kl")} x JOIN ${sk("kl")} y USING (d, cell) GROUP BY 1)),
         |ex_oc AS (SELECT COUNT(*) AS exact_n
         |          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         |ex_ll AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS exact_n FROM (
         |  SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey))
         |SELECT 'lineitem_self_suppkey' AS join_name, ex_ll.exact_n,
         |  est_ll.est_n, est_ll.est_n >= ex_ll.exact_n AS overestimate_only
         |FROM ex_ll, est_ll
         |UNION ALL
         |SELECT 'orders_x_customer', ex_oc.exact_n,
         |  est_oc.est_n, est_oc.est_n >= ex_oc.exact_n
         |FROM ex_oc, est_oc
         |ORDER BY join_name""".stripMargin
    })

  /** Cluster topic labeling via c-TF-IDF (the BERTopic/cluster-card
    * reduction): for every near-dup component with ≥ 2 members, the top-3
    * characteristic tokens scored tf·ln((N+1)/cdf) — term frequency
    * WITHIN the cluster × inverse CLUSTER frequency (cdf = how many
    * clusters contain the token, N = cluster count). The corpus-curation
    * companion to q_dedup_components: "what IS this duplicate cluster
    * about", computed without touching any text twice.
    *
    * Composes the memoized minhash pair graph → components chain (sixth+
    * consumer — the chains run once per session). Scale shape: tokens
    * explode only for CLUSTER MEMBERS (the near-dup subset, corpus-scale
    * invariant: dup clusters are a bounded fraction); tf and cdf are
    * token-keyed partial-aggregatable shuffles; the cluster count is a
    * 1-row broadcast; ranking is a window over (comp) — high-cardinality
    * key, ≤ vocabulary rows per frame. Both lns take integer arguments,
    * the idf is 9dp floor-rounded, and the rank orders by the EXACT
    * DECIMAL(28,9) score (a (10,0)×(18,9) product — kept under Spark's
    * 38-digit cap so neither engine rescales) with token tie-breaks.
    */
  private val clusterTerms = QueryDef(
    fn = (spark, dir) => {
      val d100 = org.apache.spark.sql.types.DecimalType(10, 0)
      val comps = minhashComps(spark, dir)
      val sizes = comps.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
        .filter(col("sz") >= 2)
      val members = comps.join(sizes.select(col("comp")), Seq("comp"))
      val toks = dedupDocs(spark, dir)
        .join(members, Seq("doc_id"))
        .select(col("comp"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      val tf = toks.groupBy(col("comp"), col("token")).agg(count(lit(1)).as("tf"))
      val nComp = sizes.agg(count(lit(1)).as("nc"))
      val cdf = tf.groupBy(col("token")).agg(count(lit(1)).as("cdf"))
      val d189 = org.apache.spark.sql.types.DecimalType(18, 9)
      val scored = tf.join(cdf, Seq("token")).crossJoin(broadcast(nComp))
        .withColumn("idf",
          (floor((log(col("nc") + 1) - log(col("cdf"))) * 1e9 + 0.5) / 1e9).cast(d189))
        .withColumn("score", col("tf").cast(d100) * col("idf"))
      Similarity.topK(scored, "comp", "score", "token", 3)
        .select(col("comp"), col("rank"), col("token"), col("tf"),
          (floor(col("score").cast("double") * 1e6 + 0.5) / 1e6).as("score"))
        .orderBy("comp", "rank")
    },
    oracle = Some(
      s"""WITH RECURSIVE $minhashOracle,
         |$componentsFromJac,
         |sizes AS (SELECT comp, COUNT(*) AS sz FROM comp GROUP BY comp
         |          HAVING COUNT(*) >= 2),
         |toks AS (SELECT c.comp, unnest(${dToks("d.text")}) AS token
         |         FROM documents d
         |         JOIN comp c ON d.doc_id = c.id
         |         JOIN sizes s ON c.comp = s.comp),
         |tf AS (SELECT comp, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |nc AS (SELECT COUNT(*) AS nc FROM sizes),
         |cdf AS (SELECT token, COUNT(*) AS cdf FROM tf GROUP BY token),
         |sc AS (SELECT tf.comp, tf.token, tf.tf,
         |    CAST(tf.tf AS DECIMAL(10,0))
         |      * CAST(floor((ln(nc.nc + 1) - ln(cdf.cdf)) * 1000000000.0 + 0.5)
         |             / 1000000000.0 AS DECIMAL(18,9)) AS score
         |  FROM tf JOIN cdf USING (token) CROSS JOIN nc),
         |r AS (SELECT comp, token, tf, score,
         |    row_number() OVER (PARTITION BY comp ORDER BY score DESC, token) AS rank
         |  FROM sc)
         |SELECT comp, CAST(rank AS INTEGER) AS rank, token, tf,
         |  floor(CAST(score AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS score
         |FROM r WHERE rank <= 3 ORDER BY comp, rank""".stripMargin))

  /** Lexical-diversity profile per source — the corpus-card richness
    * metrics: type-token ratio, Simpson repeat probability
    * D = Σ n_t(n_t−1) / (N(N−1)) (the chance two random token draws
    * match — high D = templated/repetitive shard), and the hapax
    * fraction (share of vocabulary seen exactly once). All three are
    * identically-composed double ratios of exact integer counts.
    *
    * Scale shape: one (source, token) partial-aggregatable count — the
    * q_vocab_coverage base — then a source-domain rollup. The Σn(n−1)
    * products run in DECIMAL(38,0) (a 100 TB shard's top token count
    * squares past long).
    */
  private val lexicalDiversity = QueryDef(
    fn = (spark, dir) => {
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val st = Tables.documents(spark, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n"))
      st.groupBy(col("source"))
        .agg(sum(col("n")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum((col("n").cast(d380)) * (col("n") - 1).cast(d380)).as("rep"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          TextAnalysis.round6(col("n_types").cast("double") / col("n_tokens").cast("double"))
            .as("type_token_ratio"),
          TextAnalysis.round6(col("rep").cast("double")
            / (col("n_tokens").cast(d380) * (col("n_tokens") - 1).cast(d380)).cast("double"))
            .as("simpson_d"),
          TextAnalysis.round6(col("hapax").cast("double") / col("n_types").cast("double"))
            .as("hapax_frac"))
        .orderBy("source")
    },
    oracle = Some(
      s"""WITH st AS (SELECT source, unnest(${dToks("text")}) AS token FROM documents),
         |c AS (SELECT source, token, COUNT(*) AS n FROM st GROUP BY 1, 2),
         |g AS (SELECT source, SUM(n) AS n_tokens, COUNT(*) AS n_types,
         |    SUM(CAST(n AS HUGEINT) * (n - 1)) AS rep,
         |    SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS hapax
         |  FROM c GROUP BY source)
         |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, n_types,
         |  floor(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS type_token_ratio,
         |  floor(CAST(rep AS DOUBLE)
         |    / CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1) AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS simpson_d,
         |  floor(CAST(hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS hapax_frac
         |FROM g ORDER BY source""".stripMargin))

  /** LSH calibration report: for every verified near-dup pair, how many
    * of the 16 MinHash coordinates agree vs the pair's TRUE Jaccard —
    * the empirical check of the estimator identity E[agree/k] = J that
    * justifies the banding parameters. Pairs ride the memoized chain;
    * signatures are recomputed scan-stage (cheap — rolling shingle
    * hashes) and compared with one zip_with. Output is the ≤17-row
    * agreement domain with pair counts and the mean/min/max true Jaccard
    * per agreement level (means summed in DECIMAL(12,6) — the jaccard
    * values are already 6dp-floored, so the cast is exact and the sum
    * order-free).
    */
  private val lshCalibration = QueryDef(
    fn = (spark, dir) => {
      val d126 = org.apache.spark.sql.types.DecimalType(12, 6)
      val pairs = minhashPairs(spark, dir)
      // narrow EAGER checkpoint: the signature frame feeds BOTH join
      // sides (id_a and id_b), and the two branches can never share an
      // exchange (different join keys) — without the barrier the
      // corpus-sized tokenize + 16-way minhash chain runs twice per
      // pass. Eager, not lazy: the two join inputs materialize as
      // CONCURRENT stages, and a lazy checkpoint lets both race into
      // the uncached RDD and compute the chain twice anyway (measured:
      // the lazy form REGRESSED this query 1.76 → 2.8 s). At 100 TB
      // this halves the dominant full-corpus signature passes (guide
      // §2.4's "compute the proxy once" discipline).
      // Memoized per (session, dir) alongside the pair chain (r18): the
      // signature frame is a pure index artifact of the corpus — the
      // same discipline minhashIncrPairs documents ("repeated bench
      // passes stop paying the signature rebuild"). Measured: the memo
      // build is 0.19 s at sf0.1 on top of the memoized corpus read, so
      // the warm saving is real but modest — the query's residual cost
      // is the two broadcast joins + aggregations over the pair frame.
      val sigs = SessionCache.memo(spark, dir, "calib-sigs")(
        dedupDocs(spark, dir)
          .select(col("doc_id"),
            Dedup.minhashSignature(TextAnalysis.tokenSet(col("text")), 16).as("sig"))
          .localCheckpoint(true))
      pairs
        .join(sigs.select(col("doc_id").as("ia"), col("sig").as("sa")),
          col("id_a") === col("ia"))
        .join(sigs.select(col("doc_id").as("ib"), col("sig").as("sb")),
          col("id_b") === col("ib"))
        .withColumn("agree",
          expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b))"))
        .groupBy(col("agree"))
        .agg(count(lit(1)).as("n_pairs"),
          TextAnalysis.round6(sum(col("jaccard").cast(d126)).cast("double")
            / count(lit(1)).cast("double")).as("mean_jaccard"),
          min(col("jaccard")).as("min_jaccard"),
          max(col("jaccard")).as("max_jaccard"))
        .orderBy("agree")
    },
    oracle = Some(
      s"""WITH $minhashOracle,
         |agx AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS agree
         |        FROM mh a JOIN mh b ON a.i = b.i AND a.v = b.v AND a.id < b.id
         |        GROUP BY 1, 2),
         |p AS (SELECT jac.id_a, jac.id_b, jac.jaccard,
         |        COALESCE(agx.agree, 0) AS agree
         |      FROM jac LEFT JOIN agx USING (id_a, id_b)
         |      WHERE jac.jaccard >= 0.5)
         |SELECT CAST(agree AS INTEGER) AS agree, COUNT(*) AS n_pairs,
         |  floor(CAST(SUM(CAST(jaccard AS DECIMAL(12,6))) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS mean_jaccard,
         |  MIN(jaccard) AS min_jaccard, MAX(jaccard) AS max_jaccard
         |FROM p GROUP BY agree ORDER BY agree""".stripMargin))

  /** Dedup ROI report: bytes the near-dup survivor policy would reclaim,
    * per source — the business-case readout on top of the memoized pair
    * graph (seventh consumer): a doc is a dupe when it is not its
    * component's keep-first survivor (comp ≠ doc_id, the
    * q_dedup_components policy). Pure integer byte sums + one ratio.
    */
  /** Dedup ROI curve: how the near-dup pair volume and the number of
    * affected documents fall as the Jaccard threshold tightens from the
    * operating 0.5 up to 0.9 — the sweep a curator reads before picking
    * a threshold (tight = keep borderline near-dups, loose = drop more;
    * the marginal row count per notch IS the cost of the choice).
    * Consumes the memoized verified pair set, so the marginal cost is
    * two one-pass conditional aggregations: per-pair integer
    * ⌊jaccard·10⁶ + ½⌋ against the five integer thresholds, and per-doc
    * max-jaccard (both pair endpoints) against the same — no
    * re-banding, no components. The +½ re-floor makes the bucketing
    * exact on both engines (a bare j·10⁶ floor would flip on doubles
    * like 0.6 whose binary form sits just below the boundary).
    */
  private val dedupThresholdSweep = QueryDef(
    fn = (spark, dir) => {
      val je6 = floor(col("jaccard") * 1e6 + 0.5).cast("long")
      val pairs = minhashPairs(spark, dir).select(je6.as("je6"))
      val ths = Seq(500000L, 600000L, 700000L, 800000L, 900000L)
      val pCols = ths.map(t =>
        sum(when(col("je6") >= t, 1L).otherwise(0L)).as(s"p$t"))
      val pAgg = pairs.agg(pCols.head, pCols.tail: _*)
      val maxJ = minhashPairs(spark, dir)
        .select(col("id_a").as("id"), je6.as("je6"))
        .union(minhashPairs(spark, dir)
          .select(col("id_b").as("id"), je6.as("je6")))
        .groupBy(col("id")).agg(max(col("je6")).as("mj"))
      val dCols = ths.map(t =>
        sum(when(col("mj") >= t, 1L).otherwise(0L)).as(s"d$t"))
      val dAgg = maxJ.agg(dCols.head, dCols.tail: _*)
      val thFrame = spark.range(1).select(
        explode(array(ths.map(lit): _*)).as("threshold_e6"))
      pAgg.crossJoin(dAgg).crossJoin(thFrame)
        .select(col("threshold_e6"),
          ths.map(t => when(col("threshold_e6") === t, col(s"p$t")))
            .reduce(coalesce(_, _)).as("n_pairs"),
          ths.map(t => when(col("threshold_e6") === t, col(s"d$t")))
            .reduce(coalesce(_, _)).as("n_dup_docs"))
        .orderBy("threshold_e6")
    },
    oracle = Some {
      val ths = Seq(500000L, 600000L, 700000L, 800000L, 900000L)
      val pCols = ths.map(t =>
        s"CAST(SUM(CASE WHEN je6 >= $t THEN 1 ELSE 0 END) AS BIGINT) AS p$t")
        .mkString(", ")
      val dCols = ths.map(t =>
        s"CAST(SUM(CASE WHEN mj >= $t THEN 1 ELSE 0 END) AS BIGINT) AS d$t")
        .mkString(", ")
      val pPick = ths.map(t => s"WHEN $t THEN p$t").mkString(" ")
      val dPick = ths.map(t => s"WHEN $t THEN d$t").mkString(" ")
      s"""WITH $minhashOracle,
         |j6 AS (SELECT id_a, id_b,
         |    CAST(floor(jaccard * 1000000.0 + 0.5) AS BIGINT) AS je6
         |  FROM jac WHERE jaccard >= 0.5),
         |pa AS (SELECT $pCols FROM j6),
         |mx AS (SELECT id, MAX(je6) AS mj FROM (
         |    SELECT id_a AS id, je6 FROM j6
         |    UNION ALL SELECT id_b, je6 FROM j6) GROUP BY 1),
         |da AS (SELECT $dCols FROM mx),
         |thr AS (SELECT unnest([${ths.mkString(", ")}]) AS threshold_e6)
         |SELECT CAST(threshold_e6 AS BIGINT) AS threshold_e6,
         |  CASE threshold_e6 $pPick END AS n_pairs,
         |  CASE threshold_e6 $dPick END AS n_dup_docs
         |FROM pa CROSS JOIN da CROSS JOIN thr
         |ORDER BY threshold_e6""".stripMargin
    })

  private val dedupSavings = QueryDef(
    fn = (spark, dir) => {
      val comps = minhashComps(spark, dir)
      dedupDocs(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .join(comps, Seq("doc_id"), "left")
        .withColumn("dupe", coalesce(col("comp"), col("doc_id")) =!= col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("dupe"), 1L).otherwise(0L)).as("n_dupes"),
          sum(col("n_chars")).as("bytes_total"),
          sum(when(col("dupe"), col("n_chars")).otherwise(0L)).as("bytes_dupe"))
        .withColumn("savings_pct", TextAnalysis.round6(
          col("bytes_dupe").cast("double") / col("bytes_total").cast("double")))
        .orderBy("source")
    },
    oracle = Some(
      s"""WITH RECURSIVE $minhashOracle,
         |$componentsFromJac,
         |d AS (SELECT doc_id, source, n_chars,
         |        COALESCE(c.comp, doc_id) <> doc_id AS dupe
         |      FROM documents LEFT JOIN comp c ON documents.doc_id = c.id)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN dupe THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes,
         |  CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
         |  CAST(SUM(CASE WHEN dupe THEN n_chars ELSE 0 END) AS BIGINT) AS bytes_dupe,
         |  floor(CAST(SUM(CASE WHEN dupe THEN n_chars ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(n_chars) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS savings_pct
         |FROM d GROUP BY source ORDER BY source""".stripMargin))

  /** Near-dup cluster-size histogram — the dedup family's shape report:
    * how many clusters of each size the corpus contains (size-1 row =
    * the singletons, derived as total − pair-graph members). Template
    * corpora show a heavy tail here; a power-law blowup in this table is
    * the early warning for the hot-bucket cap. Tenth consumer of the
    * memoized chain; domain-sized everywhere after it.
    */
  private val dedupClusterSizes = QueryDef(
    fn = (spark, dir) => {
      val comps = minhashComps(spark, dir)
      val sizes = comps.groupBy(col("comp")).agg(count(lit(1)).as("sz"))
      val hist = sizes.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs_in"))
      val totals = dedupDocs(spark, dir).agg(count(lit(1)).as("n_total"))
        .crossJoin(broadcast(comps.agg(count(lit(1)).as("n_members"))))
      val singletons = totals.select(
        lit(1L).as("cluster_size"),
        (col("n_total") - col("n_members")).as("n_clusters"),
        (col("n_total") - col("n_members")).as("n_docs_in"))
      hist.unionByName(singletons)
        .groupBy(col("cluster_size"))
        .agg(sum(col("n_clusters")).as("n_clusters"),
          sum(col("n_docs_in")).as("n_docs_in"))
        .orderBy("cluster_size")
    },
    oracle = Some(
      s"""WITH RECURSIVE $minhashOracle,
         |$componentsFromJac,
         |sizes AS (SELECT comp, COUNT(*) AS sz FROM comp GROUP BY comp),
         |hist AS (SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
         |           SUM(sz) AS n_docs_in FROM sizes GROUP BY sz),
         |tot AS (SELECT (SELECT COUNT(*) FROM documents)
         |          - (SELECT COUNT(*) FROM comp) AS singles)
         |SELECT cluster_size, CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
         |  CAST(SUM(n_docs_in) AS BIGINT) AS n_docs_in
         |FROM (
         |  SELECT * FROM hist
         |  UNION ALL
         |  SELECT 1 AS cluster_size, singles AS n_clusters, singles AS n_docs_in
         |  FROM tot)
         |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_cluster_terms" -> clusterTerms,
    "q_dedup_cluster_sizes" -> dedupClusterSizes,
    "q_lsh_calibration" -> lshCalibration,
    "q_dedup_savings" -> dedupSavings,
    "q_dedup_threshold_sweep" -> dedupThresholdSweep,
    "q_lang_confusion" -> langConfusion,
    "q_vocab_coverage" -> vocabCoverage,
    "q_lexical_diversity" -> lexicalDiversity,
    "q_dedup_edit1" -> dedupEdit1,
    "q_bm25_topk" -> bm25Topk,
    "q_hybrid_rrf" -> hybridRrf,
    "q_cms_join_size" -> cmsJoinSize,
    "q_bpe_pairs" -> bpePairs,
    "q_bpe_merge_step" -> bpeMergeStep,
    "q_bpe_encode" -> bpeEncode,
    "q_bpe_train_k" -> bpeTrainK,
    "q_kl_divergence" -> klDivergence,
    "q_emb_drift" -> embDrift,
    "q_emb_norm_stats" -> embNormStats,
    "q_zipf_fit" -> zipfFit,
    "q_lm_perplexity" -> lmPerplexity,
    "q_mix_rebalance" -> mixRebalance,
    "q_mix_temperature" -> mixTemperature,
    "q_dsir_weights" -> dsirWeights,
    "q_dedup_sorted_nbr" -> dedupSortedNbr,
    "q_kmv_diff" -> kmvDiff,
    "q_dedup_containment" -> dedupContainment,
    "q_dedup_containment_prefix" -> dedupContainmentPrefix,
    "q_dedup_prefix_join" -> dedupPrefixJoin,
    "q_phrase_search" -> phraseSearch,
    "q_kmv_distinct" -> kmvDistinct,
    "q_kmv_setops" -> kmvSetops,
    "q_emb_project" -> embProject,
    "q_fuzzy_join" -> fuzzyJoin,
    "q_weighted_sample" -> weightedSample,
    "q_tfidf_top_terms" -> tfidf,
    "q_dedup_paragraphs" -> dedupParagraphs,
    "q_boilerplate_prune" -> boilerplatePrune,
    "q_dedup_substring" -> dedupSubstring,
    "q_cms_topk" -> cmsTopk,
    "q_bloom_decontaminate" -> bloomDecontaminate,
    "q_doc_profile" -> docProfile,
    "q_ann_recall" -> annRecall,
    "q_ivf_multiprobe" -> ivfMultiprobe,
    "q_ivf_rerank" -> ivfRerank,
    "q_ivf_pq_rerank" -> ivfPqRerank,
    "q_ivf_pq_persist" -> ivfPqPersist,
    "q_ivf_pq_probe" -> ivfPqProbe,
    "q_ivf_pq_tombstone" -> ivfPqTombstone,
    "q_ivf_pq_residual" -> ivfPqResidual,
    "q_text_clean" -> textClean,
    "q_text_redact" -> textRedact,
    "q_stratified_sample" -> stratifiedSample,
    "q_decontaminate" -> decontaminate,
    "q_token_freq" -> tokenFreq,
    "q_hash_split" -> hashSplit,
    "q_sim_ann_ivf" -> annIvf,
    "q_hard_negatives" -> hardNegs,
    "q_label_noise" -> labelNoise,
    "q_semdedup" -> semDedup,
    "q_ivf_silhouette" -> ivfSilhouette,
    "q_ivf_kmeans_assign" -> ivfKmeans,
    "q_multimodal_meta" -> mmMeta,
    "q_multimodal_frames" -> mmFrames,
    "q_multimodal_features" -> mmFeatures,
    "q_multimodal_resize" -> mmResize,
    "q_media_phash" -> mmPhash,
    "q_media_phash_pairs" -> mmPhashPairs,
    "q_media_phash_banded" -> mmPhashBanded,
    "q_frame_phash" -> frameDhash,
    "q_frame_phash_pairs" -> frameDhashPairs,
    "q_frame_containment" -> frameContainment,
    "q_frame_dedup_keep" -> frameDedupKeep,
    "q_media_dedup_keep" -> mmDedupKeep,
    "q_text_tokens" -> textTokens,
    "q_text_chunks" -> textChunks,
    "q_seq_pack" -> seqPack,
    "q_pack_efficiency" -> packEfficiency,
    "q_curation_funnel" -> curationFunnel,
    "q_text_lang_id" -> langIdQ,
    "q_text_quality" -> qualityQ,
    "q_quality_filter_sweep" -> qualitySweep,
    "q_text_repetition" -> textRepetition,
    "q_text_fingerprint" -> fingerprintQ,
    "q_dedup_exact_docs" -> dedupExact,
    "q_dedup_minhash_pairs" -> dedupMinhash,
    "q_dedup_minhash_capped" -> dedupMinhashCapped,
    "q_dedup_minhash_incr" -> dedupMinhashIncr,
    "q_dedup_components" -> dedupComponents,
    "q_dedup_best_of_cluster" -> dedupBestOfCluster,
    "q_dedup_cross_source" -> dedupCrossSource,
    "q_split_leakage" -> splitLeakage,
    "q_component_split" -> componentSplit,
    "q_text_entropy" -> textEntropy,
    "q_dedup_src_modularity" -> dedupSrcModularity,
    "q_dedup_simhash_sigs" -> simhashSigs,
    "q_dedup_simhash_pairs" -> simhashPairs,
    "q_dedup_simhash_banded" -> simhashBanded,
    "q_dedup_simhash_h3" -> simhashH3,
    "q_dedup_simhash_banded_h3" -> simhashBandedH3,
    "q_dedup_ngram_jaccard" -> jaccardNgram,
    "q_sim_cosine_pairs" -> embPairs,
    "q_sim_ann_brute" -> annBrute,
    "q_sim_ann_lsh" -> annLsh)
}
