package graft.queries

import graft.QueryDef
import graft.ops.SessionCache.MemoOps
import graft.ops.{Dedup, Tables, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 corpus-fingerprinting pair: n-gram novelty (what fraction of a
  * document's shingles has the corpus never seen before?) and winnowing
  * fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS algorithm) — the
  * two readouts an LLM-data pipeline uses to score incremental crawls
  * (novelty = marginal value of a document against the accumulated corpus)
  * and to build position-robust dup fingerprints (winnowing guarantees any
  * shared run of w + k − 1 tokens shares a fingerprint).
  *
  * Shared discipline with the dedup family: shingle hashes are composed
  * from per-token md5-fold hashes by the exact rolling combine
  * ([[TextAnalysis.shingleHashesFromHashes]] / [[ExtensionQueries.dShingleHashes]]),
  * so md5 runs once per TOKEN, document text never crosses an exchange —
  * only 8-byte hashes shuffle — and DuckDB replays identical integers.
  * All emitted ratios are ⌊·10⁶⌋ integral divisions; no double anywhere.
  */
object TextNoveltyQueries {

  /** Corpus-order n-gram novelty per document: treating ascending doc_id
    * as arrival order, a 5-gram is NOVEL in the document that first
    * contains it (min doc_id over the corpus — the introducing document
    * itself counts as novel). Emits per doc the distinct-5-gram count,
    * the novel count, and novelty_e6 = ⌊novel·10⁶/n⌋ — the marginal-new-
    * content score dataset curators threshold incremental crawl batches
    * on (a re-crawl of yesterday's pages scores ~0).
    *
    * Scale shape: per-doc distinct shingle hashes collapse IN-SCAN
    * (array_distinct on the row's own array — no corpus-volume shuffle);
    * the only wide exchange is keyed on the 8-byte hash (high-cardinality,
    * AQE-splittable) where min(doc_id) is a window over the groupBy-
    * equivalent partitioning; the rollup re-keys on doc_id. Short docs
    * (< 5 tokens) surface with n_ngrams = 0 and NULL novelty via the
    * left join — never silently dropped.
    */
  private val ngramNovelty = QueryDef(
    fn = (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val grams = docs
        .select(col("doc_id"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
        .select(col("doc_id"),
          explode(array_distinct(
            TextAnalysis.shingleHashesFromHashes(col("th"), 5))).as("g"))
      val firstSeen = grams.withColumn("mind",
        min(col("doc_id")).over(Window.partitionBy(col("g"))))
      val perDoc = firstSeen.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("doc_id") === col("mind"), 1L).otherwise(0L))
            .as("nov"))
      docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_ngrams"),
          coalesce(col("nov"), lit(0L)).as("n_novel"),
          when(col("n").isNotNull,
            expr("(nov * CAST(1000000 AS BIGINT)) div n"))
            .as("novelty_e6"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH tk AS (SELECT doc_id,
         |    list_transform(${ExtensionQueries.dToks("text")},
         |                   t -> ${ExtensionQueries.dHash32("t")}) AS th
         |  FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |    unnest(${ExtensionQueries.dShingleHashes(5)}) AS g
         |  FROM tk),
         |f AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY g) AS mind
         |  FROM g),
         |p AS (SELECT doc_id, COUNT(*) AS n,
         |    SUM(CASE WHEN doc_id = mind THEN 1 ELSE 0 END) AS nov
         |  FROM f GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(CAST(n AS BIGINT), 0) AS n_ngrams,
         |  COALESCE(CAST(nov AS BIGINT), 0) AS n_novel,
         |  CASE WHEN n IS NOT NULL
         |    THEN CAST((nov * 1000000) // n AS BIGINT) END AS novelty_e6
         |FROM documents d LEFT JOIN p USING (doc_id)
         |ORDER BY doc_id""".stripMargin))

  /** Winnowing fingerprints (k = 5 token-grams, window w = 4): every
    * window of w consecutive k-gram hashes records its minimum, rightmost
    * position on ties — the standard guarantee that any match of
    * w + k − 1 = 8 tokens between two documents shares a fingerprint,
    * with expected density 2/(w+1) = 0.4. The argmin-with-rightmost-tie
    * is computed with NO per-window subquery: each position is encoded as
    * one BIGINT code = g·2²⁰ + (2²⁰−1−pos) — lexicographic (hash asc,
    * pos desc) — so a plain frame-window min() yields the selected
    * (hash, pos) pair, decoded by div/mod. Exact while pos < 2²⁰ tokens
    * per document (enforced; split longer docs into chunks upstream).
    * Emits per doc: k-gram count, fingerprint count, distinct fingerprint
    * hashes, density_e6. Docs with fewer than w k-grams (< 8 tokens)
    * have no full window and surface with zero fingerprints.
    *
    * Scale shape: codes are built in-scan from the row's own token-hash
    * array; the frame window and the max-pos window share one doc_id-
    * partitioned sort (doc-grain exchange of 8-byte codes, never text);
    * the distinct and rollup re-key on doc_id. No corpus-sized sort, no
    * unpartitioned window.
    */
  private val winnowFingerprint = QueryDef(
    fn = (spark, dir) => {
      val B = 1048576L // 2^20 position slots per doc
      val docs = Tables.documents(spark, dir)
      val grams = docs
        .select(col("doc_id"),
          Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("th"))
        .select(col("doc_id"),
          posexplode(TextAnalysis.shingleHashesFromHashes(col("th"), 5)))
        .select(col("doc_id"), col("pos"),
          (col("col") * B + (lit(B - 1) - col("pos"))).as("code"))
        // narrow (doc_id, pos, code) k-gram stream, memo-checkpointed:
        // the winnow window and the per-doc k-gram count both
        // re-reference it, each re-planning the documents tokenize scan
        // (ScanCountLintSpec)
        .memoCheckpoint(spark, dir, "winnow_grams")
      val wFrame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.currentRow, 3)
      val wDoc = Window.partitionBy(col("doc_id"))
      val sel = grams
        .withColumn("wmin", min(col("code")).over(wFrame))
        .withColumn("maxpos", max(col("pos")).over(wDoc))
        .filter(col("pos") <= col("maxpos") - 3)
        .select(col("doc_id"),
          expr(s"wmin div ${B}L").as("fh"),
          (lit(B - 1) - expr(s"wmin % ${B}L")).as("fpos"))
        .distinct()
      val perDoc = sel.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"), countDistinct(col("fh")).as("n_hashes"))
      val nGrams = grams.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kgrams"))
      docs.select(col("doc_id"))
        .join(nGrams, Seq("doc_id"), "left_outer")
        .join(perDoc, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_kgrams"), lit(0L)).as("n_kgrams"),
          coalesce(col("n_fp"), lit(0L)).as("n_fp"),
          coalesce(col("n_hashes"), lit(0L)).as("n_hashes"),
          when(col("n_fp").isNotNull && col("n_kgrams") > 0,
            expr("(n_fp * CAST(1000000 AS BIGINT)) div n_kgrams"))
            .as("density_e6"))
        .orderBy("doc_id")
    },
    oracle = Some {
      val C = TextAnalysis.ShingleHashC; val M = TextAnalysis.ShingleHashM
      val fold5 = (1 until 5).foldLeft("th[i]") { (acc, j) =>
        s"(($acc * $C + th[i+$j]) % $M)"
      }
      s"""WITH tk AS (SELECT doc_id,
         |    list_transform(${ExtensionQueries.dToks("text")},
         |                   t -> ${ExtensionQueries.dHash32("t")}) AS th
         |  FROM documents),
         |g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, $fold5 AS h
         |  FROM (SELECT doc_id, th, unnest(range(1, len(th) - 3)) AS i
         |        FROM tk WHERE len(th) >= 5) z),
         |coded AS (SELECT doc_id, pos,
         |    h * 1048576 + (1048575 - pos) AS code
         |  FROM g),
         |win AS (SELECT doc_id, pos,
         |    MIN(code) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         |    MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
         |  FROM coded),
         |sel AS (SELECT DISTINCT doc_id,
         |    wmin // 1048576 AS fh, 1048575 - (wmin % 1048576) AS fpos
         |  FROM win WHERE pos <= maxpos - 3),
         |pd AS (SELECT doc_id, COUNT(*) AS n_fp,
         |    COUNT(DISTINCT fh) AS n_hashes
         |  FROM sel GROUP BY 1),
         |ng AS (SELECT doc_id, COUNT(*) AS n_kgrams FROM g GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(CAST(n_kgrams AS BIGINT), 0) AS n_kgrams,
         |  COALESCE(CAST(n_fp AS BIGINT), 0) AS n_fp,
         |  COALESCE(CAST(n_hashes AS BIGINT), 0) AS n_hashes,
         |  CASE WHEN n_fp IS NOT NULL AND n_kgrams > 0
         |    THEN CAST((n_fp * 1000000) // n_kgrams AS BIGINT)
         |  END AS density_e6
         |FROM documents d LEFT JOIN ng USING (doc_id)
         |  LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    })

  val defs: Map[String, QueryDef] = Map(
    "q_ngram_novelty" -> ngramNovelty,
    "q_winnow_fingerprint" -> winnowFingerprint)
}
