package graft.queries

import graft.QueryDef
import graft.ops.{SessionCache, Similarity, Tables}
import org.apache.spark.sql.functions._

/** ANN evaluation harnesses for the production questions the index
  * families (LSH / IVF / IVF-PQ / kNN-graph) leave open once they work:
  * how many prefix dimensions does retrieval actually need (Matryoshka
  * truncation, Kusupati et al. 2022 — public), what does metadata
  * filtering do to recall (filter-then-search vs search-then-filter,
  * the filtered-ANN problem), and what does 4× scalar quantization cost
  * vs the 32× PQ point (SQ8 asymmetric scoring).
  *
  * All three share one narrow localCheckpoint of (vec_id, embedding
  * [, label]) per query build — budgets/strategies derive from the one
  * materialized pass instead of re-scanning the store (the arrivalBuckets
  * narrow-checkpoint convention; at 100 TB each variant re-reading the
  * corpus would multiply the dominant I/O term by the variant count).
  * Probe sets are the family's fixed 8 probes (vec_id < 8), so every
  * scoring stage is |Q|·n with a broadcast probe side — never n².
  */
object AnnEvalQueries {

  private val K = 10
  /** Prefix-dimension budgets (full width last — that run must return
    * the exact truth). */
  private val DIMS = Seq(8, 16, 32, 64)

  /** Matryoshka-style truncation sweep: brute-force top-10 per probe at
    * each prefix-dim budget, scored against the family's exact top-10
    * truth ([[ExtensionQueries.annTruth]], full width). Emits hits +
    * recall per budget with the structural contract recall(64) = 1: the
    * 64-dim point is a fresh full-width run, so `full_exact` checks it
    * against the memoized truth. MEASURED (sf0.001/sf0.01/sf0.1): dims 8 →
    * 0.10/0.11/0, 16 → 0.20/0.21/0.075, 32 → 0.275/0.35/0.2375,
    * 64 → 1.0 everywhere — these synthetic
    * embeddings spread information uniformly across dimensions (they are
    * not MRL-trained), so truncation decays hard; the sweep IS the
    * measurement a pipeline runs to decide whether its embedding family
    * earns a prefix budget. Prefix truncation is a 64/d compression
    * lever ORTHOGONAL to PQ/SQ — it composes with both. */
  private val embMatryoshka = QueryDef(
    fn = (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint(false)
      val truth = ExtensionQueries.annTruth(spark, dir)
      DIMS.map { d =>
        val s = emb.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding"))
        Similarity.hits(truth, "hits" -> Similarity.bruteForceTopK(s,
            s.filter(ExtensionQueries.isProbe()), "vec_id", "embedding", K))
          .select(lit(d.toLong).as("dims"), col("n_truth"), col("hits"))
      }.reduce(_ union _)
        .withColumn("recall_e6", Similarity.recallE6())
        .withColumn("full_exact",
          col("dims") =!= 64 || col("hits") === col("n_truth"))
        .orderBy("dims")
    },
    oracle = Some {
      def pdot(a: String, b: String) = ExtensionQueries.dSumD(
        s"list_transform(range(1, CAST(b.dims AS INTEGER) + 1), " +
          s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")
      val cosP = s"floor(((${pdot("q.qv", "c.e")}) / " +
        s"(sqrt(${pdot("q.qv", "q.qv")}) * sqrt(${pdot("c.e", "c.e")}))) " +
        "* 1000000.0 + 0.5) / 1000000.0"
      s"""WITH b AS (SELECT unnest([8, 16, 32, 64]) AS dims),
         |v AS (SELECT vec_id, embedding AS e FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 8),
         |sc AS (SELECT b.dims, q.query_id, c.vec_id AS neighbor_id,
         |    $cosP AS cos
         |  FROM b CROSS JOIN q CROSS JOIN v c WHERE c.vec_id <> q.query_id),
         |rk AS (SELECT dims, query_id, neighbor_id FROM (
         |  SELECT dims, query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY dims, query_id ORDER BY cos DESC, neighbor_id ASC) AS r
         |  FROM sc) WHERE r <= $K),
         |${ExtensionQueries.dTruth(K)},
         |${ExtensionQueries.dSweepHits("b", "dims", "rk")}
         |SELECT CAST(dims AS BIGINT) AS dims, n_truth, hits,
         |  hits * 1000000 // n_truth AS recall_e6,
         |  (dims <> 64 OR hits = n_truth) AS full_exact
         |FROM agg ORDER BY dims""".stripMargin
    })

  /** Memoized exact FILTERED truth (label <= 2) for the fixed 8-probe
    * set — the filtered sibling of [[ExtensionQueries.annTruth]], under
    * the same session-memo contract: the full-corpus re-rank runs once
    * per session, the query still evaluates both strategies against it
    * per pass. */
  private def annFilteredTruth(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "annf_truth") {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"), col("label"))
          .localCheckpoint(false)
        Similarity.bruteForceTopK(emb.filter(col("label") <= 2),
            emb.filter(ExtensionQueries.isProbe()), "vec_id", "embedding", K)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true)
      }

  /** Memoized scored LSH candidate frame with the neighbor label
    * attached — ONE sign-key build + ONE bucket join + ONE scoring pass
    * serve BOTH strategies (r18; was two independent LSH top-k calls that
    * each re-signed the corpus and re-joined the buckets): sign keys
    * are per-row, so the pre-filter candidate set is EXACTLY the
    * unfiltered candidate set restricted to allowed neighbors; `pre` =
    * filter label then rank, `post` = rank then filter label — per-
    * strategy outputs identical to the two-call form (same candidates,
    * cosines, tie-breaks). Session-memoized (this round's continuation;
    * the ann_lsh/ivfScored5 index-artifact discipline) so the key build
    * + candidate scoring run once per session instead of re-
    * checkpointing per pass; both strategies' windows and evals still
    * run per pass. */
  private def annFilteredScored(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "annf_scored") {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"), col("label"))
          .localCheckpoint(false)
        val keys = Similarity.signKeys(emb, "vec_id", "embedding",
          nBits = 4, tables = 16)
        val cand = keys.filter(ExtensionQueries.isProbe("id"))
          .withColumnRenamed("id", "query_id")
          .join(keys.withColumnRenamed("id", "neighbor_id"), Seq("l", "bucket"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select("query_id", "neighbor_id")
          .distinct()
        Similarity.scoreCos(cand,
            emb.select(col("vec_id").as("query_id"), col("embedding").as("qv")) -> "query_id",
            emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
              col("label").as("nl")) -> "neighbor_id")
          .select(col("query_id"), col("neighbor_id"), col("nl"), col("cos"))
          .localCheckpoint(true)
      }

  /** Filtered ANN: top-10 under a metadata predicate (label <= 2, ~30%
    * of the corpus), answered two ways over the SAME 16×4 sign-LSH
    * index — filter-then-search (bucket-join against the ALLOWED subset
    * only) vs search-then-filter (unfiltered top-10, then drop
    * disallowed rows). Both are scored against the exact filtered
    * truth. The second strategy is the classic filtered-ANN failure:
    * it can return at most the allowed members of the unfiltered
    * top-10, so `returned` collapses toward k·selectivity and recall
    * drops with it — the measured gap is the reason filtered search
    * must push the predicate INTO candidate generation (at 100 TB: the
    * label is a partition/bucket column of the key index, so
    * filter-then-search prunes index partitions instead of scanning
    * them). */
  private val annFiltered = QueryDef(
    fn = (spark, dir) => {
      val truthF = annFilteredTruth(spark, dir)
      val scoredAll = annFilteredScored(spark, dir)
      def topK(df: org.apache.spark.sql.DataFrame) =
        Similarity.topK(df, "query_id", "cos", "neighbor_id", K)
      val pre = topK(scoredAll.filter(col("nl") <= 2))
        .select(col("query_id"), col("neighbor_id"))
      val post = topK(scoredAll)
        .filter(col("nl") <= 2)
        .select(col("query_id"), col("neighbor_id"))
      def evalOf(name: String, res: org.apache.spark.sql.DataFrame) =
        Similarity.hits(truthF, "hits" -> res)
          .crossJoin(broadcast(res.agg(count(lit(1)).as("returned"))))
          .select(lit(name).as("strategy"), col("n_truth"),
            col("returned"), col("hits"), Similarity.recallE6().as("recall_e6"))
      evalOf("pre_filter", pre).union(evalOf("post_filter", post))
        .orderBy("strategy")
    },
    oracle = Some {
      val keys = ExtensionQueries.dLshKeys("embedding", tables = 16, nBits = 4)
      s"""WITH v AS (SELECT vec_id, embedding AS e, label,
         |           $keys AS keys FROM embeddings),
         |vk AS (SELECT vec_id, label, unnest(keys) AS key FROM v),
         |q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 8),
         |truth AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, c.vec_id AS neighbor_id, row_number() OVER (
         |    PARTITION BY q.query_id
         |    ORDER BY ${ExtensionQueries.dCos("q.qv", "c.e")} DESC, c.vec_id ASC) AS r
         |  FROM v c CROSS JOIN q
         |  WHERE c.label <= 2 AND c.vec_id <> q.query_id) WHERE r <= $K),
         |prec AS (SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM vk a JOIN vk c USING (key)
         |  WHERE a.vec_id < 8 AND c.label <= 2 AND a.vec_id <> c.vec_id),
         |pre AS (SELECT query_id, neighbor_id FROM (
         |  SELECT prec.query_id, prec.neighbor_id, row_number() OVER (
         |    PARTITION BY prec.query_id
         |    ORDER BY ${ExtensionQueries.dCos("q.qv", "c.e")} DESC, prec.neighbor_id ASC) AS r
         |  FROM prec JOIN q USING (query_id)
         |    JOIN v c ON prec.neighbor_id = c.vec_id) WHERE r <= $K),
         |postc AS (SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM vk a JOIN vk c USING (key)
         |  WHERE a.vec_id < 8 AND a.vec_id <> c.vec_id),
         |post0 AS (SELECT query_id, neighbor_id FROM (
         |  SELECT postc.query_id, postc.neighbor_id, row_number() OVER (
         |    PARTITION BY postc.query_id
         |    ORDER BY ${ExtensionQueries.dCos("q.qv", "c.e")} DESC, postc.neighbor_id ASC) AS r
         |  FROM postc JOIN q USING (query_id)
         |    JOIN v c ON postc.neighbor_id = c.vec_id) WHERE r <= $K),
         |post AS (SELECT p.query_id, p.neighbor_id FROM post0 p
         |  JOIN v c ON p.neighbor_id = c.vec_id WHERE c.label <= 2),
         |ev AS (
         |  SELECT 'pre_filter' AS strategy,
         |    (SELECT COUNT(*) FROM truth) AS n_truth,
         |    (SELECT COUNT(*) FROM pre) AS returned,
         |    (SELECT COUNT(*) FROM truth t JOIN pre r
         |       ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id)
         |      AS hits
         |  UNION ALL
         |  SELECT 'post_filter',
         |    (SELECT COUNT(*) FROM truth),
         |    (SELECT COUNT(*) FROM post),
         |    (SELECT COUNT(*) FROM truth t JOIN post r
         |       ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id))
         |SELECT strategy, n_truth, returned, hits,
         |  hits * 1000000 // n_truth AS recall_e6
         |FROM ev ORDER BY strategy""".stripMargin
    })

  /** SQ8 asymmetric-scored ANN: candidates are scanned as int8 codes
    * (per-vector symmetric scale = max|x|/127 → 64 code bytes + one
    * float, 4× under raw float32), scored against the RAW query vector.
    * The per-vector scale cancels in the cosine, so the approximate
    * score is exactly cosine(query, codes-as-ints) — integer dot and
    * norm (engine-exact), one floored division. ADC top-30 → exact
    * re-rank top-10, recall vs exact truth. The query quantifies the
    * 4× point of the compression/recall curve whose 32× point is
    * q_ivf_pq_rerank and whose 1× point is q_sim_ann_brute. */
  private val simAnnSq8 = QueryDef(
    fn = (spark, dir) => {
      val cTop = 30
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint(false)
      val probes = emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qv")).filter(ExtensionQueries.isProbe("query_id"))
      val maxAbs = array_max(transform(col("embedding"),
        x => abs(x.cast("double"))))
      val codes = emb.select(col("vec_id").as("neighbor_id"),
        when(maxAbs > 0, transform(col("embedding"),
          x => floor(x.cast("double") / maxAbs * 127 + 0.5).cast("int")))
          .as("codes"))
      val approx = codes.filter(col("codes").isNotNull)
        .join(broadcast(probes), col("query_id") =!= col("neighbor_id"))
        .withColumn("acos", Similarity.cosineInt(col("qv"), col("codes")))
        .filter(col("acos").isNotNull)
      val rr = Similarity.rerankExact(approx, "acos", "neighbor_id", cTop,
          emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")), K)
      val n = codes.agg(count(lit(1)).as("n_corpus"))
      Similarity.hits(ExtensionQueries.annTruth(spark, dir), "hits" -> rr)
        .crossJoin(broadcast(n))
        .select(col("n_truth"), col("hits"),
          Similarity.recallE6().as("recall_e6"),
          (col("n_corpus") * 256L).as("bytes_raw"),
          (col("n_corpus") * 68L).as("bytes_sq8"))
    },
    oracle = Some {
      val intDot = ExtensionQueries.dSumD(
        "list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * cd[i])")
      val intNorm = "sqrt(" + ExtensionQueries.dSumD(
        "list_transform(cd, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))") + ")"
      val qNorm = s"sqrt(${ExtensionQueries.dDot("qv", "qv")})"
      s"""WITH v AS (SELECT vec_id, embedding AS e,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
         |      AS ma
         |  FROM embeddings),
         |cds AS (SELECT vec_id AS neighbor_id,
         |    list_transform(e, x -> CAST(floor(CAST(x AS DOUBLE) / ma * 127
         |      + 0.5) AS INTEGER)) AS cd
         |  FROM v WHERE ma > 0),
         |q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 8),
         |${ExtensionQueries.dTruth(K)},
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, cds.neighbor_id, row_number() OVER (
         |    PARTITION BY q.query_id ORDER BY
         |      floor(($intDot / ($qNorm * $intNorm)) * 1000000.0 + 0.5)
         |        / 1000000.0 DESC,
         |      cds.neighbor_id ASC) AS ar
         |  FROM cds CROSS JOIN q WHERE cds.neighbor_id <> q.query_id)
         |  WHERE ar <= 30),
         |rr AS (SELECT query_id, neighbor_id FROM (
         |  SELECT ap.query_id, ap.neighbor_id, row_number() OVER (
         |    PARTITION BY ap.query_id
         |    ORDER BY ${ExtensionQueries.dCos("q.qv", "c.e")} DESC, ap.neighbor_id ASC) AS r
         |  FROM ap JOIN q USING (query_id)
         |    JOIN v c ON ap.neighbor_id = c.vec_id) WHERE r <= $K),
         |n AS (SELECT COUNT(*) AS n_corpus FROM cds),
         |${ExtensionQueries.dHits("hits" -> "rr")}
         |SELECT n_truth, hits, hits * 1000000 // n_truth AS recall_e6,
         |  n.n_corpus * 256 AS bytes_raw,
         |  n.n_corpus * 68 AS bytes_sq8
         |FROM agg CROSS JOIN n""".stripMargin
    })

  val defs: Map[String, QueryDef] = Map(
    "q_emb_matryoshka" -> embMatryoshka,
    "q_ann_filtered" -> annFiltered,
    "q_sim_ann_sq8" -> simAnnSq8)
}
