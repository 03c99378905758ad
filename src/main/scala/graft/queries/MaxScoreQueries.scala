package graft.queries

import graft.QueryDef
import graft.ops.{Retrieval, SessionCache, Tables, TextAnalysis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** MaxScore / WAND-style upper-bound-pruned ranked retrieval
  * ([[graft.ops.Retrieval]]) over the documents corpus.
  *
  * The scoring function is BM25 with a RATIONAL idf — w(t) =
  * (n − df + 0.5) / (df + 0.5), i.e. exp of the classic Robertson idf —
  * so every per-term score is built from integers through IEEE
  * correctly-rounded +, ×, / only (no ln): bit-identical across Spark
  * and DuckDB with NO transcendental floor-pin (the check.py round-11
  * lint stays structurally clean, not grandfathered). Per-term ranking
  * is unchanged vs log-idf (monotone transform); cross-term totals
  * weight rare terms harder — a legitimate scoring variant chosen here
  * exactly because it is engine-portable at full precision.
  *
  * `q_bm25_maxscore`'s oracle is the EXHAUSTIVE scorer — it ranks every
  * matching document with no pruning — while the Spark side scores only
  * the MaxScore survivors: a hash-green row at every SF is a machine-
  * checked proof that the pruning is lossless (the Retrieval scaladoc
  * carries the θ/bound argument). `q_maxscore_prune_stats` replays the
  * pruning arithmetic itself (ub, seed term, θ0, per-doc bounds) and
  * pins how much work the bar removed: on this corpus the query's one
  * rare term ('dup', ~5% df vs ~80% for the others) owns the largest ub,
  * so θ0 ≈ its top scores and ~95% of matching docs never reach the
  * scoring aggregate.
  */
object MaxScoreQueries {

  private val TERMS = Seq("dup", "join", "scan")
  private val K = 10

  /** Postings with exact DECIMAL(18,6) per-term scores, built once per
    * (session, dir): one documents scan tokenized once (the checkpointed
    * frame feeds corpus stats, doc lengths, and term frequencies — the
    * bm25Topk discipline), then the rational-idf BM25 arithmetic in
    * doubles with a 6dp floor-pin into decimal. Row count ≤ |Q| · n_match
    * — narrow and cheap to keep hot. */
  private def postings(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "maxscore_postings") {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .localCheckpoint(false)
      val stats = docs.agg(
        count(lit(1)).cast("double").as("n"),
        (sum(size(col("toks"))).cast("double")
          / count(lit(1)).cast("double")).as("avgdl"))
      val dl = docs.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
      val tf = docs.select(col("doc_id"), explode(col("toks")).as("token"))
        .filter(col("token").isin(TERMS: _*))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val dfq = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
      tf.join(dfq, "token").join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("token"),
          TextAnalysis.round6(
            (((col("n") - col("df") + 0.5) / (col("df") + 0.5))
              * (col("tf") * 2.2))
              / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
            .cast(DecimalType(18, 6)).as("s"))
         .localCheckpoint(true)
    }

  /** Shared oracle CTE chain: tokenize, stats, rational-idf per-term
    * scores — the exact double expression tree of [[postings]], term by
    * term (left-assoc parity matters: each IEEE op is correctly rounded,
    * so identical trees give identical bits). */
  private def dPerTerm = {
    val toks = ExtensionQueries.dToks("text")
    val termList = TERMS.map(t => s"'$t'").mkString(", ")
    s"""docs AS (SELECT doc_id, $toks AS toks FROM documents),
       |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(SUM(len(toks)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM docs),
       |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs),
       |tok AS (SELECT doc_id, unnest(toks) AS token FROM docs),
       |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
       |       WHERE token IN ($termList) GROUP BY 1, 2),
       |dfq AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |per_term AS (SELECT tf.doc_id, tf.token,
       |    CAST(floor((((stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
       |      * (tf.tf * 2.2))
       |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
       |      * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS s
       |  FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)""".stripMargin
  }

  /** Upper-bound-pruned exact top-10; oracle = the EXHAUSTIVE ranking
    * (hash-green ⇒ pruning dropped nothing). */
  private val bm25MaxScore = QueryDef(
    fn = (spark, dir) =>
      Retrieval.maxScoreTopK(postings(spark, dir), K).orderBy("rn"),
    oracle = Some(
      s"""WITH $dPerTerm,
         |scored AS (SELECT doc_id, SUM(s) AS score FROM per_term GROUP BY doc_id)
         |SELECT doc_id, CAST(score * 1000000 AS BIGINT) AS score_micros,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rn
         |FROM scored QUALIFY rn <= $K ORDER BY rn""".stripMargin))

  /** The pruning telemetry row, oracle-replayed end to end (ub → seed →
    * θ0 → bounds → survivor count). */
  private val maxScoreStats = QueryDef(
    fn = (spark, dir) =>
      Retrieval.maxScorePruneStats(postings(spark, dir), K),
    oracle = Some(
      s"""WITH $dPerTerm,
         |ub AS (SELECT token, MAX(s) AS ub FROM per_term GROUP BY token),
         |seed AS (SELECT token FROM (
         |  SELECT token, row_number() OVER (ORDER BY ub DESC, token) AS urn
         |  FROM ub) WHERE urn = 1),
         |seed_scored AS (SELECT p.doc_id, SUM(p.s) AS score
         |  FROM per_term p
         |  JOIN (SELECT DISTINCT doc_id FROM per_term JOIN seed USING (token)) sd
         |    ON p.doc_id = sd.doc_id
         |  GROUP BY p.doc_id),
         |seed_top AS (SELECT doc_id, score FROM (
         |  SELECT doc_id, score,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rn
         |  FROM seed_scored) WHERE rn <= $K),
         |theta AS (SELECT CASE WHEN COUNT(*) >= $K THEN MIN(score) END AS theta
         |          FROM seed_top),
         |bounds AS (SELECT doc_id, SUM(ub) AS bound
         |           FROM per_term JOIN ub USING (token) GROUP BY doc_id),
         |cand AS (SELECT doc_id FROM bounds CROSS JOIN theta
         |         WHERE theta IS NULL OR bound >= theta)
         |SELECT m.n_match, s.n_seed, c.n_candidates,
         |  m.n_match - c.n_candidates AS n_pruned,
         |  COALESCE(CAST(t.theta * 1000000 AS BIGINT), -1) AS theta_micros,
         |  floor(CAST(m.n_match - c.n_candidates AS DOUBLE)
         |    / CAST(m.n_match AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         |    AS pruned_frac
         |FROM (SELECT COUNT(DISTINCT doc_id) AS n_match FROM per_term) m
         |CROSS JOIN (SELECT COUNT(*) AS n_seed
         |            FROM per_term JOIN seed USING (token)) s
         |CROSS JOIN (SELECT COUNT(*) AS n_candidates FROM cand) c
         |CROSS JOIN theta t""".stripMargin))

  /** The index store a 3-micro-batch real-stream run of the documents
    * table through [[graft.streaming.StreamingOps.invertedStateSink]]
    * left behind, once per (session, dir) ([[Scratch.streamedStores]]). */
  private def streamedIndexPath(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Scratch.streamedStores(spark, "bm25stream", dir,
        Tables.documents(spark, dir).select(col("doc_id"), col("text")), "doc_id") {
      (stream, base) => graft.streaming.StreamingOps.invertedStateSink(
        stream, "doc_id", "text", s"$base/idx", s"$base/ckpt")
    } + "/idx"

  /** The STREAMING twin of the exhaustive BM25 ranking, hash-gated end
    * to end: a real [[graft.streaming.StreamingOps.invertedStateSink]]
    * run folds three micro-batches of the documents table into the
    * persisted inverted index (postings + df/global stat snapshots),
    * and the query serves top-10 FROM that state
    * ([[graft.streaming.StreamingOps.invertedStateBm25]]). The oracle
    * is the one-shot exhaustive scorer over the full table, so the
    * driver's gate proves that N micro-batches of streaming index
    * maintenance produce BIT-identical BM25 scores to a batch rebuild —
    * corpus stats (df, avgdl) drift with every arriving batch, and the
    * snapshot fold absorbs exactly that drift. */
  private val bm25Stream = QueryDef(
    fn = (spark, dir) =>
      graft.streaming.StreamingOps.invertedStateBm25(
          spark, streamedIndexPath(spark, dir), TERMS, K)
        .orderBy("rn"),
    oracle = Some(
      s"""WITH $dPerTerm,
         |scored AS (SELECT doc_id, SUM(s) AS score FROM per_term GROUP BY doc_id)
         |SELECT doc_id, CAST(score * 1000000 AS BIGINT) AS score_micros,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rn
         |FROM scored QUALIFY rn <= $K ORDER BY rn""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_bm25_maxscore" -> bm25MaxScore,
    "q_maxscore_prune_stats" -> maxScoreStats,
    "q_bm25_stream" -> bm25Stream)
}
