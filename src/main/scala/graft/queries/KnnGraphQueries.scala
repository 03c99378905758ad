package graft.queries

import graft.QueryDef
import graft.ops.{SessionCache, Similarity, Tables}
import org.apache.spark.sql.functions._

/** k-nearest-neighbor GRAPH construction and NN-descent refinement
  * ([[graft.ops.Similarity.knnGraph]] /
  * [[graft.ops.Similarity.nnDescentRound]]) over the embeddings corpus,
  * plus the recall contract that measures the refinement's lift.
  *
  * Operating point: 8 sign-LSH tables × 8 bits (256 buckets/table over
  * the 64 dims) with k = 16 neighbors, then TWO descent rounds.
  * Deliberately SPARSER seeding than the q_sim_ann_lsh family's 16×4
  * high-recall config: a kNN graph runs every node as a query, so the
  * candidate mass is Σ_buckets b² per table and coarse buckets regress
  * toward all-pairs. The sparse seed graph is poor on its own
  * (recall@4 vs exact truth: 0.125/0.19/0.09 at sf0.001/0.01/0.1) and
  * NN-descent is what makes it an index: k = 16 matters — with k = 4
  * two rounds plateaued at ~0.2 recall, while k = 16 reaches
  * 0.81/0.94/0.66 (the "k must exceed the data's intrinsic
  * dimensionality" behavior the NN-descent paper reports). q_knn_recall
  * pins the measured floors.
  *
  * All three queries share the memoized graph/descent frames (one LSH
  * index build + two expansion rounds per session), so the driver gate
  * and bench pay the chain once — the trainedIvfCells discipline.
  */
object KnnGraphQueries {

  /** Stored neighbors per node (the descent candidate pool). */
  private val K = 16
  /** Evaluation depth of the recall contract (top-4 of the k=16 lists —
    * the lists are cos-ordered, so rank ≤ 4 IS the re-ranked head). */
  private val KEVAL = 4
  private val NBITS = 8
  private val TABLES = 8

  private def graphFrame(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "knn_graph") {
      Similarity.knnGraph(Tables.embeddings(spark, dir),
        "vec_id", "embedding", K, NBITS, TABLES)
         .localCheckpoint(true)
    }

  /** Two NN-descent rounds. Round 1 is checkpointed inside the build:
    * round 2 references it three times (both symmetrized join sides plus
    * the candidate union), and node-scale n·k edge frames are exactly
    * what localCheckpoint is for. At 100 TB the same chain runs with a
    * reverse-degree cap (sample the in-edges of hub nodes — the
    * NN-descent ρ parameter) to bound the two-hop join's skew; here the
    * exact form is kept so the oracle can replay it row-for-row, and
    * AQE's skew split handles the in-between scales. */
  private def descentFrame(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "knn_descent") {
      val emb = Tables.embeddings(spark, dir)
      val r1 = Similarity.nnDescentRound(emb, graphFrame(spark, dir),
        "vec_id", "embedding", K).localCheckpoint(true)
      Similarity.nnDescentRound(emb, r1, "vec_id", "embedding", K)
         .localCheckpoint(true)
    }

  /** One descent round as SQL: symmetrize `prev`, two-hop expand, union
    * with `prev`, re-score, keep top K per node — the exact
    * [[graft.ops.Similarity.nnDescentRound]] dataflow. */
  private def dDescentRound(prev: String, out: String): String = {
    val cosXY = ExtensionQueries.dCos("x.e", "y.e")
    // DISTINCT-over-UNION-ALL, never a bare `A UNION B` CTE: under a
    // WITH RECURSIVE header (which q_knn_clusters' components oracle
    // needs), DuckDB 1.0 runs ANY `cte AS (A UNION B)` through the
    // recursive-union executor, which skips the base-vs-step dedup —
    // the UNION silently degrades to UNION ALL, duplicate symmetrized
    // edges reach the rank window, and a node's top-k list carries the
    // same neighbor at several ranks (observed: d2 8000 rows / 1265
    // distinct pairs). The subquery form is mode-independent.
    s"""${out}_e AS (SELECT node_id, neighbor_id FROM $prev),
       |${out}_sym AS (SELECT DISTINCT node_id, neighbor_id FROM (
       |        SELECT node_id, neighbor_id FROM ${out}_e
       |        UNION ALL SELECT neighbor_id, node_id FROM ${out}_e)),
       |${out}_hop AS (SELECT a.node_id, b.neighbor_id
       |        FROM ${out}_sym a JOIN ${out}_sym b ON a.neighbor_id = b.node_id
       |        WHERE a.node_id <> b.neighbor_id),
       |${out}_cand AS (SELECT DISTINCT node_id, neighbor_id FROM (
       |          SELECT node_id, neighbor_id FROM ${out}_e
       |          UNION ALL SELECT node_id, neighbor_id FROM ${out}_hop)),
       |${out}_scored AS (SELECT node_id, neighbor_id, $cosXY AS cos
       |            FROM ${out}_cand JOIN v x ON ${out}_cand.node_id = x.vec_id
       |                       JOIN v y ON ${out}_cand.neighbor_id = y.vec_id),
       |$out AS (SELECT node_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT node_id, neighbor_id, cos, row_number() OVER (
       |    PARTITION BY node_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM ${out}_scored) WHERE rank <= $K)""".stripMargin
  }

  /** Shared oracle CTEs: the LSH-seeded graph `g` replayed key-for-key,
    * then two descent rounds as `d1`, `d2`. */
  private def dGraphCtes = {
    val keys = ExtensionQueries.dLshKeys("embedding", tables = TABLES, nBits = NBITS)
    val cosXY = ExtensionQueries.dCos("x.e", "y.e")
    s"""v AS (SELECT vec_id, embedding AS e, $keys AS keys FROM embeddings),
       |vk AS (SELECT vec_id, unnest(keys) AS key FROM v),
       |gcand AS (SELECT DISTINCT a.vec_id AS node_id, b.vec_id AS neighbor_id
       |          FROM vk a JOIN vk b USING (key) WHERE a.vec_id <> b.vec_id),
       |gscored AS (SELECT node_id, neighbor_id, $cosXY AS cos
       |            FROM gcand JOIN v x ON gcand.node_id = x.vec_id
       |                       JOIN v y ON gcand.neighbor_id = y.vec_id),
       |g AS (SELECT node_id, neighbor_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT node_id, neighbor_id, cos, row_number() OVER (
       |    PARTITION BY node_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM gscored) WHERE rank <= $K),
       |${dDescentRound("g", "d1")},
       |${dDescentRound("d1", "d2")}""".stripMargin
  }

  private val knnGraphQ = QueryDef(
    fn = (spark, dir) =>
      graphFrame(spark, dir).orderBy("node_id", "rank"),
    oracle = Some(
      s"""WITH $dGraphCtes
         |SELECT node_id, neighbor_id, cos, rank FROM g
         |ORDER BY node_id, rank""".stripMargin))

  private val knnDescentQ = QueryDef(
    fn = (spark, dir) =>
      descentFrame(spark, dir).orderBy("node_id", "rank"),
    oracle = Some(
      s"""WITH $dGraphCtes
         |SELECT node_id, neighbor_id, cos, rank FROM d2
         |ORDER BY node_id, rank""".stripMargin))

  /** Recall@4 of the seed graph and of the twice-refined graph against
    * exact truth on the 8 fixed probe nodes (the `rank <= KEVAL` prefix
    * of the ANN family's one truth memo, [[ExtensionQueries.annTruth]]),
    * with the measured contracts: the descent rounds at least triple the
    * seed hits (measured 6.5×/5×/7×), keep a 0.6 recall floor (measured
    * 0.8125/0.9375/0.656 at sf0.001/0.01/0.1), and the seed stays above
    * its own 0.05 floor (measured 0.125/0.1875/0.094). */
  private val knnRecallQ = QueryDef(
    fn = (spark, dir) => {
      def heads(df: org.apache.spark.sql.DataFrame) =
        df.filter(ExtensionQueries.isProbe("node_id") && col("rank") <= KEVAL)
          .select(col("node_id").as("query_id"), col("neighbor_id"))
      Similarity.hits(ExtensionQueries.annTruth(spark, dir, KEVAL),
          "graph_hits" -> heads(graphFrame(spark, dir)),
          "descent_hits" -> heads(descentFrame(spark, dir)))
        .select(col("n_truth"), col("graph_hits"), col("descent_hits"),
          (col("descent_hits") >= col("graph_hits") * 3).as("descent_lift_ok"),
          (col("graph_hits").cast("double") >= col("n_truth") * 0.05)
            .as("graph_recall_ok"),
          (col("descent_hits").cast("double") >= col("n_truth") * 0.6)
            .as("descent_recall_ok"))
    },
    oracle = Some {
      def heads(graph: String) =
        s"(SELECT node_id AS query_id, neighbor_id FROM $graph " +
          s"WHERE node_id < 8 AND rank <= $KEVAL)"
      s"""WITH $dGraphCtes,
         |${ExtensionQueries.dTruth(KEVAL)},
         |${ExtensionQueries.dHits("graph_hits" -> heads("g"), "descent_hits" -> heads("d2"))}
         |SELECT n_truth, graph_hits, descent_hits,
         |  descent_hits >= graph_hits * 3 AS descent_lift_ok,
         |  CAST(graph_hits AS DOUBLE) >= n_truth * 0.05 AS graph_recall_ok,
         |  CAST(descent_hits AS DOUBLE) >= n_truth * 0.6 AS descent_recall_ok
         |FROM agg""".stripMargin
    })

  /** Beam width of the graph-ANN search read path. */
  private val BEAM = 16
  /** Fixed expansion rounds (oracle-replayable, not convergence-driven). */
  private val ROUNDS = 3
  /** Entry block: vec_ids [100, 100+BEAM) — fixed, deterministic, and
    * DISJOINT from the probe block (vec_id < 8), so the search must
    * NAVIGATE the graph to reach a probe's true neighborhood rather than
    * starting inside it. At production scale the entries would be
    * medoids/high-degree hubs; a fixed id block keeps the oracle a
    * WHERE clause. */
  private val ENTRY_LO = 100

  /** The graph-ANN search read path over the twice-refined graph:
    * 8 probe queries, BEAM-wide beam, ROUNDS expansion rounds from the
    * fixed entry block ([[graft.ops.Similarity.graphSearch]]). */
  private def searchFrame(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "knn_graph_search") {
      val emb = Tables.embeddings(spark, dir)
      Similarity.graphSearch(emb, descentFrame(spark, dir),
        emb.filter(ExtensionQueries.isProbe()), "vec_id", "embedding",
        emb.filter(col("vec_id") >= ENTRY_LO && col("vec_id") < ENTRY_LO + BEAM),
        BEAM, ROUNDS)
         .localCheckpoint(true)
    }

  /** One beam-search round as SQL: score `candSql`'s (query_id, node_id)
    * pairs and keep the per-query top-BEAM — the exact
    * [[graft.ops.Similarity.graphSearch]].topBeam dataflow. */
  private def dBeamTop(candSql: String, out: String): String = {
    val cosQX = ExtensionQueries.dCos("q.qv", "x.e")
    s"""${out}_sc AS (SELECT c.query_id, c.node_id, $cosQX AS cos
       |  FROM ($candSql) c
       |  JOIN qs q ON c.query_id = q.query_id
       |  JOIN v x ON c.node_id = x.vec_id
       |  WHERE c.node_id <> c.query_id),
       |$out AS (SELECT query_id, node_id, cos, CAST(rank AS INTEGER) AS rank FROM (
       |  SELECT query_id, node_id, cos, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cos DESC, node_id ASC) AS rank
       |  FROM ${out}_sc) WHERE rank <= $BEAM)""".stripMargin
  }

  /** Beam CTEs b0..b{ROUNDS} over the symmetrized d2 edges (gsym), plus
    * the probe/entry frames. All unions are DISTINCT-over-UNION-ALL —
    * see dDescentRound on why a bare `A UNION B` CTE cannot appear
    * under a WITH RECURSIVE header. */
  /** Symmetrized d2 edges + the fixed entry block — shared by the exact
    * and the ADC beam chains. */
  private def dSymEntCtes: String =
    s"""gsym AS (SELECT DISTINCT node_id, neighbor_id FROM (
       |  SELECT node_id, neighbor_id FROM d2
       |  UNION ALL SELECT neighbor_id, node_id FROM d2)),
       |ent AS (SELECT vec_id AS node_id FROM v
       |        WHERE vec_id >= $ENTRY_LO AND vec_id < ${ENTRY_LO + BEAM})""".stripMargin

  /** The candidate set of beam round `i`: the previous beam plus its
    * one-hop frontier, deduped (DISTINCT-over-UNION-ALL form). */
  private def dBeamCand(prev: String): String =
    s"""SELECT DISTINCT query_id, node_id FROM (
       |    SELECT query_id, node_id FROM $prev
       |    UNION ALL
       |    SELECT b.query_id, s.neighbor_id AS node_id
       |    FROM $prev b JOIN gsym s ON b.node_id = s.node_id)""".stripMargin

  private def dBeamCtes: String = {
    val rounds = (1 to ROUNDS).map { i =>
      dBeamTop(dBeamCand(s"b${i - 1}"), s"b$i")
    }.mkString(",\n")
    s"""$dSymEntCtes,
       |qs AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 8),
       |${dBeamTop("SELECT query_id, node_id FROM qs CROSS JOIN ent", "b0")},
       |$rounds""".stripMargin
  }

  /** The search read path, hash-gated end to end: LSH seed graph → two
    * NN-descent rounds → THREE beam rounds from a fixed entry block —
    * the oracle replays every round. Emits the final beam
    * (query_id, neighbor_id, cos, rank ≤ BEAM) for the 8 probes. */
  private val graphAnnSearchQ = QueryDef(
    fn = (spark, dir) => searchFrame(spark, dir).orderBy("query_id", "rank"),
    oracle = Some(
      s"""WITH $dGraphCtes,
         |$dBeamCtes
         |SELECT query_id, node_id AS neighbor_id, cos, rank FROM b$ROUNDS
         |ORDER BY query_id, rank""".stripMargin))

  /** Recall@KEVAL of the graph-ANN search against exact truth on the 8
    * probes, beside the ENTRY-ONLY baseline (top-KEVAL of the entry
    * block scored directly — what the search would return with zero
    * graph rounds). The Spark side computes the baseline as
    * bruteForceTopK over the entry-block corpus — identical to b0's
    * top-KEVAL (same scoring, same tie-break, entries disjoint from
    * probes); the oracle replays it from the b0 CTE itself, so the gate
    * also proves that equivalence. Measured: search recall@4
    * 0.84/1.0/0.625 at sf0.001/0.01/0.1 vs entry-only 0.03/0.03/0 —
    * the 0.6 search floor sits under every point (sf0.1's 0.625 tracks
    * its graph's own 0.656 descent recall: the search can only surface
    * what the graph reaches), and search ≥ entry is structural (the
    * entry beam is b0, and b0's nodes stay candidates every round). */
  private val graphAnnRecallQ = QueryDef(
    fn = (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val entryBase = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") >= ENTRY_LO && col("vec_id") < ENTRY_LO + BEAM),
        emb.filter(ExtensionQueries.isProbe()), "vec_id", "embedding", KEVAL)
      Similarity.hits(ExtensionQueries.annTruth(spark, dir, KEVAL),
          "entry_hits" -> entryBase,
          "search_hits" -> searchFrame(spark, dir).filter(col("rank") <= KEVAL))
        .select(col("n_truth"), col("entry_hits"), col("search_hits"),
          (col("search_hits") >= col("entry_hits")).as("search_lift_ok"),
          (col("search_hits").cast("double") >= col("n_truth") * 0.6)
            .as("search_recall_ok"))
    },
    oracle = Some {
      def beam(b: String) =
        s"(SELECT query_id, node_id AS neighbor_id FROM $b WHERE rank <= $KEVAL)"
      s"""WITH $dGraphCtes,
         |$dBeamCtes,
         |${ExtensionQueries.dTruth(KEVAL)},
         |${ExtensionQueries.dHits("entry_hits" -> beam("b0"), "search_hits" -> beam(s"b$ROUNDS"))}
         |SELECT n_truth, entry_hits, search_hits,
         |  search_hits >= entry_hits AS search_lift_ok,
         |  CAST(search_hits AS DOUBLE) >= n_truth * 0.6 AS search_recall_ok
         |FROM agg""".stripMargin
    })

  /** Exact-re-rank depth of the ADC search (the final raw-vector touch
    * is ≤ BEAM rows per query; the emitted head is KFINAL of them). */
  private val KFINAL = 8

  /** The DiskANN-style read path: same traversal as [[searchFrame]] but
    * every beam round scores candidates from their 8 PQ code bytes
    * (LUT-ADC against the shared trained codebook), and only the final
    * beam touches raw vectors for the exact re-rank
    * ([[graft.ops.Similarity.graphSearchAdc]]). Shares the PQ family's
    * memoized codebook + code table (ExtensionQueries) and this
    * family's memoized descent graph. */
  private def adcSearchFrame(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "knn_graph_search_adc") {
      val emb = Tables.embeddings(spark, dir)
      Similarity.graphSearchAdc(emb, descentFrame(spark, dir),
        emb.filter(ExtensionQueries.isProbe()), "vec_id", "embedding",
        emb.filter(col("vec_id") >= ENTRY_LO && col("vec_id") < ENTRY_LO + BEAM),
        ExtensionQueries.pqCodesMemo(spark, dir)
          .select(col("vec_id"), col("codes")),
        ExtensionQueries.pqCodebook(spark, dir),
        m = 8, subDim = 8, beam = BEAM, rounds = ROUNDS, k = KFINAL)
         .localCheckpoint(true)
    }

  /** One ADC beam round as SQL: candidates keep their m per-subspace
    * LUT partials (qlut) and sub-centroid norms (pqn), each summed by
    * the sequential s-ascending fold — the exact
    * [[graft.ops.Similarity.pqAdcCosineLut]] grouping the q_ivf_pq_*
    * oracles already replay — then per-query top-BEAM by the floored
    * ADC cosine. */
  private def dAdcBeamTop(candSql: String, out: String): String = {
    val normQ = s"sqrt(${ExtensionQueries.dDot("q.qv", "q.qv")})"
    s"""${out}_g AS (SELECT c.query_id, c.node_id,
       |    ${ExtensionQueries.dSumD("list(qlut.pd ORDER BY codes.s)")} AS dotq,
       |    ${ExtensionQueries.dSumD("list(pqn.nsq ORDER BY codes.s)")} AS nsq
       |  FROM ($candSql) c
       |  JOIN codes ON codes.vec_id = c.node_id
       |  JOIN qlut ON qlut.query_id = c.query_id
       |    AND qlut.s = codes.s AND qlut.j = codes.j
       |  JOIN pqn ON pqn.s = codes.s AND pqn.j = codes.j
       |  WHERE c.node_id <> c.query_id
       |  GROUP BY c.query_id, c.node_id),
       |$out AS (SELECT query_id, node_id FROM (
       |  SELECT g.query_id, g.node_id, row_number() OVER (
       |    PARTITION BY g.query_id ORDER BY
       |      floor((g.dotq / ($normQ * sqrt(g.nsq))) * 1000000.0 + 0.5)
       |        / 1000000.0 DESC,
       |      g.node_id ASC) AS rank
       |  FROM ${out}_g g JOIN q ON q.query_id = g.query_id)
       |  WHERE rank <= $BEAM)""".stripMargin
  }

  /** DiskANN-style search, hash-gated end to end: Lloyd cell training →
    * PQ codebook training + coding → LSH seed graph → two descent
    * rounds → three ADC-scored beam rounds → exact re-rank — the
    * longest oracle replay chain in the repo, and the gate proves the
    * full compressed-traversal pipeline row-level. Measured recall@4 vs
    * exact truth: see q_graph_ann_recall's scaladoc for the exact-beam
    * reference points; the spec pins ADC-vs-exact beam agreement. */
  private val graphAnnAdcQ = QueryDef(
    fn = (spark, dir) => adcSearchFrame(spark, dir).orderBy("query_id", "rank"),
    oracle = Some {
      val cosQX = ExtensionQueries.dCos("q.qv", "x.e")
      val rounds = (1 to ROUNDS).map { i =>
        dAdcBeamTop(dBeamCand(s"ab${i - 1}"), s"ab$i")
      }.mkString(",\n")
      s"""WITH ${ExtensionQueries.dLloydCtes(2)},
         |$dGraphCtes,
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |      WHERE vec_id < 8),
         |${ExtensionQueries.pqOracleCtes},
         |${ExtensionQueries.pqLutCtes},
         |$dSymEntCtes,
         |${dAdcBeamTop("SELECT q.query_id, ent.node_id FROM q CROSS JOIN ent", "ab0")},
         |$rounds,
         |rr_sc AS (SELECT b.query_id, b.node_id, $cosQX AS cos
         |  FROM ab$ROUNDS b
         |  JOIN q ON b.query_id = q.query_id
         |  JOIN v x ON b.node_id = x.vec_id),
         |rr AS (SELECT query_id, node_id, cos, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT query_id, node_id, cos, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, node_id ASC) AS rank
         |  FROM rr_sc) WHERE rank <= $KFINAL)
         |SELECT query_id, node_id AS neighbor_id, cos, rank FROM rr
         |ORDER BY query_id, rank""".stripMargin
    })

  /** Mutual-kNN components, memoized: the refined graph's edge set
    * filtered to RECIPROCATED edges (u ∈ kNN(v) ∧ v ∈ kNN(u) — the
    * standard spurious-hub filter for kNN-graph clustering), oriented
    * a < b, then the star-contraction components machinery. Node-scale
    * input (≤ n·k edges), and the driver-looped label propagation is
    * exactly why the frame is checkpointed once per session. */
  private def mutualCompsFrame(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionCache.memo(spark, dir, "knn_mutual_comps") {
      val e = descentFrame(spark, dir).select(col("node_id"), col("neighbor_id"))
      val mutual = e.intersect(
          e.select(col("neighbor_id").as("node_id"), col("node_id").as("neighbor_id")))
        .filter(col("node_id") < col("neighbor_id"))
        .select(col("node_id").as("id_a"), col("neighbor_id").as("id_b"))
      graft.ops.Dedup.connectedComponents(mutual, "id_a", "id_b",
        uniquePairs = true)
         .localCheckpoint(true)
    }

  /** Graph-based semantic clustering: connected components of the
    * mutual-kNN graph — the kNN-graph-side companion to q_semdedup's
    * cell-confined pair dedup (clusters can cross IVF cells; reciprocity
    * replaces the similarity threshold). Emits every corpus node with
    * its cluster id (component min — isolated nodes are their own
    * cluster), the cluster size, and the root flag. */
  private val knnClustersQ = QueryDef(
    fn = (spark, dir) => {
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"))
      val comps = mutualCompsFrame(spark, dir)
        .withColumnRenamed("id", "vec_id")
      val assigned = emb.join(comps, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("comp"))
      val sizes = assigned.groupBy(col("comp"))
        .agg(count(lit(1)).as("cluster_size"))
      assigned.join(sizes, "comp")
        .select(col("vec_id"), col("comp"), col("cluster_size"),
          (col("vec_id") === col("comp")).as("is_root"))
        .orderBy("vec_id")
    },
    oracle = Some(
      s"""WITH RECURSIVE $dGraphCtes,
         |me AS (SELECT e1.node_id AS a, e1.neighbor_id AS b
         |       FROM (SELECT node_id, neighbor_id FROM d2) e1
         |       JOIN (SELECT node_id, neighbor_id FROM d2) e2
         |         ON e1.node_id = e2.neighbor_id AND e1.neighbor_id = e2.node_id
         |       WHERE e1.node_id < e1.neighbor_id),
         |${ExtensionQueries.componentsOracle("SELECT a, b FROM me")},
         |assigned AS (SELECT v.vec_id, COALESCE(c.comp, v.vec_id) AS comp
         |             FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.id),
         |sizes AS (SELECT comp, COUNT(*) AS cluster_size
         |          FROM assigned GROUP BY comp)
         |SELECT a.vec_id, a.comp, s.cluster_size,
         |  (a.vec_id = a.comp) AS is_root
         |FROM assigned a JOIN sizes s USING (comp)
         |ORDER BY vec_id""".stripMargin))

  /** The graph store a 3-micro-batch real-stream run of the embeddings
    * table through [[graft.streaming.StreamingOps.knnStateSink]] left
    * behind, once per (session, dir) ([[Scratch.streamedStores]]). */
  private[graft] def streamedGraphPath(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    Scratch.streamedStores(spark, "knnstream", dir,
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        "vec_id") {
      (stream, base) => graft.streaming.StreamingOps.knnStateSink(
        stream, "vec_id", "embedding", s"$base/vecs", s"$base/graph", s"$base/ckpt",
        k = K, nBits = NBITS, tables = TABLES)
    } + "/graph"

  /** The STREAMING twin of q_knn_graph, hash-gated end to end: a real
    * [[graft.streaming.StreamingOps.knnStateSink]] run folds three
    * micro-batches of the embeddings table into the persisted graph
    * store, and the query emits the store's NEWEST snapshot — one
    * node-scale narrow scan, no index rebuild. The oracle replays the
    * ONE-SHOT LSH-seeded graph row-level, so the driver's gate proves N
    * micro-batches of streaming index maintenance ≡ a one-shot batch
    * build — two engine paths, one contract (the q_dedup_roots trio
    * convention). */
  private val knnGraphStreamQ = QueryDef(
    fn = (spark, dir) =>
      graft.streaming.StreamingOps.knnStateGraph(
          spark, streamedGraphPath(spark, dir))
        .orderBy("node_id", "rank"),
    oracle = Some(
      s"""WITH $dGraphCtes
         |SELECT node_id, neighbor_id, cos, rank FROM g
         |ORDER BY node_id, rank""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_knn_graph" -> knnGraphQ,
    "q_knn_descent" -> knnDescentQ,
    "q_knn_recall" -> knnRecallQ,
    "q_knn_clusters" -> knnClustersQ,
    "q_knn_graph_stream" -> knnGraphStreamQ,
    "q_graph_ann_search" -> graphAnnSearchQ,
    "q_graph_ann_recall" -> graphAnnRecallQ,
    "q_graph_ann_adc" -> graphAnnAdcQ)
}
