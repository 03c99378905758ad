package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over an `array<float>` embedding column
  * (SURVEY.md §2.4): exact brute-force cosine top-k as the baseline and an
  * LSH-bucketed variant as the 100 TB scale path.
  *
  * Every search operator here is one pipeline: generate candidate pairs
  * (a cross join, sign-LSH buckets, IVF cells, graph hops), score them
  * ([[scoreCos]]), keep a per-query top-k ([[topK]]). Only the candidate
  * stage differs between operators.
  *
  * Cosine is the fused native kernel [[graft.functions.Kernels.cosine]]:
  * one pass, accumulated in double in array order, so the result is
  * bit-deterministic (and matches DuckDB's sequential
  * list_cosine_similarity after rounding). The centroid and PQ scorers
  * are higher-order `zip_with`/`aggregate` expressions with the same
  * accumulation order.
  *
  * Scale notes: brute force is a broadcast nested-loop of Q queries × N
  * corpus rows — linear scans parallelize perfectly but cost O(Q·N·d); the
  * sign-LSH variant buckets both sides on r hyperplane sign bits so the join
  * becomes an equi-join on bucket id (shuffle hash join, prunable,
  * AQE-skew-splittable), trading recall for a ~2^r fan-in reduction.
  */
object Similarity {

  /** Sequential-order double dot product of two float arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** NaN -> NULL: a zero-norm (all-zero) vector yields 0/0 = NaN, and Spark
    * orders NaN ABOVE every real number, so without this guard a broken
    * embedding would top-rank as everyone's nearest neighbor and pass every
    * `cos >= t` filter. NULL instead sorts last under desc and fails
    * threshold filters — the correct "no similarity defined" semantics. */
  private def nanToNull(c: Column): Column = when(isnan(c), lit(null)).otherwise(c)

  /** Higher-order-function cosine (reference form; 4 array passes). Kept for
    * the equivalence spec against the fused native kernel. The divisor is
    * guarded, not the quotient: under ANSI mode a zero-norm or empty pair
    * raises DIVIDE_BY_ZERO before any NaN exists (see [[cosineInt]]).
    * NOTE: nanToNull must wrap the RAW ratio — Spark's floor() maps NaN to
    * 0, so round6(NaN) would silently become 0.0 and dodge the guard. */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    TextAnalysis.round6(nanToNull(when(denom > 0, dot(a, b) / denom)))
  }

  /** Cosine similarity rounded to 6 digits (cross-engine float discipline —
    * see TextAnalysis.round6 on why not the builtin `round`). Uses the
    * fused single-pass kernel [[graft.functions.Kernels.cosine]];
    * bit-identical to [[cosineHof]] (same index-order double accumulation),
    * with zero-norm inputs mapped to NULL.
    */
  def cosine(a: Column, b: Column): Column =
    TextAnalysis.round6(nanToNull(graft.functions.Native.cosine(a, b)))

  /** Asymmetric scalar-quantization cosine: a RAW float query against an
    * int8 code array. The per-vector quantization scale cancels in the
    * cosine ratio, so this IS the SQ8 approximate score — integer-valued
    * dot and candidate norm (engine-exact term products), one floored
    * division. Zero-norm codes map to NULL like [[cosine]]. */
  def cosineInt(qv: Column, codes: Column): Column = {
    val dotQC = aggregate(
      zip_with(qv, codes, (x, c) => x.cast("double") * c.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val normC = sqrt(aggregate(codes,
      lit(0.0), (acc, c) => acc + c.cast("double") * c.cast("double")))
    // guard the divisor rather than the quotient: under ANSI mode (the
    // Spark 4 default this library runs with) 0/0 raises DIVIDE_BY_ZERO
    // before nanToNull could see the NaN
    val denom = norm(qv) * normC
    TextAnalysis.round6(when(denom > 0, dotQC / denom))
  }

  /** Exact brute-force top-k: for every query row, the k nearest corpus rows
    * by cosine (self-match excluded), ties broken by corpus id ascending.
    * The query side should be small — Catalyst broadcasts it under the join
    * threshold; at scale this is the ground-truth/recall-eval operator.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    topK(scoreCos(c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))),
        "query_id", "cos", "neighbor_id", k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  // ---- the score and rank stages -----------------------------------------

  /** The score stage of every cosine search: join each `(side, key)` onto
    * the candidates by that id column (a side brings `qv` or `cv`), score
    * `cos = cosine(qv, cv)` and drop NULL — a zero-norm or corrupt vector
    * is no one's neighbor. Ids travel through the candidate joins and the
    * vectors attach once, here. */
  private[graft] def scoreCos(cand: DataFrame, sides: (DataFrame, String)*): DataFrame =
    sides.foldLeft(cand) { case (df, (side, key)) => df.join(side, key) }
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .filter(col("cos").isNotNull)

  /** The rank stage of every top-k operator: within each `key`, number
    * rows by `score` descending, ties by `tie` ascending, and keep numbers
    * ≤ k in column `as`. One comparator, so every operator breaks ties the
    * same way (and the SQL oracles replay it as one ORDER BY). */
  private[graft] def topK(df: DataFrame, key: String, score: String, tie: String,
      k: Int, as: String = "rank"): DataFrame =
    df.withColumn(as, row_number().over(
        Window.partitionBy(col(key)).orderBy(col(score).desc, col(tie).asc)))
      .filter(col(as) <= k)

  /** The evaluation stage of every recall gate: how many (query_id,
    * neighbor_id) rows of `truth` each named result returned. Each result
    * left-joins onto the truth with a flag, and one aggregate counts
    * `n_truth` and one hit column per result, named as given. An empty
    * result counts 0 hits. A result must hold each pair at most once, as
    * a top-k does. */
  private[graft] def hits(truth: DataFrame, results: (String, DataFrame)*): DataFrame = {
    val pair = Seq("query_id", "neighbor_id")
    results.foldLeft(truth.select(pair.map(col): _*)) { case (df, (name, r)) =>
        df.join(r.select(pair.map(col): _*).withColumn(s"in_$name", lit(1L)), pair, "left")
      }
      .agg(count(lit(1)).as("n_truth"), results.map { case (name, _) =>
        sum(coalesce(col(s"in_$name"), lit(0L))).as(name) }: _*)
  }

  /** Recall as the exact integer ⌊hits·10⁶/n_truth⌋ of a [[hits]] row. */
  private[graft] def recallE6(hits: String = "hits"): Column =
    expr(s"$hits * 1000000 div n_truth")

  /** Approximate shortlist → exact re-rank: per query, the `shortlist`
    * best rows of `approx` by its approximate `score` (ties by candidate
    * id `tie`), then the raw vectors of `raw` (neighbor_id, cv) attach to
    * that shortlist only and the top k by exact cosine win. `approx`
    * carries (query_id, qv, tie, score). The raw store is read for
    * |queries| × shortlist rows, never per candidate. */
  private[graft] def rerankExact(approx: DataFrame, score: String, tie: String,
      shortlist: Int, raw: DataFrame, k: Int): DataFrame =
    topK(scoreCos(topK(approx, "query_id", score, tie, shortlist, "ar")
        .select(col("query_id"), col("qv"), col(tie).as("neighbor_id")),
        raw -> "neighbor_id"),
      "query_id", "cos", "neighbor_id", k)

  /** Forward ∪ reverse edges of a (node_id, neighbor_id) graph, distinct. */
  private[graft] def symmetrized(graph: DataFrame): DataFrame = {
    val e = graph.select(col("node_id"), col("neighbor_id"))
    e.union(e.select(col("neighbor_id").as("node_id"), col("node_id").as("neighbor_id")))
      .distinct()
  }

  /** Sign-LSH bucket id from the signs of `nBits` consecutive coordinates
    * starting at 0-based dimension `start` (axis-aligned hyperplanes —
    * deterministic, oracle-expressible). Bit i is set iff
    * vec[start + i] >= 0; bucket in [0, 2^nBits).
    */
  def signBucketAt(vec: Column, start: Int, nBits: Int): Column =
    (0 until nBits).map { i =>
      when(element_at(vec, start + i + 1) >= 0f, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucket over the leading dims — table 0 of the amplified family. */
  def signBucket(vec: Column, nBits: Int): Column = signBucketAt(vec, 0, nBits)

  /** AND-OR amplified sign-LSH approximate top-k, for queries that are a
    * predicate-selected subset of the corpus (the "find neighbors of these
    * docs in the collection" shape; `lit(true)` searches every row).
    * `tables` hash tables, each AND-ing `nBits` sign bits from a disjoint
    * block of coordinates (table l buckets on dims [l*nBits, (l+1)*nBits));
    * a corpus row is a candidate for a query if they share a bucket in ANY
    * table. For per-hyperplane agreement p the candidate probability is
    * 1-(1-p^nBits)^tables — the AND sharpens precision, the OR recovers
    * recall: one 8-bit table measured 1/40 top-5 recall on the benchmark
    * embeddings; 16 tables of 4 bits (the `q_sim_ann_lsh` / `q_ann_recall`
    * configuration) measured 39/40, 37/40 and 35/40 at sf0.001/0.01/0.1 —
    * the 0.8 floor asserted by `q_ann_recall`'s `lsh_recall_ok` contract.
    *
    * Scale shape: the [[signKeys]] index is computed ONCE over the corpus
    * and locally checkpointed — n·tables narrow (id, table, bucket) rows,
    * exactly what an LSH service persists; vectors are not carried through
    * the explode, so the corpus never inflates `tables`-fold through a
    * shuffle. The query side filters that index instead of re-hashing its
    * vectors (measured 2.1 s → 1.2 s on q_sim_ann_lsh at sf0.1). The
    * candidate join is an equi-join on (table, bucket)
    * (AQE-skew-splittable), duplicates across tables collapse in a
    * distinct over narrow id pairs (candidates ≪ pair space — that is the
    * point of the index), and each surviving pair fetches its two vectors
    * back by id equi-join for exact cosine scoring.
    */
  def lshTopKSelf(
      corpus: DataFrame, queryPred: Column,
      idCol: String, vecCol: String, k: Int, nBits: Int = 8,
      tables: Int = 1): DataFrame = {
    val buckets = signKeys(corpus, idCol, vecCol, nBits, tables)
      .withColumnRenamed("id", idCol) // queryPred reads the caller's id
      .localCheckpoint(false)
    val cand = buckets.filter(queryPred)
      .withColumnRenamed(idCol, "query_id")
      .join(buckets.withColumnRenamed(idCol, "neighbor_id"), Seq("l", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    topK(scoreCos(cand,
        corpus.filter(queryPred)
          .select(col(idCol).as("query_id"), col(vecCol).as("qv")) -> "query_id",
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")) -> "neighbor_id"),
        "query_id", "cos", "neighbor_id", k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** The AND-OR sign-LSH key frame (id, l, bucket) — one row per (vector,
    * table), the narrow index [[lshTopKSelf]] checkpoints and the
    * streaming kNN maintenance persists incrementally. The table family
    * consumes dims [0, tables*nBits); every vector must be at least that
    * wide, checked per row: `element_at` past the array end would read
    * NULL and silently merge high tables into one degenerate bucket. */
  def signKeys(df: DataFrame, idCol: String, vecCol: String,
      nBits: Int, tables: Int): DataFrame = {
    require(nBits >= 1 && tables >= 1,
      s"nBits=$nBits and tables=$tables must both be >= 1")
    val needDims = tables * nBits
    // size() of a NULL vector is NULL, so the message side must coalesce
    // or the raise_error itself would fire with a NULL (useless) message
    val v = when(size(col(vecCol)) >= needDims, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"signKeys: tables*nBits = $needDims sign dims but vector has "),
        coalesce(size(col(vecCol)).cast("string"), lit("NULL (null vector)")))))
    df.select(col(idCol).as("id"),
      posexplode(array((0 until tables).map { l =>
        signBucketAt(v, l * nBits, nBits)
      }: _*)).as(Seq("l", "bucket")))
  }

  /** LSH-seeded k-nearest-neighbor GRAPH: every corpus row is a query,
    * candidates come from the AND-OR sign-LSH bucket family ([[lshTopKSelf]]
    * with an all-rows query predicate), and each node keeps its k best
    * candidates by exact cosine. This is the seed graph for NN-descent
    * refinement ([[nnDescentRound]]) and the building block of kNN-graph
    * consumers (graph clustering, semantic dedup, diversity sampling).
    *
    * Scale shape: identical to [[lshTopKSelf]] — the bucket index is
    * n·tables narrow rows computed once, the candidate join is an
    * equi-join on (table, bucket), and per-node top-k is a partitioned
    * rank window (map-side-limited by WindowGroupLimit). Nothing is
    * quadratic in n; the candidate mass is Σ_buckets b² which the
    * (nBits, tables) operating point controls. Nodes whose buckets are
    * all singletons get no edges — NN-descent's reverse-edge expansion
    * is the standard recovery for exactly that.
    *
    * Returns (node_id, neighbor_id, cos, rank ≤ k).
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nBits: Int = 8, tables: Int = 8): DataFrame =
    lshTopKSelf(corpus, lit(true), idCol, vecCol, k, nBits, tables)
      .withColumnRenamed("query_id", "node_id")

  /** One NN-descent refinement round (Dong, Moses & Li, WWW 2011 — "a
    * neighbor of a neighbor is likely a neighbor"): candidates for node u
    * are u's current neighbors PLUS every two-hop endpoint over the
    * SYMMETRIZED edge set (forward ∪ reverse edges — reverse edges are
    * what reconnect nodes the LSH seeding left isolated), re-ranked by
    * exact cosine, keeping the top k.
    *
    * Scale shape: the graph is node-scale (≤ n·k edges); symmetrization
    * doubles it; the two-hop expansion is a self-equi-join on the shared
    * middle node — ≤ n·(2k)² candidate rows, NEVER n². Scoring fetches
    * the two vectors by id equi-join (the [[scoreCos]] discipline: ids
    * travel through the joins, vectors attach once at the end). Each
    * round is one shuffle-bounded pass; callers iterate rounds until the
    * graph stops improving (recall-vs-truth is the stop metric —
    * q_knn_recall's contract measures one round's lift).
    *
    * Returns (node_id, neighbor_id, cos, rank ≤ k).
    */
  def nnDescentRound(corpus: DataFrame, graph: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val e = graph.select(col("node_id"), col("neighbor_id"))
    val sym = symmetrized(graph)
    val hops = sym
      .join(sym.select(col("node_id").as("mid"), col("neighbor_id").as("hop")),
        col("neighbor_id") === col("mid"))
      .filter(col("node_id") =!= col("hop"))
      .select(col("node_id"), col("hop").as("neighbor_id"))
    topK(scoreCos(e.union(hops).distinct(),
        corpus.select(col(idCol).as("node_id"), col(vecCol).as("qv")) -> "node_id",
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")) -> "neighbor_id"),
        "node_id", "cos", "neighbor_id", k)
      .select("node_id", "neighbor_id", "cos", "rank")
  }

  /** Graph-guided ANN beam search (the NSW/HNSW base-layer search of
    * Malkov et al. re-expressed as bounded-round dataflow): each query
    * starts from a fixed ENTRY node set, and every round expands the
    * current beam by its graph neighbors (symmetrized edges), re-scores
    * by exact cosine against the query vector, and keeps the best `beam`
    * nodes. Because the previous beam is always in the candidate set,
    * the beam's k-th best cosine is monotonically non-decreasing round
    * over round; `rounds` is FIXED (not convergence-driven) so an SQL
    * oracle can replay the search round-for-round.
    *
    * This is the READ path of the kNN-graph index ([[knnGraph]] +
    * [[nnDescentRound]] build it): per round, the frontier is
    * |Q|·beam·2k candidate rows through one equi-join on the node id —
    * query-scale, never corpus-scale. The corpus is touched only by the
    * id-equi-join that attaches candidate vectors (the [[scoreCos]]
    * discipline), so a 100 TB corpus costs each round one narrow
    * shuffled lookup of |Q|·beam·2k ids, not a scan. The symmetrized
    * edge frame is node-scale (≤ 2·n·k rows) and checkpointed once —
    * all `rounds` iterations reuse the materialization.
    *
    * Returns the final beam: (query_id, neighbor_id, cos, rank ≤ beam),
    * self-matches excluded.
    */
  def graphSearch(corpus: DataFrame, graph: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, entries: DataFrame,
      beam: Int, rounds: Int): DataFrame = {
    require(beam >= 1 && rounds >= 0,
      s"beam=$beam must be >= 1 and rounds=$rounds >= 0")
    val sym = symmetrized(graph).localCheckpoint(true)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("node_id"), col(vecCol).as("cv"))
    def topBeam(cand: DataFrame): DataFrame =
      topK(scoreCos(cand.filter(col("node_id") =!= col("query_id")),
          broadcast(q) -> "query_id", c -> "node_id"),
          "query_id", "cos", "node_id", beam)
        .select("query_id", "node_id", "cos", "rank")
    val b0 = topBeam(q.select(col("query_id"))
      .crossJoin(broadcast(entries.select(col(idCol).as("node_id")))))
    val bFinal = (1 to rounds).foldLeft(b0) { (b, _) =>
      val frontier = b.select(col("query_id"), col("node_id"))
        .join(sym, "node_id")
        .select(col("query_id"), col("neighbor_id").as("node_id"))
      topBeam(b.select(col("query_id"), col("node_id")).union(frontier).distinct())
    }
    bFinal.withColumnRenamed("node_id", "neighbor_id")
  }

  /** PQ-scored graph-ANN beam search — the DiskANN design point
    * (Subramanya et al., NeurIPS 2019, public): identical traversal to
    * [[graphSearch]], but every beam round scores candidates by LUT-ADC
    * cosine over their m PQ CODE BYTES ([[pqAdcCosineLut]] against the
    * broadcast codebook + the per-query [[pqQueryLut]] table computed
    * once), and only the FINAL beam is exact-re-ranked against raw
    * vectors. Traversal I/O is therefore code-table-sized (m bytes per
    * candidate, 32× under the raw float rows at m = 8); the raw store
    * is touched once, for ≤ beam rows per query — the memory/IO shape
    * that lets a graph index serve a corpus whose vectors don't fit
    * hot storage. The ADC ranking can diverge from exact ranking (that
    * is the quantization trade); the exact re-rank bounds the damage to
    * "the true neighbor must merely REACH the final beam, not win every
    * intermediate round". Returns (query_id, neighbor_id, cos exact,
    * rank ≤ k).
    */
  def graphSearchAdc(corpus: DataFrame, graph: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, entries: DataFrame,
      codes: DataFrame, cb: Seq[(Int, Int, Seq[Double])],
      m: Int, subDim: Int, beam: Int, rounds: Int, k: Int): DataFrame = {
    require(beam >= 1 && rounds >= 0 && k >= 1 && k <= beam,
      s"need beam=$beam >= 1, rounds=$rounds >= 0, 1 <= k=$k <= beam")
    val sym = symmetrized(graph).localCheckpoint(true)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("lut", pqQueryLut(col("qv"), cb, m, subDim))
      .withColumn("qnorm", norm(col("qv")))
    val cd = codes.select(col(idCol).as("node_id"), col("codes"))
    def topBeamAdc(cand: DataFrame): DataFrame =
      topK(cand
          .join(broadcast(q.select(col("query_id"), col("lut"), col("qnorm"))), "query_id")
          .join(cd, "node_id")
          .filter(col("node_id") =!= col("query_id"))
          .withColumn("adc",
            pqAdcCosineLut(col("lut"), col("qnorm"), col("codes"), cb, m, subDim)),
          "query_id", "adc", "node_id", beam)
        .select("query_id", "node_id")
    val b0 = topBeamAdc(q.select(col("query_id"))
      .crossJoin(broadcast(entries.select(col(idCol).as("node_id")))))
    val bFinal = (1 to rounds).foldLeft(b0) { (b, _) =>
      val frontier = b.join(sym, "node_id")
        .select(col("query_id"), col("neighbor_id").as("node_id"))
      topBeamAdc(b.union(frontier).distinct())
    }
    val c = corpus.select(col(idCol).as("node_id"), col(vecCol).as("cv"))
    topK(scoreCos(bFinal,
        broadcast(q.select(col("query_id"), col("qv"))) -> "query_id", c -> "node_id"),
        "query_id", "cos", "node_id", k)
      .select(col("query_id"), col("node_id").as("neighbor_id"),
        col("cos"), col("rank"))
  }

  /** Column-wise centroids per cell from a labeled corpus — the IVF
    * "training" step, here using a provided coarse label. Per-dimension
    * sums go through DECIMAL(20,10) so partial-aggregation order cannot
    * perturb the result (floats quantized at 1e-10, far below float32
    * noise); the centroid is the rounded double mean.
    * Returns (cellCol, centroid array<double> ordered by dimension).
    */
  def centroids(corpus: DataFrame, cellCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    corpus
      .select(col(cellCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(cellCol), col("pos"))
      .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") / count(lit(1)))
        .as("m"))
      .groupBy(col(cellCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(cellCol),
        transform(col("pm"), e => e.getField("m")).as("centroid"))
  }

  /** [[centroids]] collected and re-injected as a LITERAL frame. The
    * centroid set is metadata-scale (n_cells × dim) by construction, so
    * the collect is the same contract as [[kmeansAssign]]'s internal
    * literals. Callers probing an index derived from the SAME corpus
    * DataFrame (e.g. [[ivfTopK]] over trained cells) should pass this
    * instead of the live aggregate: it both avoids re-running the
    * centroid aggregation per plan reference and severs the shared
    * lineage that would otherwise make the probe a self-join of the
    * checkpointed assignment (a shape AQE mis-rewrites at some sizes —
    * INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — besides being slower).
    */
  def centroidsLiteral(corpus: DataFrame, cellCol: String, vecCol: String): DataFrame = {
    val res = centroids(corpus, cellCol, vecCol)
    res.sparkSession.createDataFrame(
      java.util.Arrays.asList(res.collect(): _*), res.schema)
  }

  /** One Lloyd iteration for IVF training: reassign every vector to its
    * nearest centroid by cosine (ties to the lowest cell id), ready for
    * [[centroids]] to recompute means over the new assignment. The corpus
    * never shuffles — centroids broadcast (they are n_cells × dim, tiny by
    * construction) and the argmax is a per-row scalar reduction over the
    * broadcast side, so iterating k times costs k map-side passes, not k
    * shuffles. Deterministic: cosine rounded at 1e-6 (cross-engine float
    * discipline), ties broken by cell ascending.
    *
    * Why it matters for the index: `q_ann_recall`'s `label` cells are
    * direction-uncorrelated, bounding nprobe-2-of-10 recall near the scan
    * fraction (~25-33% measured); Lloyd steps re-cluster cells around
    * cosine direction (~2x measured recall at the same nprobe on the
    * benchmark embeddings — still modest, because near-uniform 64-dim
    * vectors are close to the coarse-quantization worst case).
    */
  def kmeansAssign(
      corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, cellCol: String): DataFrame =
    assignByCents(corpus, collectCentroidRows(cents, cellCol), vecCol, cellCol)

  /** Centroid rows collected to the driver as (cell, centroid) pairs,
    * ordered by cell ascending — metadata-scale (n_cells × dim) by
    * construction, the same contract as [[kmeansAssign]]'s internal
    * literals. Collect ONCE per training level and reuse across the
    * family's consumers ([[assignExpr]], [[centroidsLiteralFrame]]): each
    * re-collect is a full re-aggregation job plus a driver round. */
  def collectCentroidRows(cents: DataFrame, cellCol: String): Seq[(Any, Seq[Double])] =
    cents.select(col(cellCol), col("centroid")).orderBy(col(cellCol))
      .collect().map(r => (r.get(0), r.getSeq[Double](1))).toSeq

  /** [[centroids]] + [[collectCentroidRows]] fused into ONE single-shuffle
    * job: the per-(cell, dimension) means — identical DECIMAL(20,10)
    * arithmetic, so values are bit-equal to [[centroids]]' — are collected
    * as (cell, pos, m) rows (n_cells × dim of them, metadata-scale) and
    * the centroid arrays are assembled on the driver. Skips the second
    * cell-keyed exchange, the array_sort, and the pre-collect sort that
    * the two-step frame pays — per Lloyd iteration that is one shuffle
    * and ~2 driver rounds, which dominates the iteration cost on small
    * inputs and is pure overhead at any scale. */
  def collectCentroidRowsFast(corpus: DataFrame, cellCol: String,
      vecCol: String): Seq[(Any, Seq[Double])] = {
    import org.apache.spark.sql.types.DecimalType
    val flat = corpus
      .select(col(cellCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(cellCol), col("pos"))
      .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double") / count(lit(1)))
        .as("m"))
      .collect()
    // cell ascending, matching orderBy(col(cellCol)) for the types a cell
    // key can be here (integral / string) — [[assignExpr]] depends on it
    val cellOrd: Ordering[Any] = {
      case (a: java.lang.Number, b: java.lang.Number) =>
        java.lang.Long.compare(a.longValue(), b.longValue())
      case (a, b) => a.toString.compareTo(b.toString)
    }
    flat.groupBy(_.get(0)).toSeq
      .sortBy(_._1)(cellOrd)
      .map { case (cell, rows) =>
        (cell, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }
  }

  /** Nearest-centroid cell as a pure map-side EXPRESSION over literal
    * centroids: no n_cells× row blowup through a join, no row_number
    * window (which would shuffle the corpus by id), zero shuffles per
    * Lloyd iteration. `cs` must be sorted by cell ascending so
    * array_position's first-maximum pick reproduces the window form's
    * `cos DESC, cell ASC` tie-break exactly; the literal-centroid dot and
    * norm are the same expression forms as the joined variant, so the
    * rounded cosine is bit-identical to it (and to the SQL oracle).
    * One 2-D literal + one transform lambda (small codegen body reused
    * per cell — n_cells separate fold expressions were measured to bloat
    * the generated code). (A broadcast one-row centroid column — to make
    * the generated class value-independent and skip the per-iteration
    * janino compile — was tried and measured SLOWER end-to-end: the extra
    * broadcast exchange and per-row broadcast-array access cost more than
    * the compile.)
    * array() of flat array literals — typedlit cannot build nested arrays. */
  def assignExpr(vecCol: Column, cs: Seq[(Any, Seq[Double])]): Column = {
    require(cs.nonEmpty, "assignExpr: empty centroid set")
    val centLits = array(cs.map(c => typedlit(c._2)): _*)
    val scores = transform(centLits, c =>
      TextAnalysis.round6(dotD(vecCol, c) / (norm(vecCol) * normD(c))))
    val bestIdx = array_position(scores, array_max(scores)).cast("int")
    element_at(array(cs.map(c => lit(c._1)): _*), bestIdx)
  }

  /** [[kmeansAssign]] over pre-collected centroid rows: replaces `cellCol`
    * with each row's nearest-centroid cell, all other columns unchanged.
    * Splitting collect from assign lets a multi-iteration Lloyd chain pay
    * ONE aggregation job per iteration (the collect) and keep every
    * assignment lazy — nothing corpus-sized is ever materialized, which
    * at 100 TB is the difference between k map passes and k corpus
    * writes. */
  def assignByCents(corpus: DataFrame, cs: Seq[(Any, Seq[Double])],
      vecCol: String, cellCol: String): DataFrame =
    corpus.withColumn("__bestcell", assignExpr(col(vecCol), cs))
      .select(corpus.columns.filterNot(_ == cellCol).map(col).toSeq
        :+ col("__bestcell").as(cellCol): _*)

  /** Pre-collected centroid rows re-injected as a LITERAL frame (a
    * LocalRelation — no job, no lineage): the probe-side twin of
    * [[centroidsLiteral]] for callers that already hold the rows. */
  def centroidsLiteralFrame(spark: org.apache.spark.sql.SparkSession,
      cs: Seq[(Any, Seq[Double])], cellCol: String,
      cellType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
    val schema = StructType(Seq(StructField(cellCol, cellType),
      StructField("centroid", ArrayType(DoubleType, containsNull = false))))
    spark.createDataFrame(
      java.util.Arrays.asList(cs.map(c =>
        org.apache.spark.sql.Row(c._1, c._2)): _*), schema)
  }

  /** Per-row centroid-separation margin — the cheap silhouette stand-in
    * for IVF index quality: `cos_own` (rounded cosine to the row's
    * assigned centroid) minus `cos_other` (best rounded cosine to any
    * OTHER centroid). Margin > 0 means the row agrees with its cell under
    * the CURRENT centroid set; ≈ 0 flags boundary rows that IVF probing
    * will miss first (exactly the rows that cost recall at low nprobe).
    * Same zero-shuffle shape as [[kmeansAssign]]: centroids are embedded
    * as literals and both cosines are one map-side transform over the
    * literal array — nothing joins, nothing shuffles, scale cost is one
    * scan. Requires ≥ 2 cells (cos_other of a single-cell set is
    * undefined). */
  def silhouetteMargin(corpus: DataFrame, cents: DataFrame,
      vecCol: String, cellCol: String): DataFrame = {
    val cs = collectCentroidRows(cents, cellCol)
    require(cs.length >= 2, "silhouetteMargin: need at least 2 cells")
    val centLits = array(cs.map(c => typedlit(c._2)): _*)
    val cellLits = array(cs.map(c => lit(c._1)): _*)
    val scores = transform(centLits, c =>
      TextAnalysis.round6(dotD(col(vecCol), c) / (norm(col(vecCol)) * normD(c))))
    val ownIdx = array_position(cellLits, col(cellCol)).cast("int")
    // array_max skips the null the mask leaves at the own-cell slot
    val masked = zip_with(scores, sequence(lit(1), lit(cs.length)),
      (s, i) => when(i === ownIdx, lit(null)).otherwise(s))
    corpus
      .withColumn("cos_own", element_at(scores, ownIdx))
      .withColumn("cos_other", array_max(masked))
  }

  /** The probe stage of [[ivfTopK]], exposed so consumers can price the
    * candidate scan (Σ probed-cell sizes) without re-deriving the cell
    * ranking: per query, the `nprobe` nearest cells by rounded
    * centroid cosine (ties to lowest cell) as (query_id, qv, cell). */
  def probeCells(
      queries: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, cellCol: String,
      nprobe: Int): DataFrame =
    probeCellsRanked(queries, cents, idCol, vecCol, cellCol, nprobe)
      .select(col("query_id"), col("qv"), col("cell"))

  /** [[probeCells]] keeping the per-query cell rank (`crank`): a sweep
    * over several probe depths ranks cells ONCE at the max depth and
    * derives each depth as `filter(crank <= p)` — the candidate sets
    * nest by construction, so the restriction is bit-identical to
    * re-ranking at depth p (same rounded centroid cosine, same
    * cell-ascending tie-break). */
  def probeCellsRanked(
      queries: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, cellCol: String,
      nprobe: Int): DataFrame = {
    val cAsDouble = cents.select(col(cellCol).as("cell"), col("centroid"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    topK(qv.join(broadcast(cAsDouble))
        .withColumn("ccos", TextAnalysis.round6(
          dotD(col("qv"), col("centroid"))
            / (norm(col("qv")) * normD(col("centroid"))))),
        "query_id", "ccos", "cell", nprobe, "crank")
      .select(col("query_id"), col("qv"), col("cell"), col("crank"))
  }

  /** The candidate-scoring stage of [[ivfTopK]] over an ALREADY-ranked
    * probe frame ([[probeCellsRanked]] output): one cell equi-join, one
    * exact-cosine pass, `crank` carried through. A multi-depth sweep
    * builds this ONCE at the max depth and takes each depth via
    * [[ivfTopKAt]] — same candidates, cosines and tie-breaks as running
    * [[ivfTopK]] per depth (a corpus row lives in exactly one cell, so
    * the depth-p candidate set is exactly the crank<=p restriction),
    * while the corpus join + scoring run once instead of |depths| times
    * (guide §2.4: remove duplicate data-sized chains). At 100 TB the
    * removed work is |depths|-1 full candidate scans. */
  def ivfScoreCandidates(
      corpus: DataFrame, rankedProbes: DataFrame,
      idCol: String, vecCol: String, cellCol: String): DataFrame = {
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(cellCol).as("cell"))
    scoreCos(cv.join(rankedProbes, Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("crank"))
  }

  /** Depth-p top-k readout of an [[ivfScoreCandidates]] frame: restrict
    * to cells ranked within p, re-rank by exact cosine. The window runs
    * after the filter over the same rows [[ivfTopK]] would score, so
    * ranks (and ties) are identical. */
  def ivfTopKAt(scored: DataFrame, k: Int, nprobe: Int): DataFrame =
    topK(scored.filter(col("crank") <= nprobe), "query_id", "cos", "neighbor_id", k)
      .select("query_id", "neighbor_id", "cos", "rank")

  /** IVF-style approximate top-k: corpus rows are indexed by their cell
    * (coarse label); each query probes only its `nprobe` nearest cells by
    * centroid cosine ([[probeCellsRanked]] → [[ivfScoreCandidates]] →
    * [[ivfTopKAt]]). The probe join is an equi-join on cell id — at
    * 100 TB the corpus shuffles once by cell (or is written bucketed by
    * cell and never shuffles again), and scan cost drops by
    * ~nprobe/n_cells versus brute force, trading recall like any IVF
    * index. Centroid table is tiny — broadcast.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, cellCol: String,
      k: Int, nprobe: Int = 2): DataFrame =
    ivfTopKAt(ivfScoreCandidates(corpus,
      probeCellsRanked(queries, cents, idCol, vecCol, cellCol, nprobe),
      idCol, vecCol, cellCol), k, nprobe)

  // ---- product quantization (IVF-PQ) --------------------------------------

  /** Squared-L2 between a float sub-vector (an array Column) and a
    * literal double sub-centroid, floored at 1e-6 — the PQ assignment
    * metric. Sequential left-fold sum, term i = (CAST(x[i] AS DOUBLE) −
    * c[i])², bit-identical to the DuckDB twin's list_reduce. */
  private def pqL2(sub: Column, c: Column): Column =
    TextAnalysis.round6(aggregate(
      zip_with(sub, c, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, v) => acc + v))

  /** Per-row PQ code array (m codes, one per subspace) as a pure
    * map-side expression over literal codebooks: codes[s] = the j of
    * the subspace-s codebook entry minimizing floored squared-L2 to
    * slice s of the vector, ties to the lowest j (array_position's
    * first-minimum pick over j-ascending literals — the window form's
    * `l2 ASC, j ASC` exactly). `cb` is ((s, j) → sub-centroid), any
    * (s, j) grid holes (empty training clusters) simply never win. */
  def pqCodesExpr(vec: Column, cb: Seq[(Int, Int, Seq[Double])],
      m: Int, subDim: Int): Column = {
    val bySub = cb.groupBy(_._1).map { case (s, rows) =>
      s -> rows.sortBy(_._2).map(r => (r._2, r._3))
    }
    require((0 until m).forall(bySub.contains),
      s"pqCodesExpr: codebook must cover all $m subspaces " +
        s"(got ${bySub.keySet.toSeq.sorted.mkString(",")}) — train on a " +
        "non-empty corpus with pqTrainCodebook")
    val codeCols = (0 until m).map { s =>
      val entries = bySub(s)
      val sub = slice(vec, s * subDim + 1, subDim)
      val scores = array(entries.map(e => pqL2(sub, typedlit(e._2))): _*)
      val jLits = array(entries.map(e => lit(e._1)): _*)
      element_at(jLits, array_position(scores, array_min(scores)).cast("int"))
    }
    array(codeCols: _*)
  }

  /** Train a PQ codebook over `corpus`'s vector column: m subspaces of
    * subDim dims; per subspace, 16 seed clusters (id % 16) → decimal-
    * exact means → one Lloyd reassignment by floored squared-L2 → final
    * means. Returned driver-side as (s, j, sub-centroid) literals —
    * m × 16 × subDim doubles, metadata scale at any corpus size. The
    * same DECIMAL(20,10) mean discipline as [[centroids]], so the SQL
    * oracle replays training bit-identically. */
  def pqTrainCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): Seq[(Int, Int, Seq[Double])] = {
    import org.apache.spark.sql.types.DecimalType
    def collectMeans(assigned: DataFrame): Seq[(Int, Int, Seq[Double])] = {
      // assigned: (j, pos, v) where pos is the 0-based FULL-vector dim
      assigned
        .groupBy((col("pos") / subDim).cast("int").as("s"), col("j"),
          pmod(col("pos"), lit(subDim)).as("spos"))
        .agg((sum(col("v").cast(DecimalType(20, 10))).cast("double")
          / count(lit(1))).as("mv"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1))).toSeq
        .sortBy(_._1)
        .map { case ((s, j), rows) =>
          (s, j, rows.sortBy(_.getAs[Int]("spos"))
            .map(_.getAs[Double]("mv")).toSeq)
        }
    }
    val exploded = corpus
      .select(col(idCol).cast("long").as("vid"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
    val cb1 = collectMeans(
      exploded.withColumn("j", pmod(col("vid"), lit(16)).cast("int")))
    val withCodes = corpus
      .select(col(idCol).cast("long").as("vid"),
        pqCodesExpr(col(vecCol), cb1, m, subDim).as("codes"),
        col(vecCol).as("v0"))
      .select(col("vid"), col("codes"),
        posexplode(col("v0")).as(Seq("pos", "v")))
      .withColumn("j", element_at(col("codes"),
        (col("pos") / subDim).cast("int") + 1))
    collectMeans(withCodes)
  }

  /** The codebook as a dense m × 16 literal grid with NULL at (s, j)
    * holes (empty training clusters) — shared by the ADC scorers. NULL,
    * never a zero fill: a code read against a stale/mismatched codebook
    * must surface, not score a zero sub-vector (which could drive
    * normD(x̂) → 0 and produce a NULL/NaN cosine that silently falls out
    * of the ranking). Driver-side, every subspace must exist. */
  private def pqCbGrid(fn: String, cb: Seq[(Int, Int, Seq[Double])],
      m: Int): IndexedSeq[IndexedSeq[Option[Seq[Double]]]] = {
    val bySub = cb.groupBy(_._1)
    require((0 until m).forall(bySub.contains),
      s"$fn: codebook must cover all $m subspaces " +
        s"(got ${bySub.keySet.toSeq.sorted.mkString(",")}) — stale codebook?")
    (0 until m).map { s =>
      val rows = bySub(s).map(r => r._2 -> r._3).toMap
      (0 until 16).map(j => rows.get(j))
    }
  }

  private def pqCbLit(grid: IndexedSeq[IndexedSeq[Option[Seq[Double]]]]): Column =
    array(grid.map(subs =>
      array(subs.map {
        case Some(c) => typedlit(c)
        case None    => lit(null).cast("array<double>")
      }: _*)): _*)

  /** ADC (asymmetric-distance) cosine of a float query against a
    * PQ-CODED candidate: the candidate contributes only its m byte
    * codes — its reconstruction x̂ (sub-centroid concatenation) comes
    * from the broadcast literal codebook, so the candidate scan reads
    * 8 code bytes per row, never the raw floats. Floored at 1e-6 like
    * every cosine in the family. `cb` must be j-dense per subspace on
    * the codes actually emitted (guaranteed when codes came from
    * [[pqCodesExpr]] over the same codebook). */
  def pqAdcCosine(qv: Column, codes: Column,
      cb: Seq[(Int, Int, Seq[Double])], m: Int, subDim: Int): Column = {
    val cbLit = pqCbLit(pqCbGrid("pqAdcCosine", cb, m))
    val subs = zip_with(codes, sequence(lit(0), lit(m - 1)),
      (c, s) => element_at(element_at(cbLit, s.cast("int") + 1), c + 1))
    // pqCodesExpr's guard, mirrored: a code with no (s, j) entry is a NULL
    // slot in the literal grid and raises instead of mis-ranking.
    val xhat = flatten(when(!exists(subs, x => x.isNull), subs)
      .otherwise(raise_error(concat(
        lit("pqAdcCosine: code hit a codebook hole (codes "),
        codes.cast("string"),
        lit(") — codes were coded against a different codebook")))))
    TextAnalysis.round6(dotD(qv, xhat) / (norm(qv) * normD(xhat)))
  }

  /** Per-query ADC lookup table (IVFADC, Jégou et al. 2011, public):
    * lut[s][j] = (query slice s) · (sub-centroid s,j), the m × 16 grid of
    * partial dots computed ONCE per query row — candidate scoring then
    * costs m table lookups + adds instead of reconstructing and dotting
    * the full x̂ per candidate ([[pqAdcCosineLut]]). Each partial is the
    * same sequential within-subspace double fold as [[pqAdcCosine]]'s
    * sub-vector terms; codebook holes are NULL entries (guarded at
    * lookup). One small lambda body over the 2-D literal — the
    * [[assignExpr]] codegen discipline — not m × 16 unrolled folds. */
  def pqQueryLut(qv: Column, cb: Seq[(Int, Int, Seq[Double])],
      m: Int, subDim: Int): Column = {
    val cbLit = pqCbLit(pqCbGrid("pqQueryLut", cb, m))
    // zip_with(slice, NULL, ·) is NULL, so holes propagate without a
    // per-entry conditional in the generated code
    transform(cbLit, (subs, s) =>
      transform(subs, c => dotD(slice(qv, s * subDim + 1, lit(subDim)), c)))
  }

  /** LUT-based ADC cosine: scores a PQ-coded candidate from a
    * precomputed [[pqQueryLut]] column and the query's precomputed norm.
    * dot(q, x̂) = Σ_s lut[s][code_s] and ‖x̂‖² = Σ_s ‖c_{s,code_s}‖², both
    * summed by a sequential fold in subspace order (s ascending); the
    * sub-centroid squared norms are driver-side literals folded in the
    * same within-subspace order. NOTE the grouping differs from
    * [[pqAdcCosine]]'s flat 64-term folds — per-subspace partials summed
    * across subspaces — so values can differ by ~1 ulp pre-rounding;
    * MultimodalDedupSpec pins post-round6 equality on real data and the
    * q_ivf_pq_* oracles replay THIS grouping term-for-term. A code with
    * no codebook entry hits a NULL norm slot and raises (the
    * [[pqAdcCosine]] stale-codebook guard). */
  def pqAdcCosineLut(lut: Column, qNorm: Column, codes: Column,
      cb: Seq[(Int, Int, Seq[Double])], m: Int, subDim: Int): Column = {
    val grid = pqCbGrid("pqAdcCosineLut", cb, m)
    val nsqLit = array(grid.map(subs => array(subs.map {
      case Some(c) => lit(c.foldLeft(0.0)((a, v) => a + v * v))
      case None    => lit(null).cast("double")
    }: _*)): _*)
    val nsqRow = zip_with(codes, sequence(lit(0), lit(m - 1)),
      (c, s) => element_at(element_at(nsqLit, s.cast("int") + 1), c + 1))
    val nsqChecked = when(!exists(nsqRow, x => x.isNull), nsqRow)
      .otherwise(raise_error(concat(
        lit("pqAdcCosineLut: code hit a codebook hole (codes "),
        codes.cast("string"),
        lit(") — codes were coded against a different codebook"))))
    val dotSum = aggregate(
      zip_with(codes, sequence(lit(0), lit(m - 1)),
        (c, s) => element_at(element_at(lut, s.cast("int") + 1), c + 1)),
      lit(0.0), (acc, v) => acc + v)
    val nsqSum = aggregate(nsqChecked, lit(0.0), (acc, v) => acc + v)
    TextAnalysis.round6(dotSum / (qNorm * sqrt(nsqSum)))
  }

  /** The vector's residual against its cell centroid, as array<double>:
    * r_i = CAST(x_i AS DOUBLE) − c_i — one exact IEEE subtraction per
    * dimension, so both engines compute bit-identical residuals from the
    * same centroid doubles. Residuals are what IVFADC (Jégou et al.
    * 2011) quantizes: the coarse quantizer absorbs the cell-mean
    * component, leaving the PQ codebooks the intra-cell spread — the
    * same 8-byte budget quantizes a tighter distribution. */
  def pqResidual(vec: Column, centroid: Column): Column =
    zip_with(vec, centroid, (x, c) => x.cast("double") - c)

  /** Residual-PQ ADC cosine: the candidate contributes its m residual
    * codes and its CELL (whose centroid rides on the probe side of the
    * join — probed cell = candidate cell); the reconstruction is
    * x̂ = centroid + r̂ where r̂ concatenates the residual codebook's
    * sub-centroids. Same sequential 64-term dot/norm folds and 1e-6
    * floor as [[pqAdcCosine]]; same NULL-hole stale-codebook guard.
    *
    * Deliberately the reconstruction form, not a LUT: a residual LUT
    * needs dot(q, x̂) = dot(q, c) + Σ_s lut_r AND a norm cross-term
    * table ‖x̂‖² = ‖c‖² + 2·Σ_s (c_s·r̂_s) + Σ_s ‖r̂_s‖² keyed by
    * (cell, s, j) — an n_cells × m × 16 literal that grows with the
    * coarse index. At this query's measured 0.46 s warm the
    * reconstruction is not the bottleneck; revisit if residual ADC
    * ever dominates a profile. */
  def pqAdcCosineResidual(qv: Column, centroid: Column, codes: Column,
      cb: Seq[(Int, Int, Seq[Double])], m: Int, subDim: Int): Column = {
    val cbLit = pqCbLit(pqCbGrid("pqAdcCosineResidual", cb, m))
    val subs = zip_with(codes, sequence(lit(0), lit(m - 1)),
      (c, s) => element_at(element_at(cbLit, s.cast("int") + 1), c + 1))
    val rhat = flatten(when(!exists(subs, x => x.isNull), subs)
      .otherwise(raise_error(concat(
        lit("pqAdcCosineResidual: code hit a codebook hole (codes "),
        codes.cast("string"),
        lit(") — codes were coded against a different codebook")))))
    val xhat = zip_with(centroid, rhat, (c, r) => c + r)
    TextAnalysis.round6(dotD(qv, xhat) / (norm(qv) * normD(xhat)))
  }

  /** float-array × double-array dot (query vs centroid), sequential. */
  private def dotD(f: Column, d: Column): Column =
    aggregate(zip_with(f, d, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, v) => acc + v)

  private def normD(d: Column): Column =
    sqrt(aggregate(zip_with(d, d, (x, y) => x * y), lit(0.0), (acc, v) => acc + v))

  /** In-cell hard-negative mining for contrastive training: for each
    * query vector, the `k` most-cosine-similar corpus vectors carrying a
    * DIFFERENT label — close in embedding space yet known non-matches,
    * the negatives that actually move a contrastive loss (ANCE / DPR
    * style). Candidates come from the query's own coarse cell, so the
    * search is an equi-join on cell id: at 100 TB the corpus is written
    * bucketed by cell and never reshuffles, and cost is one cell's worth
    * of scoring per query, not a corpus scan. Inputs carry (id, vector,
    * cell, label); the label filter runs inside the join stage before
    * any cosine is computed.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, cellCol: String, labelCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(cellCol).as("cell"), col(labelCol).as("label_q"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(cellCol).as("cell"), col(labelCol).as("label_n"))
    topK(scoreCos(c.join(q, Seq("cell")).filter(col("label_q") =!= col("label_n"))),
        "query_id", "cos", "neighbor_id", k)
      .select("query_id", "label_q", "neighbor_id", "label_n", "cos", "rank")
  }

  /** k-NN label-noise screen (the confident-learning-lite data-quality
    * pass): each point's label is compared to the MAJORITY label among
    * its k nearest in-cell cosine neighbors (ties on votes to the
    * smaller label, on cosine to the smaller neighbor id — fully
    * deterministic); disagreement flags the point as suspect. Candidates
    * are confined to the point's IVF cell (the SemDeDup cost argument:
    * Σ|cell|² pairs, never corpus²). Returns one row per screened point:
    * (vec_id, own label, majority label, suspect flag).
    */
  def labelNoiseScreen(corpus: DataFrame, idCol: String, vecCol: String,
      cellCol: String, labelCol: String, k: Int): DataFrame = {
    val q = corpus.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      col(cellCol).as("cell"), col(labelCol).as("label_q"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("cv"),
      col(cellCol).as("cell"), col(labelCol).as("label_n"))
    val topk = topK(scoreCos(c.join(q, Seq("cell")).filter(col("qid") =!= col("nid"))),
      "qid", "cos", "nid", k)
    topK(topk.groupBy(col("qid"), col("label_q"), col("label_n"))
        .agg(count(lit(1)).as("votes")), "qid", "votes", "label_n", 1, "r")
      .select(col("qid"), col("label_q"),
        col("label_n").as("majority_label"),
        (col("label_q") =!= col("label_n")).as("suspect"))
  }

  /** Embedding-cosine near-duplicate pairs on a pre-sampled input:
    * all (id_a < id_b) pairs with cosine >= minCosine. The quadratic form is
    * the oracle twin; at scale route through [[signKeys]] bucketing.
    */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, minCosine: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    v.as("x").join(v.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosine(col("x.v"), col("y.v")).as("cos"))
      .filter(col("cos") >= minCosine)
  }
}
