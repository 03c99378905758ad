package graft.queries

import graft.QueryDef
import graft.ops.{SessionCache, Similarity, Tables}
import graft.sink.Store
import org.apache.spark.sql.functions._

/** Incremental IVF index maintenance — the ANN counterpart of
  * q_dedup_minhash_incr: merge a BATCH of new embeddings into an existing
  * cell structure without retraining, the daily-ingest shape of a vector
  * index at 100 TB (re-running Lloyd over the accumulated corpus per
  * ingest would redo linearly growing work for an index that barely
  * moves).
  *
  * The index state is kept as MERGEABLE SUFFICIENT STATISTICS — per-cell
  * vector counts and per-dimension integer NANO-UNIT coordinate sums — so
  * an upsert is: (1) assign each batch vector to its nearest existing
  * centroid (rounded-cosine argmax, lowest-cell tie-break — the
  * hash-gate-proven q_ivf_kmeans_assign arithmetic), (2) add the batch's
  * (cell, dim) sums and counts onto the stored ones, (3) emit the updated
  * STATE as exact-integer (cell, pos, s_tot, n_old, n_new) scalar rows —
  * the merged centroid is s_tot/1e9/(n_old+n_new) on the consumer side.
  * Cells the batch never touches re-emit their stats unchanged (the merge
  * is a left join onto the stored grid, not a rebuild).
  *
  * Scale shape: the corpus contributes one partial-aggregatable
  * posexplode shuffle to (cell, dim) — in production those sums are the
  * PERSISTED index state, paid at build time, not per ingest; the batch
  * pays batch-sized assignment (map-side argmax over broadcast-scale
  * centroids) plus a batch-sized stats aggregation; the merge runs on the
  * (cells × dims) grid — hundreds of rows at any corpus size. Nothing
  * corpus-sized moves on the ingest path.
  *
  * Numeric discipline: float coordinates are quantized ONCE at 1e-9
  * (⌊v·10⁹ + 0.5⌋ of the exactly-widened double — below float32
  * resolution at unit scale, and the declared statistic, as in the
  * binned-KS precedent) so every sum is exact 64-bit integer arithmetic
  * on both engines. A direct float→DECIMAL cast was tried first and the
  * two engines rounded the 10th decimal digit differently — a divergence
  * the existing centroid queries never see because only 6dp-rounded
  * cosines consume their centroids, while this query emits the index
  * STATE itself. Emitting the integer sufficient statistics (not the
  * centroid array) keeps the gated surface free of doubles, DECIMALs,
  * and arrays entirely. Long sums are exact to ~9·10⁹
  * unit-scale vectors per cell; beyond that, widen the stored sums to
  * DECIMAL(38,0).
  */
object IvfMaintenanceQueries {

  /** Sequential double fold — the exact ExtensionQueries.dSumD form (a
    * left-fold with explicit 0.0 init, bit-identical to Spark's
    * zip_with/aggregate composition; list_sum's order is unspecified). */
  private def dSumD(list: String) =
    s"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], $list), (a, b) -> a + b)"
  private def dDot(a: String, b: String) =
    dSumD(s"list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")

  /** 10% of vectors (vec_id ≡ 7 mod 10) arrive as the "new batch"; the
    * rest are the already-indexed corpus. */
  private val ivfUpsert = QueryDef(
    fn = (spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val isNew = pmod(col("vec_id"), lit(10)) === 7
      val corpus = emb.filter(!isNew)
      val batch = emb.filter(isNew).select(col("vec_id"), col("embedding"),
        col("label"))
      def nano(c: org.apache.spark.sql.Column) =
        floor(c.cast("double") * 1e9 + 0.5).cast("long")
      // stored index state: per-(cell, dim) nano-unit sums + counts
      val oldStats = corpus
        .select(col("label").as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(nano(col("v"))).as("s_old"), count(lit(1)).as("n_old"))
        .localCheckpoint(false) // feeds the centroid build AND the merge
      val cents = oldStats.groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"),
          (col("s_old").cast("double") / 1e9 / col("n_old")).as("m"))))
          .as("pm"))
        .select(col("cell").as("label"),
          transform(col("pm"), e => e.getField("m")).as("centroid"))
      // batch assignment: nearest existing centroid (rounded cosine,
      // lowest-cell tie-break — Similarity.kmeansAssign's proven argmax)
      val assigned = Similarity.kmeansAssign(batch, cents,
        "vec_id", "embedding", "label")
      val newStats = assigned
        .select(col("label").as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(nano(col("v"))).as("s_new"), count(lit(1)).as("n_new"))
      // Emission surface: one scalar row per (cell, pos) with the EXACT
      // integer sufficient statistics (s_tot, n_old, n_new) — no
      // division, no double, and critically no top-level ARRAY column
      // (round-12 driver-red root cause: the gate's row sorter crashes
      // on array columns). The updated centroid is s_tot/1e9/(n_old+
      // n_new) — a consumer-side derivation, exactly as the persisted
      // index state would be stored (see sink round-trip spec).
      // pos is 0-based from posexplode internally; emitted 1-based to
      // match the oracle's generate_subscripts convention.
      oldStats.join(newStats, Seq("cell", "pos"), "left")
        .select(col("cell"), (col("pos") + 1).cast("long").as("pos"),
          (col("s_old") + coalesce(col("s_new"), lit(0L))).as("s_tot"),
          col("n_old"), coalesce(col("n_new"), lit(0L)).as("n_new"))
        .orderBy("cell", "pos")
    },
    oracle = Some {
      val dotEC = dSumD(
        "list_transform(range(1, len(e) + 1), i -> CAST(e[i] AS DOUBLE) * centroid[i])")
      val normE = s"sqrt(${dDot("e", "e")})"
      val normC = s"sqrt(${dSumD("list_transform(range(1, len(centroid) + 1), i -> centroid[i] * centroid[i])")})"
      s"""WITH corp AS (SELECT vec_id, embedding AS e, label AS cell
         |  FROM embeddings WHERE vec_id % 10 <> 7),
         |bat AS (SELECT vec_id, embedding AS e
         |  FROM embeddings WHERE vec_id % 10 = 7),
         |op AS (SELECT cell, generate_subscripts(e, 1) AS pos, unnest(e) AS v
         |  FROM corp),
         |os AS (SELECT cell, pos,
         |    CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000000.0 + 0.5)
         |      AS BIGINT)) AS BIGINT) AS s_old,
         |    COUNT(*) AS n_old
         |  FROM op GROUP BY 1, 2),
         |cent AS (SELECT cell,
         |    list(CAST(s_old AS DOUBLE) / 1000000000.0 / n_old ORDER BY pos)
         |      AS centroid
         |  FROM os GROUP BY cell),
         |rk AS (SELECT vec_id, e, cell, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY
         |      floor(($dotEC / ($normE * $normC)) * 1000000.0 + 0.5)
         |        / 1000000.0 DESC,
         |      cell ASC) AS r
         |  FROM bat CROSS JOIN cent),
         |asg AS (SELECT vec_id, e, cell FROM rk WHERE r = 1),
         |np AS (SELECT cell, generate_subscripts(e, 1) AS pos, unnest(e) AS v
         |  FROM asg),
         |ns AS (SELECT cell, pos,
         |    CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000000.0 + 0.5)
         |      AS BIGINT)) AS BIGINT) AS s_new,
         |    COUNT(*) AS n_new
         |  FROM np GROUP BY 1, 2),
         |m AS (SELECT os.cell, os.pos,
         |    os.s_old + COALESCE(ns.s_new, 0) AS s_tot,
         |    os.n_old, COALESCE(ns.n_new, 0) AS n_new
         |  FROM os LEFT JOIN ns ON os.cell = ns.cell AND os.pos = ns.pos)
         |SELECT cell, CAST(pos AS BIGINT) AS pos,
         |  CAST(s_tot AS BIGINT) AS s_tot,
         |  CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new
         |FROM m ORDER BY cell, pos""".stripMargin
    })

  /** Path of the persisted full-corpus IVF state, written ONCE per
    * (session, dir) — repeated consumers (Verify dump, bench passes)
    * reload from parquet instead of rewriting. */
  private def persistedStatePath(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    SessionCache.memo(spark, dir, "ivf-state-path") {
      val path = Scratch.scratchPath(spark, "ivf-state", dir) + "/state"
      def nano(c: org.apache.spark.sql.Column) =
        floor(c.cast("double") * 1e9 + 0.5).cast("long")
      val state = Tables.embeddings(spark, dir)
        .select(col("label").as("cell"),
          posexplode(col("embedding")).as(Seq("pos0", "v")))
        .groupBy(col("cell"), col("pos0"))
        .agg(sum(nano(col("v"))).as("s"), count(lit(1)).as("n"))
        .select(col("cell"), (col("pos0") + 1).cast("long").as("pos"),
          col("s"), col("n"))
      Store.ivfState.write(state, path, Store.byCell("pos"))
      path
    }

  /** Persisted-index round trip, hash-gated: build the full-corpus IVF
    * sufficient-statistics state, WRITE it to a cell-partitioned parquet
    * store ([[Store.ivfState]]), READ it back, and emit the
    * reloaded rows. The oracle computes the same state straight from the
    * embeddings table — so the driver's gate proves the persisted form
    * is value-identical to a rebuild after a disk round trip (longs are
    * bit-exact in parquet; the gate turns that claim into a check).
    * IndexStoreSpec additionally proves fresh-session reload ≡ rebuild
    * and that a cell-filtered read partition-prunes.
    *
    * Scale shape: the state is (cells × dims)-grid-sized; the one
    * corpus-sized stage is the partial-aggregatable posexplode groupBy
    * (paid at index build time, exactly once — that is the point). */
  private val ivfStatePersist = QueryDef(
    fn = (spark, dir) => {
      val path = persistedStatePath(spark, dir)
      Store.ivfState.read(spark, path).orderBy("cell", "pos")
    },
    oracle = Some(
      """WITH op AS (SELECT label AS cell,
        |    generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
        |  FROM embeddings)
        |SELECT CAST(cell AS INTEGER) AS cell, CAST(pos AS BIGINT) AS pos,
        |  CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000000.0 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS s,
        |  COUNT(*) AS n
        |FROM op GROUP BY 1, 2 ORDER BY cell, pos""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_ivf_upsert" -> ivfUpsert,
    "q_ivf_state_persist" -> ivfStatePersist)
}
