package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for the two incrementally-maintained index states — the
  * production contract an incremental index actually needs: state built
  * in one session (or one daily ingest job) must reload in a FRESH
  * session and drive queries byte-identically to a from-scratch rebuild.
  * In-session the states live in [[graft.ops.SessionCache.memo]] entries
  * (rebuilt when the input table changes); this
  * sink is their durable form (IndexStoreSpec proves reload ≡ rebuild
  * for both, and `q_ivf_state_persist` hash-gates a full write→read
  * round trip against the DuckDB oracle).
  *
  * - **IVF sufficient statistics** `(cell, pos, s, n)` — per-(cell, dim)
  *   exact nano-unit coordinate sums + vector counts (the mergeable
  *   state of `q_ivf_upsert`). Laid out PARTITIONED BY cell: a
  *   multi-probe search touches p of k cells, and partition pruning
  *   makes the state read p/k-sized; an upsert's merge overwrites only
  *   the touched cells (dynamic partition overwrite, the
  *   [[PartitionedParquet]] convergence argument). The state is
  *   (cells × dims)-grid-sized — metadata scale at any corpus size —
  *   but the LAYOUT is what keeps a 100 TB deployment's per-probe and
  *   per-ingest I/O bounded when k grows ∝ √n.
  * - **MinHash near-dup pair memo** `(id_a, id_b, jaccard)` — the
  *   verified pair graph nine dedup-family consumers share. Rebuilt it
  *   costs the full LSH banding pass (first-touch ~12 s at sf0.1, hours
  *   at 100 TB); persisted it is one narrow scan. Written repartitioned
  *   + sorted by `id_a` so survivor/component joins read co-located
  *   runs (min/max zone maps prune id-range probes).
  *
  * All persisted columns are exact integers/doubles (longs for sums and
  * counts, the 6dp-floored jaccard double) — parquet round-trips them
  * bit-exactly, which IndexStoreSpec asserts rather than assumes.
  */
object IndexStore {

  /** Persist IVF sufficient statistics partitioned by cell. Expects
    * columns (cell, pos, s, n); any extra columns ride along. */
  def writeIvfState(state: DataFrame, path: String): Unit =
    state
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("pos"))
      .write
      .partitionBy("cell")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  /** Reload the full IVF state. The partition column `cell` comes back
    * via directory inference; callers filtering on it get partition
    * pruning for free (spec-asserted). */
  def readIvfState(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Reload only the probed cells — the multi-probe read path. The
    * `isin` lands in the scan's PartitionFilters, so I/O is
    * nprobe/n_cells of the state. */
  def readIvfCells(spark: SparkSession, path: String,
      cells: Seq[Int]): DataFrame =
    readIvfState(spark, path).filter(col("cell").isin(cells: _*))

  /** Persist the verified near-dup pair memo, clustered by `id_a`. */
  def writeMinhashPairs(pairs: DataFrame, path: String): Unit =
    pairs
      .repartition(col("id_a"))
      .sortWithinPartitions(col("id_a"), col("id_b"))
      .write
      .mode("overwrite")
      .parquet(path)

  def readMinhashPairs(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Persist the run's component ROOTS `(id, root)` next to its pair
    * memo — the cluster assignment a dedup run computes for its own
    * survivor decision, materialized so the NEXT run loads roots as a
    * narrow scan instead of re-running connected components over the
    * accumulated pair graph (round-15 verdict task 2: the full CC
    * rebuild was the dominant cross-run first-touch build; at 100 TB
    * the pair graph is edge-scale while roots are node-scale). Rows
    * with id = root (singleton members of the pair graph) ARE written:
    * the store is the complete node set of the pair graph, so a
    * reloaded run distinguishes "novel id" from "known singleton"
    * without touching the pairs. */
  def writeMinhashRoots(roots: DataFrame, path: String): Unit =
    roots
      .repartition(col("id"))
      .sortWithinPartitions(col("id"))
      .write
      .mode("overwrite")
      .parquet(path)

  def readMinhashRoots(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Persist the PQ code table `(vec_id, cell, codes array<int>)`
    * PARTITIONED BY cell — the compressed ANN store's layout contract:
    * a multi-probe ADC scan reads p of k cell partitions (pruned), and
    * each row is the 8-byte code vector, never the raw floats. */
  def writePqCodes(codes: DataFrame, path: String): Unit =
    codes
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write
      .partitionBy("cell")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  def readPqCodes(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Reload only the probed cells — `isin` lands in PartitionFilters,
    * so ADC candidate I/O is nprobe/n_cells of the store
    * (spec-asserted, the readIvfCells contract). */
  def readPqCells(spark: SparkSession, path: String,
      cells: Seq[Int]): DataFrame =
    readPqCodes(spark, path).filter(col("cell").isin(cells: _*))

  /** Persist the PQ codebook `(s, j, centroid array<double>)` — m × 16
    * rows, metadata scale; parquet round-trips the double coordinates
    * bit-exactly (spec-asserted, the IVF-state convention). */
  def writePqCodebook(cb: DataFrame, path: String): Unit =
    cb.coalesce(1)
      .sortWithinPartitions(col("s"), col("j"))
      .write
      .mode("overwrite")
      .parquet(path)

  def readPqCodebook(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
