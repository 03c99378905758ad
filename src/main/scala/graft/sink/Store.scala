package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** A store the engine persists and reads back: a name plus the columns
  * it holds, declared once. [[write]] writes exactly those columns and
  * fails, naming the store, when a column's type differs from its
  * declaration; every read names its columns with their declared types
  * instead of inferring them — a parquet schema inference is one job per
  * read, and an inferred partition column comes back as whatever type
  * its directory names parse to.
  *
  * A store is either one path (the persisted index states the queries
  * build once per session) or a generation store: micro-batch N of a
  * streaming sink lands at its own `root/batch_id=N` partition
  * ([[land]]), so a replayed batch (foreachBatch is at-least-once)
  * overwrites its prior write instead of duplicating it. An append-only
  * store is read whole or as the generations before N; a snapshot store
  * holds a full state per generation, its fold reads the newest before
  * its own batch, its reader the newest, and [[gc]] keeps the current
  * generation and the predecessor a replay re-reads. The ivf delta log
  * keeps a third policy on the same listing (a compacted base at
  * `batch_id=-N`, see [[graft.streaming.StreamingOps.ivfStateSink]]).
  *
  * How the files are laid out is the writer's [[Store.Layout]], not the
  * store's: the same declaration lands plain from a sink and clustered
  * from an index build. */
private[graft] final case class Store(name: String, schema: StructType) {
  private def typed(cols: Seq[String]): StructType =
    if (cols.isEmpty) schema else StructType(cols.map(schema(_)))

  private def fs(sess: SparkSession, root: String) =
    new Path(root).getFileSystem(sess.sparkContext.hadoopConfiguration)

  /** Generation ids under `root`; none when the store is missing.
    * `_SUCCESS` markers and staging directories are not generations. */
  def generations(sess: SparkSession, root: String): Seq[Long] =
    if (!fs(sess, root).exists(new Path(root))) Nil
    else fs(sess, root).listStatus(new Path(root)).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch_id=")) n.stripPrefix("batch_id=").toLongOption
      else None
    }

  def partition(root: String, batchId: Long): String = s"$root/batch_id=$batchId"

  /** Write the declared columns of `df` to `path` in `layout`. */
  def write(df: DataFrame, path: String,
      layout: Store.Layout = Store.plain): Unit = {
    schema.foreach { f =>
      val got = df.schema(f.name).dataType
      require(got.sql == f.dataType.sql,
        s"$name store: ${f.name} must be ${f.dataType.sql}, got ${got.sql}")
    }
    layout(df.select(schema.fieldNames.toSeq.map(col): _*), path)
  }

  /** [[write]] as generation `batchId` of the store under `root`. */
  def land(df: DataFrame, root: String, batchId: Long,
      layout: Store.Layout = Store.plain): Unit =
    write(df, partition(root, batchId), layout)

  /** `cols` (all when none are named) under `path` — a one-path store,
    * a generation store's root, or one generation. */
  def read(sess: SparkSession, path: String, cols: String*): DataFrame = {
    val s = typed(cols)
    sess.read.schema(s).parquet(path).select(s.fieldNames.toSeq.map(col): _*)
  }

  def at(sess: SparkSession, root: String, batchId: Long,
      cols: String*): DataFrame =
    read(sess, partition(root, batchId), cols: _*)

  /** Every generation under `root`, each row with its BIGINT `batch_id`. */
  def tagged(sess: SparkSession, root: String, cols: String*): DataFrame = {
    val s = typed(cols).add("batch_id", LongType)
    sess.read.schema(s).parquet(root).select(s.fieldNames.toSeq.map(col): _*)
  }

  /** Every generation strictly before `batchId`, as one frame. */
  def before(sess: SparkSession, root: String, batchId: Long,
      cols: String*): DataFrame =
    tagged(sess, root, cols: _*).filter(col("batch_id") < batchId)
      .select(typed(cols).fieldNames.toSeq.map(col): _*)

  /** The newest generation strictly before `batchId`: a fold's prior. */
  def latestBefore(sess: SparkSession, root: String, batchId: Long,
      cols: String*): Option[DataFrame] =
    generations(sess, root).filter(_ < batchId).maxOption
      .map(at(sess, root, _, cols: _*))

  /** The newest generation's id; throws, naming `reader`, if none. */
  def newest(sess: SparkSession, root: String, reader: String): Long =
    generations(sess, root).maxOption.getOrElse(
      throw new IllegalStateException(
        s"$reader: no $name generation under $root"))

  /** Delete generations `ids` under `root`. */
  def drop(sess: SparkSession, root: String, ids: Seq[Long]): Unit =
    ids.foreach(i => fs(sess, root).delete(new Path(partition(root, i)), true))

  /** Keep generation `curBatch` and its immediate predecessor; delete
    * the rest. Best-effort hygiene — the readers stay correct without
    * it. */
  def gc(sess: SparkSession, root: String, curBatch: Long): Unit = {
    val ids = generations(sess, root)
    val keep = (ids.filter(_ < curBatch).maxOption.toSeq :+ curBatch).toSet
    drop(sess, root, ids.filterNot(keep))
  }
}

/** Every store the engine persists. Ids are BIGINT throughout. The locf
  * and refresh change logs are declared by their sinks from the stream's
  * own schema. */
private[graft] object Store {
  private def of(name: String, ddl: String) = Store(name, StructType.fromDDL(ddl))

  /** How a store's files are written: `(frame, path) => Unit`. */
  type Layout = (DataFrame, String) => Unit

  /** One overwrite of `path`, a file per partition of the frame. */
  val plain: Layout = (df, path) => df.write.mode("overwrite").parquet(path)

  /** Rows hash-partitioned on the first key and sorted by all keys in
    * each file: joins on the first key read co-located runs, and the
    * per-file min/max statistics prune key-range probes. */
  def clustered(keys: String*): Layout = (df, path) =>
    plain(df.repartition(col(keys.head)).sortWithinPartitions(keys.map(col): _*),
      path)

  /** One directory per `cell`, rows sorted by `key` within it, written
    * with dynamic partition overwrite: a read filtered on the declared
    * `cell` prunes to the probed cells' directories (a multi-probe search
    * reads p of k cells), and a rewrite replaces only the cells the frame
    * holds, so untouched cells keep their files. */
  def byCell(key: String): Layout = (df, path) =>
    df.repartition(col("cell")).sortWithinPartitions(col("cell"), col(key))
      .write.partitionBy("cell")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(path)

  // minhash and roots sinks, and the cross-run dedup index:
  // minhashPrepared digests, verified pairs, component roots
  val sig: Store = of("sig", "id BIGINT, sig ARRAY<BIGINT>, toks ARRAY<BIGINT>")
  val pairs: Store = of("pairs", "id_a BIGINT, id_b BIGINT, jaccard DOUBLE")
  val roots: Store = of("roots", "id BIGINT, root BIGINT")
  // knn sink: the vectors the graph serves, per-node top-k snapshots
  val vecs: Store = of("vecs", "id BIGINT, vec ARRAY<FLOAT>")
  val graph: Store =
    of("graph", "node_id BIGINT, neighbor_id BIGINT, cos DOUBLE, rank INT")
  // phash sink: 64-bit dHash signatures, Hamming pairs
  val phashSig: Store = of("phash sig", "id BIGINT, sig BIGINT")
  val phashPairs: Store = of("phash pairs", "id_a BIGINT, id_b BIGINT, hamming INT")
  // inverted sink: postings, doc lengths, df and global snapshots
  val tf: Store = of("tf", "doc_id BIGINT, token STRING, tf BIGINT")
  val dl: Store = of("dl", "doc_id BIGINT, dl BIGINT")
  val df: Store = of("df", "token STRING, df BIGINT")
  val global: Store = of("global", "n_docs BIGINT, sum_dl BIGINT")
  // ivf sink and the persisted ivf index: per-(cell, dimension) exact
  // nano-unit coordinate sums and vector counts
  private val ivfStats = "cell INT, pos BIGINT, s BIGINT, n BIGINT"
  val ivfDelta: Store = of("ivf delta", ivfStats)
  val ivfState: Store = of("ivf state", ivfStats)
  // pq sink and the persisted pq index: per-vector codes, the codebook
  val pqCodes: Store = of("pq codes", "vec_id BIGINT, cell INT, codes ARRAY<INT>")
  val pqCodebook: Store = of("pq codebook", "s INT, j INT, centroid ARRAY<DOUBLE>")
}
