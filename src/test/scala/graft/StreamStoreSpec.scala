package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.queries.{CrossRunDedupQueries, KnnGraphQueries, Scratch}
import graft.sink.Store
import graft.streaming.StreamingOps

/** The persisted-store layer (sink.Store): the newest-generation readers
  * on stores without generations, GC, what a land writes and what it
  * refuses; and the scratch directories
  * and real-stream fixture of the stream-backed queries (queries.Scratch).
  */
class StreamStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private lazy val fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  // under one scratch directory, deleted when the JVM exits
  private lazy val base = Scratch.scratchPath(spark, "storespec", dir)

  private def tmp(tag: String): String = s"$base/$tag"

  test("newest-before is None on a missing store and on one without generations") {
    assert(Store.roots.latestBefore(spark, tmp("missing"), 5L).isEmpty)
    val marker = tmp("marker")
    fs.create(new Path(marker, "_SUCCESS")).close()
    assert(Store.roots.latestBefore(spark, marker, 5L).isEmpty,
      "a _SUCCESS marker is not a generation")
    val staging = tmp("staging")
    fs.mkdirs(new Path(staging, ".staging_base_3"))
    assert(Store.roots.latestBefore(spark, staging, 5L).isEmpty,
      "a staging directory is not a generation")
  }

  test("newest-or-throw on an empty store names its reader") {
    val empty = tmp("empty")
    fs.mkdirs(new Path(empty))
    Seq(empty, tmp("absent")).foreach { root =>
      val readers = Seq[(String, () => Any)](
        "minhashStateRoots" -> (() => StreamingOps.minhashStateRoots(spark, root)),
        "knnStateGraph" -> (() => StreamingOps.knnStateGraph(spark, root)),
        "invertedStateBm25" ->
          (() => StreamingOps.invertedStateBm25(spark, root, Seq("dup"), 10)))
      readers.foreach { case (reader, read) =>
        val err = intercept[IllegalStateException](read())
        assert(err.getMessage.startsWith(s"$reader: "), err.getMessage)
      }
    }
  }

  test("GC keeps exactly the current generation and its predecessor") {
    val root = tmp("gc")
    Seq(0L, 1L, 3L, 4L).foreach { b =>
      Store.roots.land(Seq((b, b, "dropped")).toDF("id", "root", "extra"), root, b)
    }
    Store.roots.gc(spark, root, 4L)
    val gens = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(gens == Seq("batch_id=3", "batch_id=4"), gens)
    assert(Store.roots.newest(spark, root, "spec") == 4L)
    val prior = Store.roots.latestBefore(spark, root, 4L).get
    assert(prior.as[(Long, Long)].collect().toSeq == Seq((3L, 3L)))
    assert(Store.roots.before(spark, root, 4L).as[(Long, Long)].collect().toSeq ==
      Seq((3L, 3L)))
    // a land writes exactly the declared columns
    assert(spark.read.parquet(Store.roots.partition(root, 4L)).columns.toSeq ==
      Seq("id", "root"))
  }

  test("a write refuses a column whose type differs from its declaration, naming the store") {
    val root = tmp("typed")
    val err = intercept[IllegalArgumentException](
      Store.ivfState.write(Seq((1L, 1L, 5L, 1L)).toDF("cell", "pos", "s", "n"),
        root, Store.byCell("pos")))
    assert(err.getMessage.contains("ivf state store: cell must be INT, got BIGINT"),
      err.getMessage)
    assert(!fs.exists(new Path(root)), "nothing is written")
  }

  test("stream fixture: batch_id=i of the roots and knn sinks' stores holds ids with id % 3 == i") {
    val stores = Seq(
      new Path(CrossRunDedupQueries.streamedRootsPath(spark, dir)).getParent -> "sigs",
      new Path(KnnGraphQueries.streamedGraphPath(spark, dir)).getParent -> "vecs")
    stores.foreach { case (fixture, store) =>
      val landed = spark.read.parquet(new Path(fixture, store).toString)
        .select(col("id"), col("batch_id").cast("long"))
        .as[(Long, Long)].collect().toSeq
      assert(landed.map(_._2).toSet == Set(0L, 1L, 2L), s"$store: ${landed.map(_._2).toSet}")
      val wrong = landed.filter { case (id, b) => id % 3 != b }
      assert(wrong.isEmpty, s"$store: ids landed in the wrong micro-batch: ${wrong.take(5)}")
    }
  }

  test("scratch directories are registered for deletion at exit, children inside") {
    val probe = new Path(Scratch.scratchPath(spark, "probe", dir))
    assert(fs.exists(probe) && fs.listStatus(probe).isEmpty)
    val rootsBase = new Path(CrossRunDedupQueries.streamedRootsPath(spark, dir)).getParent
    assert(fs.listStatus(rootsBase).map(_.getPath.getName).toSet ==
      Set("src", "ckpt", "sigs", "pairs", "roots"))
    Seq(probe, rootsBase).foreach { p =>
      // cancelDeleteOnExit answers whether `p` was registered
      assert(fs.cancelDeleteOnExit(p), s"$p is not registered with deleteOnExit")
      fs.deleteOnExit(p)
    }
  }

  test("the store-backed queries construct with no job once their memos are warm") {
    val names = Seq("q_ivf_state_persist", "q_ivf_pq_persist", "q_ivf_pq_probe",
      "q_ivf_pq_tombstone", "q_dedup_state_pairs", "q_dedup_cross_run",
      "q_dedup_roots_incr")
    def construct(name: String): Unit =
      SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
    names.foreach(construct) // first touch: builds the memos and stores
    val launched = names.map(n => n -> jobsDuring(n)(construct(n)).count(_._1 == n))
    assert(launched.forall(_._2 == 0),
      s"warm constructions launched jobs: ${launched.filter(_._2 > 0)}")
  }
}
