package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming kNN-graph maintenance (StreamingOps.knnStateSink): N
  * micro-batches must leave the graph store's newest snapshot byte-equal
  * to the ONE-SHOT Similarity.knnGraph over the union of batches (the
  * mergeable-top-k argument in the sink's scaladoc), a replayed fold must
  * be a no-op, and GC must keep exactly the last two generations.
  */
class StreamingKnnSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("streamed kNN snapshot equals the one-shot graph; replay idempotent") {
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val batches = (0 until 3).map(i => all.filter(_._1 % 3 == i))
    assert(batches.forall(_.nonEmpty))
    val (vecStore, graphStore, ckpt) = (tmpDir("vecs"), tmpDir("graph"), tmpDir("ckpt"))
    val in = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingOps.knnStateSink(
      in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", vecStore, graphStore, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      k = 4, nBits = 8, tables = 8)
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      df.select(col("node_id"), col("neighbor_id"), col("cos"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSet
    val streamed = edgeSet(
      graft.streaming.StreamingOps.knnStateGraph(spark, graphStore))
    val oneShot = edgeSet(graft.ops.Similarity.knnGraph(
      all.toDF("vec_id", "embedding"), "vec_id", "embedding",
      k = 4, nBits = 8, tables = 8))
    assert(streamed.nonEmpty, "sf0.001 must produce graph edges")
    assert(streamed == oneShot,
      "graph after 3 micro-batches must equal the one-shot build")
    // GC keeps only the newest snapshot and its immediate predecessor
    val gens = new java.io.File(graphStore).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(gens == Seq("batch_id=1", "batch_id=2"),
      s"GC must keep exactly the last two generations, got $gens")
    // replay the LAST batch's fold exactly as a foreachBatch retry would
    graft.streaming.StreamingOps.foldKnnSnapshot(
      spark, vecStore, graphStore, 2L, k = 4, nBits = 8, tables = 8)
    val replayed = edgeSet(
      graft.streaming.StreamingOps.knnStateGraph(spark, graphStore))
    assert(replayed == oneShot, "a replayed fold must not change the store")
  }

  test("a node landing later can enter an EARLIER node's neighbor list") {
    // all three vectors share the all-positive sign bucket, but point in
    // different DIRECTIONS within the orthant: node 1 lands first with
    // only the direction-distant node 2 available; the near-parallel
    // node 3 lands second — the incident edges' REVERSE orientation must
    // update node 1's stored list
    implicit val sc = spark.sqlContext
    val v1 = Array.fill(8)(1.0f)
    val v2 = Array.tabulate(8)(i => if (i % 2 == 0) 0.01f else 5.0f)
    val v3 = Array.tabulate(8)(i => 1.0f + 0.001f * i)
    val (vecStore, graphStore, ckpt) =
      (tmpDir("vecs2"), tmpDir("graph2"), tmpDir("ckpt2"))
    val in = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingOps.knnStateSink(
      in.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", vecStore, graphStore, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      k = 1, nBits = 8, tables = 1)
    try {
      in.addData((1L, v1), (2L, v2))
      q.processAllAvailable()
      in.addData((3L, v3))
      q.processAllAvailable()
    } finally q.stop()
    val g = graft.streaming.StreamingOps.knnStateGraph(spark, graphStore)
      .select(col("node_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    // k = 1: node 1's single slot must now hold 3 (closer than 2)
    assert(g.contains((1L, 3L)) && g.contains((3L, 1L)),
      s"the late-landing closer neighbor must displace the early one: $g")
  }

  test("jobs: graph construction launches none, a micro-batch a bounded few") {
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (vecStore, graphStore, ckpt) = (tmpDir("jvecs"), tmpDir("jgraph"), tmpDir("jckpt"))
    val in = MemoryStream[(Long, Array[Float])]
    var runId = ""
    val streamJobs = jobsDuring("knn-sink") {
      val q = graft.streaming.StreamingOps.knnStateSink(
        in.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", vecStore, graphStore, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
        k = 4, nBits = 8, tables = 8)
      runId = q.runId.toString
      try (0 until 3).foreach { i =>
        in.addData(all.filter(_._1 % 3 == i): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    val perBatch = streamJobs.filter(_._1 == runId).groupBy(_._2)
      .map { case (b, js) => b -> js.size }
    assert(perBatch.keySet == Set("0", "1", "2"))
    // land the vectors, fold the graph snapshot, every store read with
    // its declared schema: 9-10 jobs (11-13 with the schema inferences)
    assert(perBatch.values.forall(_ <= 10),
      s"a micro-batch launched more jobs than its stores need: $perBatch")
    val buildJobs = jobsDuring("graph-build") {
      graft.streaming.StreamingOps.knnStateGraph(spark, graphStore)
        .queryExecution.executedPlan
    }.count(_._1 == "graph-build")
    assert(buildJobs == 0, s"constructing the graph read launched $buildJobs jobs")
  }
}
