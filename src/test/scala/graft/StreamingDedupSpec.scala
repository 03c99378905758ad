package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming cross-run dedup (StreamingOps.minhashStateSink): after N
  * micro-batches the accumulated pair store must equal the one-shot
  * batch near-dup over the union of all batches, byte-identically, and a
  * replayed micro-batch must not duplicate pairs.
  */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a"), col("id_b"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("streamed pair store equals the one-shot batch build; replay idempotent") {
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val batches = (0 until 3).map(i => all.filter(_._1 % 3 == i))
    assert(batches.forall(_.nonEmpty))
    val (sigStore, pairStore, ckpt) =
      (tmpDir("sigs"), tmpDir("pairs"), tmpDir("ckpt"))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.minhashStateSink(
      in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", sigStore, pairStore, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = pairSet(
      graft.streaming.StreamingOps.minhashStatePairs(spark, pairStore))
    val oneShot = pairSet(graft.ops.Dedup.nearDupMinhash(
      all.toDF("doc_id", "text"), "doc_id", "text",
      k = 16, bands = 4, minJaccard = 0.5))
    assert(streamed == oneShot,
      "pair store after 3 micro-batches must equal the one-shot build")
    // no pair may appear in two partitions (each pair touches exactly one
    // batch's earliest-arriving doc... stronger: global multiset = set)
    val n = graft.streaming.StreamingOps
      .minhashStatePairs(spark, pairStore).count()
    assert(n.toInt == streamed.size, "pair store must hold no duplicates")

    // replay the LAST batch exactly as a foreachBatch retry would: rewrite
    // its digests and re-run the incremental pass into the same partition
    val lastId = spark.read.parquet(sigStore)
      .select(max(col("batch_id")).cast("long")).head.getLong(0)
    val replayBatch = batches.last.toDF("doc_id", "text")
    graft.ops.Dedup.minhashPrepared(replayBatch, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$sigStore/batch_id=$lastId")
    val landed = spark.read.parquet(s"$sigStore/batch_id=$lastId")
      .select(col("id"), col("sig"), col("toks"))
    val prior = spark.read.parquet(sigStore)
      .filter(col("batch_id").cast("long") < lastId)
      .select(col("id"), col("sig"), col("toks"))
    graft.ops.Dedup.nearDupMinhashFromState(landed, prior)
      .write.mode("overwrite").parquet(s"$pairStore/batch_id=$lastId")
    val replayed = pairSet(
      graft.streaming.StreamingOps.minhashStatePairs(spark, pairStore))
    assert(replayed == oneShot, "a replayed batch must not change the store")
  }

  test("streamed roots snapshot equals full-graph components; replay idempotent") {
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val batches = (0 until 3).map(i => all.filter(_._1 % 3 == i))
    assert(batches.forall(_.nonEmpty))
    val (sigStore, pairStore, rootsStore, ckpt) =
      (tmpDir("rsigs"), tmpDir("rpairs"), tmpDir("roots"), tmpDir("rckpt"))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.rootsStateSink(
      in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", sigStore, pairStore, rootsStore, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    def rootSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = rootSet(
      graft.streaming.StreamingOps.minhashStateRoots(spark, rootsStore))
    val oneShotPairs = graft.ops.Dedup.nearDupMinhash(
      all.toDF("doc_id", "text"), "doc_id", "text",
      k = 16, bands = 4, minJaccard = 0.5)
    val oneShot = rootSet(graft.ops.Dedup.connectedComponents(
      oneShotPairs.select(col("id_a"), col("id_b")),
      "id_a", "id_b", uniquePairs = true))
    assert(streamed.nonEmpty, "sf0.001 must produce near-dup clusters")
    assert(streamed == oneShot,
      "roots after 3 micro-batches must equal the one-shot component build")
    // GC keeps only the newest snapshot and its immediate predecessor
    val gens = new java.io.File(rootsStore).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(gens == Seq("batch_id=1", "batch_id=2"),
      s"GC must keep exactly the last two generations, got $gens")
    // replay the LAST batch's fold exactly as a foreachBatch retry would:
    // the predecessor snapshot is still there, the pair partition is
    // deterministic, so the recomputed snapshot must not change the state
    graft.streaming.StreamingOps.foldRootsSnapshot(
      spark, pairStore, rootsStore, 2L)
    val replayed = rootSet(
      graft.streaming.StreamingOps.minhashStateRoots(spark, rootsStore))
    assert(replayed == oneShot, "a replayed fold must not change the store")
  }

  test("tiny micro-batches write a bounded file count (fan-out cap)") {
    // r17 advice: fanOut used to repartition every batch to
    // defaultParallelism, so a near-empty batch left ~defaultParallelism
    // near-empty files in each state-store partition. The cap derives the
    // fan-out from batch rows (64 rows/task), so a 5-row batch must land
    // as exactly ONE data file per store partition.
    implicit val sc = spark.sqlContext
    val docs = graft.ops.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.take(5)
    val (sigStore, pairStore, ckpt) =
      (tmpDir("capsigs"), tmpDir("cappairs"), tmpDir("capckpt"))
    val fs = new org.apache.hadoop.fs.Path(sigStore)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(sigStore, pairStore, ckpt).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.minhashStateSink(
      in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", sigStore, pairStore, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try { in.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    val parts = new java.io.File(s"$sigStore/batch_id=0").listFiles()
      .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.length == 1,
      s"5-row batch must write 1 sig file, got ${parts.length}")
    // and the landed rows are intact
    assert(spark.read.parquet(s"$sigStore/batch_id=0").count() == 5)
  }

  test("jobs: roots construction launches none, a micro-batch a bounded few") {
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val (sigStore, pairStore, rootsStore, ckpt) =
      (tmpDir("jsigs"), tmpDir("jpairs"), tmpDir("jroots"), tmpDir("jckpt"))
    val in = MemoryStream[(Long, String)]
    var runId = ""
    val streamJobs = jobsDuring("roots-sink") {
      val q = graft.streaming.StreamingOps.rootsStateSink(
        in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", sigStore, pairStore, rootsStore, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      runId = q.runId.toString
      try (0 until 3).foreach { i =>
        in.addData(all.filter(_._1 % 3 == i): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    val perBatch = streamJobs.filter(_._1 == runId).groupBy(_._2)
      .map { case (b, js) => b -> js.size }
    assert(perBatch.keySet == Set("0", "1", "2"))
    // land sigs + pairs, fold the roots snapshot, every store read with
    // its declared schema: 26-27 jobs (29-31 with the schema inferences)
    assert(perBatch.values.forall(_ <= 27),
      s"a micro-batch launched more jobs than its stores need: $perBatch")
    val buildJobs = jobsDuring("roots-build") {
      graft.streaming.StreamingOps.minhashStateRoots(spark, rootsStore)
        .queryExecution.executedPlan
    }.count(_._1 == "roots-build")
    assert(buildJobs == 0, s"constructing the roots read launched $buildJobs jobs")
  }
}
