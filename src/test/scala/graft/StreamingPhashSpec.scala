package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming perceptual dedup (StreamingOps.phashStateSink): after N
  * micro-batches the accumulated Hamming-pair store must equal the
  * one-shot banded build over the union of all batches, row-identically;
  * the incremental state operator must equal the self-join operator on
  * a split input; and a replayed micro-batch must not duplicate pairs.
  */
class StreamingPhashSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.select(col("id_a"), col("id_b"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def sigsOf(df: org.apache.spark.sql.DataFrame) =
    graft.ops.Multimodal.dhashSigsFromDocs(df, "doc_id", "text")

  test("state operator equals the self-join operator on a split input") {
    val docs = graft.ops.Tables.documents(spark, dir)
    val landed = sigsOf(docs.filter(col("doc_id") % 3 === 0))
    val prior = sigsOf(docs.filter(col("doc_id") % 3 =!= 0))
    val incr = pairSet(
      graft.ops.Dedup.bandedPairsFromState(landed, prior, maxHamming = 3))
    val oneShot = pairSet(
      graft.ops.Dedup.bandedPairsFromSigs(sigsOf(docs), maxHamming = 3))
    val priorOnly = pairSet(
      graft.ops.Dedup.bandedPairsFromSigs(prior, maxHamming = 3))
    assert(incr == (oneShot -- priorOnly),
      "incremental pairs must be exactly the one-shot pairs touching a landed id")
  }

  test("streamed pair store equals the one-shot banded build; replay idempotent") {
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val batches = (0 until 3).map(i => all.filter(_._1 % 3 == i))
    assert(batches.forall(_.nonEmpty))
    val (sigStore, pairStore, ckpt) = (tmpDir("sigs"), tmpDir("pairs"), tmpDir("ckpt"))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingOps.phashStateSink(
      in.toDF().toDF("doc_id", "text"),
      "doc_id", "text", sigStore, pairStore, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = pairSet(spark.read.parquet(pairStore))
    val oneShot = pairSet(graft.ops.Dedup.bandedPairsFromSigs(
      sigsOf(all.toDF("doc_id", "text")), maxHamming = 3))
    assert(streamed == oneShot,
      "pair store after 3 micro-batches must equal the one-shot build")
    assert(streamed.nonEmpty, "fixture near-dups must produce pairs")
    val n = spark.read.parquet(pairStore).count()
    assert(n.toInt == streamed.size, "pair store must hold no duplicates")

    // replay the LAST batch exactly as a foreachBatch retry would
    val lastId = spark.read.parquet(sigStore)
      .select(max(col("batch_id")).cast("long")).head.getLong(0)
    sigsOf(batches.last.toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$sigStore/batch_id=$lastId")
    val landed = spark.read.parquet(s"$sigStore/batch_id=$lastId")
      .select(col("id"), col("sig"))
    val prior = spark.read.parquet(sigStore)
      .filter(col("batch_id").cast("long") < lastId)
      .select(col("id"), col("sig"))
    graft.ops.Dedup.bandedPairsFromState(landed, prior, maxHamming = 3)
      .write.mode("overwrite").parquet(s"$pairStore/batch_id=$lastId")
    assert(pairSet(spark.read.parquet(pairStore)) == oneShot,
      "a replayed batch must not change the store")
  }

  test("a micro-batch runs a pinned number of jobs") {
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val (sigStore, pairStore, ckpt) =
      (tmpDir("jsigs"), tmpDir("jpairs"), tmpDir("jckpt"))
    val in = MemoryStream[(Long, String)]
    var runId = ""
    val streamJobs = jobsDuring("phash-sink") {
      val q = graft.streaming.StreamingOps.phashStateSink(
        in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", sigStore, pairStore, ckpt,
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
    // fan out, land the signatures, land the banded pairs against the
    // prior signatures, every store read with its declared schema: 7-8
    assert(perBatch.values.forall(_ <= 8),
      s"a micro-batch launched more jobs than its stores need: $perBatch")
  }
}
