package graft

import graft.sink.Store
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming PQ coding (StreamingOps.pqStateSink): after N micro-batches
  * the cell-partitioned code store must equal one-shot coding of the
  * union against the same frozen codebook; a replayed micro-batch must
  * not change the store; and a probed-cell read over the accumulated
  * store must partition-prune on `cell`.
  */
class StreamingPqSpec extends SparkSpec {
  import spark.implicits._

  private def codeMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
    df.select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toMap

  test("streamed code store equals one-shot coding; replay idempotent; probes prune") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(59)
    val all = (0L until 90L).map(i =>
      (i, Seq.fill(64)(rnd.nextFloat() - 0.5f), (i % 5).toInt))
    val corpus = all.toDF("vec_id", "embedding", "cell")
    // frozen codebook, trained once up front (the production contract)
    val cb = graft.ops.Similarity.pqTrainCodebook(
      corpus, "vec_id", "embedding", 8, 8)

    val (store, ckpt) = (tmpDir("codes"), tmpDir("ckpt"))
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val q = graft.streaming.StreamingOps.pqStateSink(
      in.toDF().toDF("vec_id", "embedding", "cell"),
      "vec_id", "embedding", "cell", cb, 8, 8, store, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    val batches = (0 until 3).map(i => all.filter(_._1 % 3 == i))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    val streamed = codeMap(Store.pqCodes.read(spark, store))
    val oneShot = codeMap(corpus.select(col("vec_id"), col("cell"),
      graft.ops.Similarity.pqCodesExpr(col("embedding"), cb, 8, 8).as("codes")))
    assert(streamed == oneShot,
      "streamed store after 3 micro-batches must equal one-shot coding")
    assert(streamed.size == 90)

    // replay the LAST batch exactly as a foreachBatch retry would:
    // the batch_id partition overwrite must leave the store unchanged
    val lastId = Store.pqCodes.newest(spark, store, "spec")
    Store.pqCodes.land(batches.last.toDF("vec_id", "embedding", "cell")
      .select(col("vec_id"), col("cell"),
        graft.ops.Similarity.pqCodesExpr(col("embedding"), cb, 8, 8).as("codes")),
      store, lastId, Store.byCell("vec_id"))
    assert(codeMap(Store.pqCodes.read(spark, store)) == oneShot,
      "a replayed micro-batch must not change the accumulated store")

    // probed-cell read over the ACCUMULATED multi-batch store prunes
    val probed = Store.pqCodes.read(spark, store).filter(col("cell").isin(1, 3))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"),
      s"cell filter must land in PartitionFilters, got:\n$plan")
    assert(probed.select("cell").distinct().collect()
      .map(_.getInt(0)).toSet == Set(1, 3))
  }

  test("residual ingest: the sink is codebook-agnostic — streamed residual codes equal one-shot") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(61)
    // two cells with distinct means so residuals differ from raw vectors
    val cents: Map[Int, Double] = Map(0 -> 0.3, 1 -> -0.3)
    val all = (0L until 80L).map { i =>
      val cell = (i % 2).toInt
      (i, Seq.fill(64)(rnd.nextFloat() - 0.5f + cents(cell).toFloat), cell)
    }
    val corpus = all.toDF("vec_id", "embedding", "cell")
    val centLits = array(Seq(0, 1).map(c =>
      typedlit(Seq.fill(64)(cents(c)))): _*)
    def withResid(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("resid", graft.ops.Similarity.pqResidual(
        col("embedding"), element_at(centLits, col("cell") + 1)))
    // residual codebook trained once up front, frozen — the IVFADC
    // ingest path is pqStateSink UNCHANGED, fed the resid column: the
    // sink codes whatever vector column it is given against whatever
    // codebook it was frozen with
    val cbr = graft.ops.Similarity.pqTrainCodebook(
      withResid(corpus), "vec_id", "resid", 16, 4)
    val (store, ckpt) = (tmpDir("rescodes"), tmpDir("resckpt"))
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val q = graft.streaming.StreamingOps.pqStateSink(
      withResid(in.toDF().toDF("vec_id", "embedding", "cell")),
      "vec_id", "resid", "cell", cbr, 16, 4, store, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    val batches = (0 until 3).map(i => all.filter(_._1 % 3 == i))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = codeMap(Store.pqCodes.read(spark, store))
    val oneShot = codeMap(withResid(corpus).select(col("vec_id"), col("cell"),
      graft.ops.Similarity.pqCodesExpr(col("resid"), cbr, 16, 4).as("codes")))
    assert(streamed == oneShot,
      "streamed residual store must equal one-shot residual coding")
    assert(streamed.size == 80 &&
      streamed.values.forall(cs => cs.length == 16 && cs.forall(j => j >= 0 && j < 16)))
  }

  test("a micro-batch runs a pinned number of jobs") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(67)
    val all = (0L until 90L).map(i =>
      (i, Seq.fill(64)(rnd.nextFloat() - 0.5f), (i % 5).toInt))
    val cb = graft.ops.Similarity.pqTrainCodebook(
      all.toDF("vec_id", "embedding", "cell"), "vec_id", "embedding", 8, 8)
    val (store, ckpt) = (tmpDir("jcodes"), tmpDir("jckpt"))
    val in = MemoryStream[(Long, Seq[Float], Int)]
    var runId = ""
    val streamJobs = jobsDuring("pq-sink") {
      val q = graft.streaming.StreamingOps.pqStateSink(
        in.toDF().toDF("vec_id", "embedding", "cell"),
        "vec_id", "embedding", "cell", cb, 8, 8, store, ckpt,
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
    // fan out, code map-side, cluster by cell and land one file per cell
    assert(perBatch.values.forall(_ <= 5),
      s"a micro-batch launched more jobs than its store needs: $perBatch")
  }
}
