package graft

import graft.sink.Store
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming IVF index maintenance (StreamingOps.ivfStateSink): the
  * cell-partitioned sufficient-statistics store after N micro-batches
  * must equal a single batch build over the union (batch ≡ stream), a
  * replayed micro-batch must not double-count (delta-log idempotence),
  * and a batch touching one cell must leave other cells' files
  * byte-untouched (dynamic partition overwrite).
  */
class IvfStreamSpec extends SparkSpec {
  import spark.implicits._

  private def stateOf(path: String): Map[(Int, Long), (Long, Long)] =
    Store.ivfState.read(spark, path)
      .collect()
      .map(r => ((r.getInt(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap

  private def rebuild(rows: Seq[(Long, Seq[Float], Int)]): Map[(Int, Long), (Long, Long)] =
    rows.toDF("vec_id", "embedding", "cell")
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("cell"), col("pos0"))
      .agg(sum(floor(col("v").cast("double") * 1e9 + 0.5).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cell"), (col("pos0") + 1).cast("long").as("pos"),
        col("s"), col("n"))
      .collect()
      .map(r => ((r.getInt(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap

  test("streamed state equals batch rebuild; replay idempotent; untouched cells untouched") {
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Seq[Float], Int)].collect().toSeq
    val batches = Seq(
      all.filter(_._1 % 3 == 0), all.filter(_._1 % 3 == 1),
      all.filter(_._1 % 3 == 2))
    val (deltaLog, statePath, ckpt) =
      (tmpDir("delta"), tmpDir("state"), tmpDir("ckpt"))
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val q = graft.streaming.StreamingOps.ivfStateSink(
      in.toDF().toDF("vec_id", "embedding", "cell"),
      "vec_id", "embedding", "cell", deltaLog, statePath, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    val cell3 = all.filter(_._3 == 3).take(5)
    assert(cell3.nonEmpty)
    try {
      // one processAllAvailable per addData = one micro-batch per split
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val streamed = stateOf(statePath)
      val full = rebuild(all)
      assert(streamed == full,
        "state after 3 micro-batches must equal the one-shot batch build")

      // dynamic partition overwrite: a 4th batch touching ONLY cell 3
      // (same stream — batch_id continues) must not rewrite other cells
      val before = new java.io.File(statePath).listFiles()
        .filter(f => f.getName.startsWith("cell=") && f.getName != "cell=3")
        .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
      in.addData(cell3: _*)
      q.processAllAvailable()
      val after = new java.io.File(statePath).listFiles()
        .filter(f => f.getName.startsWith("cell=") && f.getName != "cell=3")
        .flatMap(_.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
      assert(after == before,
        "cells untouched by the batch must keep their files byte-untouched")
      val s3 = stateOf(statePath).filter(_._1._1 == 3)
      val want3 = rebuild(all.filter(_._3 == 3) ++ cell3).filter(_._1._1 == 3)
      assert(s3 == want3, "touched cell must absorb the new batch exactly")
    } finally q.stop()

    // replay idempotence: re-apply the LAST batch's delta + merge exactly
    // as a foreachBatch retry would (same batch_id partition, re-merge) —
    // the state must not change
    val snapshot = stateOf(statePath)
    val lastId = Store.ivfDelta.newest(spark, deltaLog, "spec")
    val replay = cell3.toDF("vec_id", "embedding", "cell")
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("cell"), col("pos0"))
      .agg(sum(floor(col("v").cast("double") * 1e9 + 0.5).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cell"), (col("pos0") + 1).cast("long").as("pos"),
        col("s"), col("n"))
    Store.ivfDelta.land(replay, deltaLog, lastId)
    val touched = Store.ivfDelta.at(spark, deltaLog, lastId, "cell").distinct()
    val merged = Store.ivfDelta.read(spark, deltaLog)
      .join(broadcast(touched), Seq("cell"))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
    Store.ivfState.write(merged, statePath, Store.byCell("pos"))
    assert(stateOf(statePath) == snapshot,
      "a replayed batch must not double-count")
  }

  test("delta-log compaction bounds the log and preserves batch ≡ stream") {
    // round-13 ADVICE: without compaction the per-batch re-sum and file
    // count grow with stream lifetime. compactEvery=2 over 5 batches
    // forces two fold generations (at batch 2 and batch 4); the state
    // must still equal the one-shot rebuild, and the surviving log must
    // be ONE base partition + the post-fold deltas only.
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Seq[Float], Int)].collect().toSeq
    val batches = (0 until 5).map(i => all.filter(_._1 % 5 == i))
    assert(batches.forall(_.nonEmpty))
    val (deltaLog, statePath, ckpt) =
      (tmpDir("cdelta"), tmpDir("cstate"), tmpDir("cckpt"))
    val in = MemoryStream[(Long, Seq[Float], Int)]
    val q = graft.streaming.StreamingOps.ivfStateSink(
      in.toDF().toDF("vec_id", "embedding", "cell"),
      "vec_id", "embedding", "cell", deltaLog, statePath, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      compactEvery = 2)
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(stateOf(statePath) == rebuild(all),
      "state across compaction generations must equal the one-shot build")
    val partIds = new java.io.File(deltaLog).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted.toSeq
    assert(partIds.min == -4L,
      s"newest base generation must be batch_id=-4, got $partIds")
    assert(partIds.count(_ < 0) == 1,
      s"older base generations must be garbage-collected: $partIds")
    assert(partIds.filter(_ >= 0).forall(_ >= 4L),
      s"folded positive deltas must be gone: $partIds")
    // and the effective-set reader agrees with the physical layout
    val eff = graft.streaming.StreamingOps
      .effectiveDeltas(spark, deltaLog)
      .select(col("batch_id")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(eff == partIds,
      "after GC every surviving partition must be effective")
  }

  test("compaction replay is crash-safe: base-exists skip preserves history") {
    // round-14 ADVICE (high): a foreachBatch replay of a compaction batch
    // — crash after the fold (and possibly after GC), before the
    // checkpoint commit — re-enters compactDeltaLog with the base
    // partition already written and the folded positive deltas possibly
    // deleted. The old fold re-ran with mode("overwrite") targeting its
    // OWN source partition; Spark deletes the output dir before the job
    // reads it, so history was silently destroyed. The fix skips the
    // fold when the base exists and only re-runs GC.
    def writeDelta(log: String, id: Long, rows: Seq[(Int, Long, Long, Long)]): Unit =
      Store.ivfDelta.land(rows.toDF("cell", "pos", "s", "n"), log, id)
    def effTotals(log: String): Map[(Int, Long), (Long, Long)] =
      graft.streaming.StreamingOps.effectiveDeltas(spark, log)
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
        .toMap
    def partIds(log: String): Seq[Long] =
      new java.io.File(log).listFiles()
        .map(_.getName).filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).sorted.toSeq

    // crash AFTER fold + GC (worst case: base is the only copy of history)
    val logA = tmpDir("replayA")
    writeDelta(logA, 0L, Seq((1, 1L, 10L, 2L)))
    writeDelta(logA, 1L, Seq((1, 1L, 5L, 1L), (2, 1L, 7L, 3L)))
    writeDelta(logA, 2L, Seq((2, 1L, 1L, 1L)))
    graft.streaming.StreamingOps.compactDeltaLog(spark, logA, 2L)
    val want = effTotals(logA)
    assert(partIds(logA) == Seq(-2L, 2L))
    // REPLAY of batch 2's compaction — must not re-fold, must not destroy
    graft.streaming.StreamingOps.compactDeltaLog(spark, logA, 2L)
    assert(partIds(logA) == Seq(-2L, 2L), "replay must leave the layout")
    assert(effTotals(logA) == want, "replay must preserve folded history")
    assert(want((1, 1L)) == ((15L, 3L)) && want((2, 1L)) == ((8L, 4L)))

    // crash AFTER fold, BEFORE GC (base + folded positives both present)
    val logB = tmpDir("replayB")
    writeDelta(logB, 0L, Seq((1, 1L, 10L, 2L)))
    writeDelta(logB, 1L, Seq((1, 1L, 5L, 1L)))
    writeDelta(logB, 2L, Seq((1, 1L, 2L, 1L)))
    graft.streaming.StreamingOps.compactDeltaLog(spark, logB, 2L)
    // resurrect a folded positive delta as if GC never ran
    writeDelta(logB, 1L, Seq((1, 1L, 5L, 1L)))
    graft.streaming.StreamingOps.compactDeltaLog(spark, logB, 2L)
    assert(partIds(logB) == Seq(-2L, 2L), "replay must finish the GC")
    assert(effTotals(logB)((1, 1L)) == ((17L, 4L)),
      "the skipped fold must keep the base authoritative, not re-fold")
  }

  test("effectiveDeltas tolerates an all-empty delta log (zero-data batch)") {
    // round-14 ADVICE (low): min(batch_id) over zero rows is NULL — a
    // zero-data micro-batch can land an empty delta partition before any
    // real batch; the reader must return the raw (empty) log, not NPE.
    val log = tmpDir("emptylog")
    Store.ivfDelta.land(
      Seq.empty[(Int, Long, Long, Long)].toDF("cell", "pos", "s", "n"), log, 0L)
    val eff = graft.streaming.StreamingOps.effectiveDeltas(spark, log)
    assert(eff.count() == 0L)
  }

  test("a micro-batch runs a pinned number of jobs; effectiveDeltas runs none") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(71)
    val all = (0L until 90L).map(i =>
      (i, Seq.fill(16)(rnd.nextFloat() - 0.5f), (i % 5).toInt))
    val (deltaLog, statePath, ckpt) =
      (tmpDir("jdelta"), tmpDir("jstate"), tmpDir("jckpt"))
    val in = MemoryStream[(Long, Seq[Float], Int)]
    var runId = ""
    // compactEvery = 2: batch 2 folds batches 0-1 into a base generation
    val streamJobs = jobsDuring("ivf-sink") {
      val q = graft.streaming.StreamingOps.ivfStateSink(
        in.toDF().toDF("vec_id", "embedding", "cell"),
        "vec_id", "embedding", "cell", deltaLog, statePath, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
        compactEvery = 2)
      runId = q.runId.toString
      try (0 until 3).foreach { i =>
        in.addData(all.filter(_._1 % 3 == i): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    val perBatch = streamJobs.filter(_._1 == runId).groupBy(_._2)
      .map { case (b, js) => b -> js.size }
    assert(perBatch.keySet == Set("0", "1", "2"))
    // fan out, land the delta, read the touched cells, merge the state
    // (14 when the delta log and the base-generation rule were read by
    // schema inference and a min(batch_id) job); the compacting batch adds
    // the fold (19 then)
    assert(perBatch("0") <= 10 && perBatch("1") <= 10 && perBatch("2") <= 12,
      s"a micro-batch launched more jobs than its stores need: $perBatch")
    val readJobs = jobsDuring("ivf-deltas") {
      graft.streaming.StreamingOps.effectiveDeltas(spark, deltaLog)
        .queryExecution.executedPlan
    }.count(_._1 == "ivf-deltas")
    assert(readJobs == 0, s"constructing the effective delta log launched $readJobs jobs")
  }
}
