package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming inverted-index maintenance (StreamingOps.invertedStateSink):
  * BM25 served from the folded state after N micro-batches must be
  * BIT-identical to the one-shot scorer over the union of batches (corpus
  * stats df / n_docs / Σdl are associative counts over disjoint doc
  * sets), a replayed stats fold must be a no-op, and GC must keep exactly
  * the last two stat generations. The driver gate (q_bm25_stream) proves
  * the same contract against DuckDB on the harness corpus; these tests
  * pin it in-process with a MemoryStream, including mid-stream df/avgdl
  * drift, docs whose text yields no tokens, and the jobs a micro-batch
  * and a served query's construction launch.
  */
class StreamingInvertedSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private val terms = Seq("dup", "join", "scan")

  private def sink(in: MemoryStream[(Long, String)], idx: String,
      ckpt: String) = graft.streaming.StreamingOps.invertedStateSink(
    in.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, ckpt,
    trigger = Trigger.ProcessingTime(0L))

  /** One-shot exhaustive BM25 on a (doc_id, text) frame — the
    * MaxScoreQueries postings arithmetic, scored without pruning. */
  private def oneShotTopK(docs: org.apache.spark.sql.DataFrame,
      k: Int): Seq[(Long, Long, Int)] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val toks = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.tokens(col("text")).as("toks"))
    val stats = toks.agg(count(lit(1)).cast("double").as("n"),
      (sum(size(col("toks"))).cast("double")
        / count(lit(1)).cast("double")).as("avgdl"))
    val dl = toks.select(col("doc_id"), size(col("toks")).cast("double").as("dl"))
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfq = tf.groupBy(col("token")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(dfq, "token").join(dl, "doc_id").crossJoin(broadcast(stats))
      .select(col("doc_id"), graft.ops.TextAnalysis.round6(
        (((col("n") - col("df") + 0.5) / (col("df") + 0.5))
          * (col("tf") * 2.2))
          / (col("tf") + lit(1.2)
            * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .cast(DecimalType(18, 6)).as("s"))
      .groupBy(col("doc_id")).agg(sum(col("s")).as("score"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .filter(col("rn") <= k)
      .select(col("doc_id"),
        (col("score") * 1000000).cast("bigint").as("m"), col("rn"))
      .as[(Long, Long, Int)].collect().toSeq
  }

  test("BM25 from streamed state equals the one-shot scorer; replay + GC") {
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val batches = (0 until 3).map(i => all.filter(_._1 % 3 == i))
    assert(batches.forall(_.nonEmpty))
    val (idx, ckpt) = (tmpDir("idx"), tmpDir("ckpt"))
    val in = MemoryStream[(Long, String)]
    val q = sink(in, idx, ckpt)
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val served = graft.streaming.StreamingOps
      .invertedStateBm25(spark, idx, terms, 10)
      .as[(Long, Long, Int)].collect().toSeq.sortBy(_._3)
    val oneShot = oneShotTopK(all.toDF("doc_id", "text"), 10)
    assert(served.nonEmpty)
    assert(served === oneShot,
      "BM25 from the maintained index must be bit-identical to one-shot")
    // mid-stream state differs from the final state (df/avgdl drift is
    // real): generation 1's df snapshot must not equal generation 2's
    val gens = new java.io.File(s"$idx/df").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(gens == Seq("batch_id=1", "batch_id=2"),
      s"GC must keep exactly the last two stat generations, got $gens")
    val df1 = spark.read.parquet(s"$idx/df/batch_id=1")
      .as[(String, Long)].collect().toMap
    val df2 = spark.read.parquet(s"$idx/df/batch_id=2")
      .as[(String, Long)].collect().toMap
    assert(df1 != df2, "df must drift as batches arrive")
    assert(terms.forall(t => df1.getOrElse(t, 0L) <= df2.getOrElse(t, 0L)),
      "df is a monotone count over arriving docs")
    // replay the LAST fold exactly as a foreachBatch retry would
    graft.streaming.StreamingOps.foldTextStats(spark, idx, 2L)
    val replayed = graft.streaming.StreamingOps
      .invertedStateBm25(spark, idx, terms, 10)
      .as[(Long, Long, Int)].collect().toSeq.sortBy(_._3)
    assert(replayed === oneShot, "a replayed fold must not change the state")
  }

  test("a doc landing later re-ranks earlier docs through df drift") {
    // batch 1: doc 1 is the only holder of 'rare' (df=1, big idf). batch
    // 2 floods 'rare' into many docs — doc 1's served score must DROP
    // (stats drift applies retroactively to already-indexed postings,
    // which is exactly what per-batch stat snapshots are for).
    implicit val sc = spark.sqlContext
    val (idx, ckpt) = (tmpDir("idx2"), tmpDir("ckpt2"))
    val in = MemoryStream[(Long, String)]
    val q = sink(in, idx, ckpt)
    def servedScore: Long = graft.streaming.StreamingOps
      .invertedStateBm25(spark, idx, Seq("rare"), 10)
      .filter(col("doc_id") === 1L)
      .select(col("score_micros")).as[Long].collect().head
    try {
      in.addData((1L, "rare word among filler filler"),
        (2L, "filler text only"))
      q.processAllAvailable()
      val early = servedScore
      in.addData((10L, "rare rare things"), (11L, "rare stuff"),
        (12L, "rare again"), (13L, "more rare"))
      q.processAllAvailable()
      val late = servedScore
      assert(late < early,
        s"df drift must devalue doc 1's 'rare' score: early=$early late=$late")
    } finally q.stop()
  }

  test("store parity with docs that yield no tokens; replayed folds change nothing") {
    implicit val sc = spark.sqlContext
    val batches = Seq(
      Seq((1L, "alpha beta beta"), (2L, ""), (3L, "Beta gamma")),
      Seq((4L, "   "), (5L, "\t \n")), // no doc has a token
      Seq((6L, "gamma delta alpha"), (7L, " ")))
    def toks(text: String) = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    // one-shot (df, (n_docs, sum_dl)) over the first `n` batches
    def oneShot(n: Int) = {
      val docs = batches.take(n).flatten
      (docs.flatMap(d => toks(d._2).distinct).groupBy(identity)
          .map { case (t, hits) => t -> hits.size.toLong },
        (docs.size.toLong, docs.map(d => toks(d._2).length.toLong).sum))
    }
    val (idx, ckpt) = (tmpDir("idx3"), tmpDir("ckpt3"))
    def snapshot(b: Long) = (
      spark.read.parquet(s"$idx/df/batch_id=$b").as[(String, Long)].collect().toMap,
      spark.read.parquet(s"$idx/global/batch_id=$b").as[(Long, Long)].collect().toSeq)
    val in = MemoryStream[(Long, String)]
    val q = sink(in, idx, ckpt)
    try {
      in.addData(batches.head: _*)
      q.processAllAvailable()
      val first = snapshot(0L)
      assert(first == { val (df, g) = oneShot(1); (df, Seq(g)) })
      // replay the first fold (no predecessor) as a foreachBatch retry would
      graft.streaming.StreamingOps.foldTextStats(spark, idx, 0L)
      assert(snapshot(0L) == first, "a replayed first fold must not change the stores")
      batches.tail.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(snapshot(1L)._2 == Seq(oneShot(2)._2),
      "a batch without tokens still counts its docs")
    val last = snapshot(2L)
    val (df, g) = oneShot(3)
    assert(last._1 == df, "newest df snapshot = one-shot doc frequencies")
    assert(last._2 == Seq(g), "global = (one-shot doc count, total tokens)")
    graft.streaming.StreamingOps.foldTextStats(spark, idx, 2L)
    assert(snapshot(2L) == last, "a replayed last fold must not change the stores")
  }

  test("jobs: BM25 construction launches none, a micro-batch a bounded few") {
    implicit val sc = spark.sqlContext
    val all = graft.ops.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val (idx, ckpt) = (tmpDir("idx4"), tmpDir("ckpt4"))
    val in = MemoryStream[(Long, String)]
    var runId = ""
    val streamJobs = jobsDuring("inverted-sink") {
      val q = sink(in, idx, ckpt)
      runId = q.runId.toString
      try (0 until 3).foreach { i =>
        in.addData(all.filter(_._1 % 3 == i): _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    val perBatch = streamJobs.filter(_._1 == runId).groupBy(_._2)
      .map { case (b, js) => b -> js.size }
    assert(perBatch.keySet == Set("0", "1", "2"))
    // tokenize once, write dl and tf from the cached tokens, one
    // aggregation per stats store: 7 jobs (13 and 17 with the fan-out,
    // the second tokenization and the schema inferences)
    assert(perBatch.values.forall(_ <= 7),
      s"a micro-batch launched more jobs than its stores need: $perBatch")
    val buildJobs = jobsDuring("bm25-build") {
      graft.streaming.StreamingOps.invertedStateBm25(spark, idx, terms, 10)
        .queryExecution.executedPlan
    }.count(_._1 == "bm25-build")
    assert(buildJobs == 0, s"constructing the served query launched $buildJobs jobs")
  }
}
