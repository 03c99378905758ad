package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.ops.SessionCache

/** `operator_mix`: registered queries over generated harness tables.
  * Each iteration opens a fresh session on the running context and makes
  * a cold pass over the list, which builds the session's memos and
  * streaming indexes, then a warm pass, which reuses them. A run of a
  * query constructs it and collects its result. A warm-up cold pass
  * first pays the JVM's JIT and code generation: it is checked and
  * counted, but its times are not samples and a traced run does not trace
  * it. [[Main.samples]] sampled iterations follow.
  *
  * The warm-up's outputs are checked against each query's DuckDB oracle
  * by `perfbench/mixcheck.py`; every later output must have the same
  * digest.
  */
final class OperatorMix(ctx: Ctx) extends Workload {
  /** Memo and streaming operators: the streamed BM25 index, the trained
    * IVF cells and the exact-dedup memo. */
  val MemoQueries: Seq[String] = Seq("q_bm25_stream", "q_ivf_kmeans_assign", "q_dedup_exact_docs")
  /** Memo-free relational queries, LOCF among them. */
  val PlainQueries: Seq[String] = Seq("f1_locf_events", "q1_agg", "q_asof_join", "q_window_running")
  /** Seconds a sampled iteration takes on a 4-vCPU box. */
  val IterationS = 14.0
  private val spark = ctx.spark
  private def dataDir(rep: Int) = ctx.work.resolve(s"mix/rep$rep")
  private val dir = dataDir(0).toString
  /** A fixed order: a seeded one moved the first query's JIT cost from
    * query to query. */
  private val order = MemoQueries ++ PlainQueries
  private val digests = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passSeconds = mutable.ArrayBuffer.empty[Map[String, Map[String, Double]]]
  private var memoBuildS = 0.0
  private var memoBuilds = 0
  private var cachedBytes = 0L

  def setup(rep: Int): Unit = {
    val gen = spark.newSession()
    MixGen.write(gen, dataDir(rep), ctx.seed)
  }

  private def storedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Runs `name` once as a timed operation, construct then collect, and
    * returns its seconds with the output's digest: columns in name order,
    * values in the canonical text `mixcheck.py` also computes. */
  private def runQuery(session: SparkSession, rec: Recorder, tr: Tracer, name: String): Option[(Double, Map[String, Any])] = {
    var df: DataFrame = null
    var rows: Array[Row] = null
    rec.op(name) {
      df = tr.span("query.construct")(SparkEntry.queries(name)(session, dir))
      rows = tr.span("exec")(df.collect())
    }.map { t =>
      val cols = df.columns.toSeq
      val byName = cols.indices.sortBy(cols(_))
      t -> Map("columns" -> byName.map(cols(_)), "rows" -> rows.length.toLong,
        "digest" -> Digest.of(rows.iterator.map(r => byName.map(i => Digest.canon(r.get(i))).mkString("\u001f"))))
    }
  }

  /** One pass over the list in `session`, in a span named `name`.
    * Returns its seconds and output rows, and the seconds of each query. */
  private def pass(session: SparkSession, rec: Recorder, tr: Tracer, name: String,
      first: Boolean): (Double, Long, Map[String, Double]) = {
    var total = 0.0
    var rows = 0L
    val each = mutable.LinkedHashMap.empty[String, Double]
    tr.span(name) {
      order.foreach { q =>
        val built0 = SessionCache.buildSeconds
        val out = runQuery(session, rec, tr, q)
        if (name == "cold" && tr.active) {
          val built = SessionCache.buildSeconds
          memoBuilds += built.count { case (k, v) => built0.get(k).forall(_ < v) }
          memoBuildS += built.values.sum - built0.values.sum
        }
        out.filter { case (_, d) =>
          if (first) { digests(q) = d; checks += Map("query" -> q, "oracle" -> SparkEntry.oracleSql.get(q)) ++ d; true }
          else rec.expect(s"$q $name output", digests.get(q), Some(d))
        }.foreach { case (t, d) =>
          total += t
          rows += d("rows").asInstanceOf[Long]
          each(q) = t
        }
      }
    }
    (total, rows, each.toMap)
  }

  private def freshSession(tr: Tracer): SparkSession = {
    val s = spark.newSession()
    tr.watch(s)
    s
  }

  def measure(seconds: Double, rec: Recorder, tr: Tracer): Unit = {
    (1 until Main.SetupReps).foreach(r => Land.deleteTree(dataDir(r)))
    tr.pause(passSeconds += Map("cold" -> pass(freshSession(tr), rec, tr, "cold", first = true)._3))
    (1 to Main.samples(seconds, IterationS, 2)).foreach { _ =>
      val session = freshSession(tr)
      val bytes0 = storedBytes()
      val (coldS, _, coldEach) = pass(session, rec, tr, "cold", first = false)
      if (tr.active) cachedBytes += storedBytes() - bytes0
      val (warmS, warmRows, warmEach) = pass(session, rec, tr, "warm", first = false)
      passSeconds += Map("cold" -> coldEach, "warm" -> warmEach)
      rec.cold += coldS
      rec.warm += warmS
      warmEach.foreach { case (q, t) => rec.sample(q, t) }
      rec.rows = warmRows
      rec.iterations += 1
    }
    rec.rowsPerWarm = true
    rec.facts ++= Seq("order" -> order, "query_s" -> passSeconds.toSeq, "checks" -> checks.toSeq)
  }

  override def execScope: String = "warm"

  /** Per sampled iteration: construction of the warm queries, and the
    * memo and streaming work of the cold pass. */
  def layers(tr: Tracer, rec: Recorder): Map[String, Double] = {
    val n = rec.iterations.max(1).toDouble
    val (constructS, construct) = tr.layer("query.construct", under = Some("warm"))
    val (_, cold) = tr.layer("cold")
    Map(
      "query.construct_pct" -> rec.pct(constructS),
      "query.construct_jobs" -> construct.jobs / n,
      "memo.build_pct" -> rec.pct(memoBuildS),
      "memo.builds" -> memoBuilds / n,
      "memo.cached_bytes" -> cachedBytes / n,
      "streaming.batches" -> cold.batches / n,
      "streaming.batch_pct" -> rec.pct(cold.batchS))
  }
}
