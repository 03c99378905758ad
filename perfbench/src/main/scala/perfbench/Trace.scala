package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBus, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener counts of a set of jobs and spans. */
final class Counts {
  var jobs = 0
  var inputJobs = 0      // jobs that read file input: one lineage pass each
  var jobS = 0.0         // job wall time, submission to end
  var tasks = 0
  var resultTasks = 0    // tasks of result stages (not shuffle map stages)
  var runS = 0.0         // executor run time summed over tasks
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L // max over tasks
  var outputBytes = 0L
  var rows = 0L          // rows at the top of each SQL execution's plan, summed
  var peakRows = 0L      // rows of the largest operator of any one execution
  var analysisS = 0.0
  var optimizationS = 0.0
  var planningS = 0.0
  var batches = 0
  var batchS = 0.0

  def +=(o: Counts): Unit = {
    jobs += o.jobs; inputJobs += o.inputJobs; jobS += o.jobS
    tasks += o.tasks; resultTasks += o.resultTasks; runS += o.runS
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    peakExecMemBytes = peakExecMemBytes.max(o.peakExecMemBytes)
    outputBytes += o.outputBytes
    rows += o.rows; peakRows = peakRows.max(o.peakRows)
    analysisS += o.analysisS; optimizationS += o.optimizationS; planningS += o.planningS
    batches += o.batches; batchS += o.batchS
  }
}

final class Span(val id: Int, val name: String, val parent: Int) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs = 0L
  var endMs = 0L
  /** Planning and streaming counts charged directly to this span. */
  val own = new Counts
  def seconds: Double = (endNs - startNs) / 1e9
  def covers(ms: Long): Boolean = startMs <= ms && (endMs == 0L || ms <= endMs)
}

/** One Spark job: the span that launched it, and the source file of the
  * engine code that launched it (`JdbcUpsert.scala`, `Validation.scala`,
  * ...), which names the program layer. */
final class Job(val id: Int, val span: Int, val site: String, val frame: String, val startMs: Long,
    val execution: Option[Long]) {
  val counts = new Counts
  var reads = false
}

/** Span recorder for the traced run, kept in memory and written with the
  * run's record. Spans open on the driver thread around calls into the
  * program. Each span id travels to Spark as a local property, so the
  * [[SparkListener]] charges every job, and the tasks of its stages, to
  * the span that launched it (threads started inside a span, such as
  * streaming executions, inherit the property). Planning phases reported
  * to the [[QueryExecutionListener]] and batches reported to the
  * [[StreamingQueryListener]] go by time to the innermost span open when
  * they started. A disabled tracer records nothing and registers nothing.
  */
class Tracer private (sc: SparkContext, val enabled: Boolean) {
  import Tracer.Key

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val resultStage = mutable.Set.empty[Int]
  private val execDetails = mutable.Map.empty[Long, String]
  private val execRows = mutable.Map.empty[Long, (Long, Long)]
  private var current = -1
  private var paused = false

  private def innermostAt(ms: Long): Span =
    spans.filter(_.covers(ms)).maxByOption(_.startNs).getOrElse(spans(0))

  /** Runs `body` without opening spans: what it launches is charged to
    * the root span, which no layer metric reads. For warm-up work. */
  def pause[T](body: => T): T = {
    val was = paused
    paused = true
    try body finally paused = was
  }

  /** Whether spans are being recorded now. */
  def active: Boolean = enabled && !paused

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = synchronized {
        val s = new Span(spans.size, name, current)
        spans += s
        current = s.id
        s
      }
      val prevProp = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        synchronized {
          s.endNs = System.nanoTime()
          s.endMs = System.currentTimeMillis()
          current = s.parent
        }
        sc.setLocalProperty(Key, prevProp)
      }
    }

  /** Registers the planning and streaming listeners, which Spark keeps
    * per session, on `session`. */
  def watch(session: SparkSession): Unit = if (enabled) {
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        Tracer.this.synchronized {
          phases.get("analysis").foreach(p => innermostAt(p.startTimeMs).own.analysisS += p.durationMs / 1e3)
          phases.get("optimization").foreach(p => innermostAt(p.startTimeMs).own.optimizationS += p.durationMs / 1e3)
          phases.get("planning").foreach(p => innermostAt(p.startTimeMs).own.planningS += p.durationMs / 1e3)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    session.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = event.progress
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        Tracer.this.synchronized {
          val c = innermostAt(at).own
          c.batches += 1
          c.batchS += p.batchDuration / 1e3
        }
      }
    })
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // jobs of a SQL execution may be submitted from Spark's own threads;
      // the execution's call stack was captured on the calling thread
      val execution = prop("spark.sql.execution.id").map(_.toLong)
      val details = execution.flatMap(execDetails.get)
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse(""))
      val job = new Job(e.jobId, prop(Key).map(_.toInt).getOrElse(0), Tracer.site(details),
        details.linesIterator.take(3).mkString(" | "), e.time, execution)
      jobs(e.jobId) = job
      job.counts.jobs = 1
      e.stageIds.foreach(st => stageJob(st) = job)
      resultStage ++= e.stageInfos.filter(PerfbenchBus.isResultStage).map(_.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { job =>
        val c = job.counts
        c.tasks += 1
        if (resultStage(e.stageId)) c.resultTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runS += m.executorRunTime / 1e3
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakExecMemBytes = c.peakExecMemBytes.max(m.peakExecutionMemory)
          c.outputBytes += m.outputMetrics.bytesWritten
          if (m.inputMetrics.bytesRead > 0) job.reads = true
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized(execDetails(x.executionId) = x.details)
      case x: SparkListenerSQLExecutionEnd =>
        PerfbenchBus.rows(x).foreach(r => Tracer.this.synchronized(execRows(x.executionId) = r))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { job =>
        job.counts.jobS = (e.time - job.startMs) / 1e3
        if (job.reads) job.counts.inputJobs = 1
      }
    }
  }

  if (enabled) {
    spans += new Span(0, "run", -1)
    current = 0
    sc.setLocalProperty(Key, "0")
    sc.addSparkListener(listener)
  }

  /** Waits for queued listener events, closes the root span and detaches. */
  def finish(): Unit = if (enabled) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    sc.setLocalProperty(Key, null)
    synchronized {
      spans(0).endNs = System.nanoTime()
      spans(0).endMs = System.currentTimeMillis()
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  private def subtree(s: Span): Set[Int] = {
    val kids = all.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(x => walk(x.id))
    walk(s.id).toSet
  }

  private def within(s: Span, ancestor: String): Boolean =
    s.parent >= 0 && (spans(s.parent).name == ancestor || within(spans(s.parent), ancestor))

  /** Seconds and counts of the spans named `name` and everything below
    * them, limited to spans below a span named `under` and to jobs whose
    * call site is in the source file `site`, when given. Row counts come
    * from the SQL executions those jobs ran. */
  def layer(name: String, site: Option[String] = None, under: Option[String] = None): (Double, Counts) = synchronized {
    val named = spans.filter(s => s.name == name && under.forall(within(s, _))).toList
    val ids = named.flatMap(subtree).toSet
    val c = new Counts
    if (site.isEmpty) spans.filter(s => ids(s.id)).foreach(s => c += s.own)
    val picked = jobs.values.filter(j => ids(j.span) && site.forall(_ == j.site)).toList
    picked.foreach(j => c += j.counts)
    picked.flatMap(_.execution).distinct.flatMap(execRows.get).foreach { case (top, peak) =>
      c.rows += top
      c.peakRows = c.peakRows.max(peak)
    }
    (named.map(_.seconds).sum, c)
  }

  def selfSeconds(s: Span): Double = synchronized {
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
  }

  /** Spans with self time and the jobs each launched, for the record. */
  def records: Seq[Map[String, Any]] = {
    val byspan = synchronized(jobs.values.toList).groupBy(_.span)
    all.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "self_s" -> selfSeconds(s),
        "analysis_s" -> s.own.analysisS, "optimization_s" -> s.own.optimizationS,
        "planning_s" -> s.own.planningS, "batches" -> s.own.batches, "batch_s" -> s.own.batchS,
        "jobs" -> byspan.getOrElse(s.id, Nil).map { j =>
          val c = j.counts
          val rows = j.execution.flatMap(execRows.get)
          Map("job" -> j.id, "execution" -> j.execution, "site" -> j.site,
            "top_rows" -> rows.map(_._1), "peak_rows" -> rows.map(_._2), "frame" -> j.frame, "seconds" -> c.jobS, "tasks" -> c.tasks,
            "run_s" -> c.runS, "input_bytes" -> c.inputBytes,
            "shuffle_read_bytes" -> c.shuffleReadBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
            "spill_bytes" -> c.spillBytes, "output_bytes" -> c.outputBytes)
        })
    }
  }
}

object Tracer {
  val Key = "perfbench.span"
  private val Frame = """^\s*(graft|perfbench)\.[^(]*\(([^:)]+)""".r.unanchored

  /** Source file of the innermost engine frame (else benchmark frame) in
    * a job's call stack, e.g. `Validation.scala`. */
  def site(callStack: String): String = {
    val frames = callStack.linesIterator.collect { case Frame(pkg, file) => (pkg, file) }.toList
    frames.find(_._1 == "graft").orElse(frames.headOption).map(_._2).getOrElse("")
  }
  def apply(sc: SparkContext, enabled: Boolean): Tracer = new Tracer(sc, enabled)
}
