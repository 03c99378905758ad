package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one workload run shares with its workload. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long)

/** Outcomes of one measured phase. An operation is one pipeline run, one
  * `refreshMonths` call or one query; it fails if it throws or if its
  * output is wrong. Samples are the times of the sampled iterations: the
  * workload's cold and warm phases, and its single operations by kind. */
final class Recorder(tr: Tracer) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val cold = mutable.ArrayBuffer.empty[Double]
  val warm = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var iterations = 0
  /** Rows one warm phase (`operator_mix`) or one cold phase
    * (`pricenow_etl`) delivers; `rows_per_s` divides them by that phase's
    * fastest sample. */
  var rows = 0L
  var rowsPerWarm = false
  val facts = mutable.LinkedHashMap.empty[String, Any]

  /** `secs` as a percent of the traced run's sampled operation seconds:
    * how per-layer busy time is reported, so that a layer a workload never
    * calls reads 0. */
  def pct(secs: Double): Double = {
    val base = tr.layer("op")._1
    if (base > 0) 100.0 * secs / base else 0.0
  }

  /** CPU seconds of every JVM thread per operation, by operation name: a
    * diagnosis next to the wall times when the box is contended. */
  val cpu = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Runs one operation in an `op` span and returns its seconds, or None
    * if it threw. */
  def op(what: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val c0 = Main.processCpuS()
    try {
      tr.span("op")(body)
      cpu.getOrElseUpdate(what, mutable.ArrayBuffer.empty) += Main.processCpuS() - c0
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Exception => fail(what, s"threw $e"); None }
  }

  /** Marks an operation that ran as wrong. */
  def fail(what: String, detail: String): Unit = {
    failed += 1
    failures += s"$what: $detail"
    System.err.println(s"[perfbench] FAILED $what: $detail")
  }

  def expect(what: String, expected: Any, got: Any): Boolean =
    if (expected == got) true else { fail(what, s"expected $expected, got $got"); false }

  def sample(kind: String, seconds: Double): Unit =
    ops.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  /** The end-to-end timings. Each is the fastest sample of its run: other
    * guests' load on the host can slow a sample but never speed it up. */
  def coldS: Double = Stats.min(cold.toSeq)
  def warmS: Double = Stats.min(warm.toSeq)
  /** Geometric mean over operation kinds of each kind's fastest sample. */
  def opS: Double =
    if (ops.isEmpty) 0.0 else math.exp(ops.values.map(v => math.log(Stats.min(v.toSeq))).sum / ops.size)
  def rowsPerS: Double = {
    val t = if (rowsPerWarm) warmS else coldS
    if (t > 0) rows / t else 0.0
  }
}

trait Workload {
  /** One timed set-up: make the inputs from the seed, land them and run
    * the DDL. Repetition 0 leaves the inputs the measured phase uses. */
  def setup(rep: Int): Unit
  def measure(seconds: Double, rec: Recorder, tr: Tracer): Unit
  /** Workload-specific per-layer metrics of a traced run, over its
    * sampled iterations. */
  def layers(tr: Tracer, rec: Recorder): Map[String, Double]
  /** Spans whose execution and planning counts are the `exec.*` and
    * `plan.*` metrics, once per sampled iteration. */
  def execScope: String = "op"
}

/** Benchmark JVM: boots a session, times the workload's set-up three
  * times, runs its measured phase and writes one JSON record. Started by
  * `perfbench/run.py`, which prints the result line.
  *
  * Arguments: --workload, --seed, --seconds, --trace 0|1, --work DIR,
  * --out FILE, --t0-ms (epoch ms at which the launcher started the JVM).
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); Runtime.getRuntime.halt(1) }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors.min(4)
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - opts("t0-ms").toLong) / 1e3
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    val bootS = (System.currentTimeMillis() - opts("t0-ms").toLong) / 1e3

    val ctx = Ctx(spark, work, opts("seed").toLong)
    val workload: Workload = opts("workload") match {
      case "pricenow_etl" => new PricenowEtl(ctx)
      case "operator_mix" => new OperatorMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = (0 until SetupReps).map(rep => timed(workload.setup(rep)))

    val tr = Tracer(spark.sparkContext, trace)
    val rec = new Recorder(tr)
    tr.watch(spark)
    val measureS = timed(workload.measure(opts("seconds").toDouble, rec, tr))
    tr.finish()
    val calibration = new Calibration(spark, work.resolve("calibration")).run()

    val e2e = Map(
      "setup_s" -> (bootS + Stats.median(setups)),
      "cold_s" -> rec.coldS,
      "warm_s" -> rec.warmS,
      "op_s" -> rec.opS,
      "rows_per_s" -> rec.rowsPerS,
      "peak_rss_mb" -> peakRssMb())
    val layers = if (trace) commonLayers(tr, rec, workload.execScope) ++ workload.layers(tr, rec) else Map.empty
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> opts("workload"), "seed" -> ctx.seed, "seconds" -> opts("seconds").toDouble,
      "trace" -> trace, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures.toSeq, "end_to_end" -> e2e, "per_layer" -> layers,
      "boot_s" -> bootS, "boot_session_s" -> sessionS, "setup_reps_s" -> setups, "cold_samples_s" -> rec.cold.toSeq,
      "warm_samples_s" -> rec.warm.toSeq, "op_samples_s" -> rec.ops.toMap,
      "medians" -> Map("cold_s" -> Stats.median(rec.cold.toSeq), "warm_s" -> Stats.median(rec.warm.toSeq)),
      "iterations" -> rec.iterations, "measure_s" -> measureS,
      "calibration" -> calibration,
      "env" -> Map("nproc" -> Runtime.getRuntime.availableProcessors, "spark_cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "java" -> System.getProperty("java.runtime.version"), "spark" -> spark.version),
      "facts" -> rec.facts.toMap, "op_cpu_s" -> rec.cpu.toMap,
      "spans" -> (if (trace) tr.records else Nil))
    Files.writeString(Paths.get(opts("out")),
      JsonMapper.builder().addModule(DefaultScalaModule).build().writeValueAsString(record))
    // the launcher deletes the work directory; an orderly Spark shutdown
    // would only add seconds to every run
    Runtime.getRuntime.halt(0)
  }

  /** The engine's shipped session settings (as in `graft.Bench`), with
    * every scratch path inside the benchmark's work directory. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Sampled iterations of a measured phase of `seconds`, for iterations
    * of about `iterationS` each: a fixed number for a given `--seconds`,
    * so every run does the same work, and at least `min`. */
  def samples(seconds: Double, iterationS: Double, min: Int): Int =
    math.ceil(seconds / iterationS).toInt.max(min)

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** VmHWM: the JVM's peak resident set, in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Per-layer metrics every workload reports from its traced run: the
    * seconds of the workload's `execScope` spans and their execution and
    * planning counts, per iteration. */
  private def commonLayers(tr: Tracer, rec: Recorder, scope: String): Map[String, Double] = {
    val n = rec.iterations.max(1).toDouble
    val (scopeS, all) = tr.layer(scope)
    Map(
      "ops.s" -> scopeS / n,
      "exec.s" -> all.runS / n,
      "exec.tasks" -> all.tasks / n,
      "exec.input_bytes" -> all.inputBytes / n,
      "exec.shuffle_read_bytes" -> all.shuffleReadBytes / n,
      "exec.shuffle_write_bytes" -> all.shuffleWriteBytes / n,
      "exec.spill_bytes" -> all.spillBytes / n,
      "exec.peak_exec_mem_bytes" -> all.peakExecMemBytes.toDouble,
      "plan.analysis_s" -> all.analysisS / n,
      "plan.optimization_s" -> all.optimizationS / n,
      "plan.planning_s" -> all.planningS / n)
  }
}

/** The drift controls of `graft.Bench`: a pure-CPU range sum and a fixed
  * parquet scan, timed after the measured phase so a slow run can be told
  * apart from a slow box. Diagnosis only. */
final class Calibration(spark: SparkSession, dir: Path) {
  spark.range(0, 200000).selectExpr("id", "id % 1000 as k", "cast(id as double) * 1.5 as v")
    .coalesce(1).write.mode("overwrite").parquet(dir.toString)

  def run(): Map[String, Double] = {
    val range = Main.timed(spark.range(0, 20000000L).selectExpr("sum(id)").collect())
    val scan = Main.timed(spark.read.parquet(dir.toString)
      .selectExpr("sum(v)", "count(distinct k)").collect())
    Map("range_sum_s" -> range, "parquet_scan_s" -> scan)
  }
}

object Stats {
  /** 0 for no samples, as is [[min]]. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def min(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.min
}
