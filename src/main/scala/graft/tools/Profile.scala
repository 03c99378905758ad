package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.graftbridge.Bridge

import graft.{GraftSession, SparkEntry}
import graft.ops.SessionCache

/** Where a registered query's time goes, one TSV row per query:
  *   - first_s   first touch in this JVM (construct + `count()`), cold;
  *   - memo_s    SessionCache build seconds charged to that touch — a memo
  *               shared by several queries is charged to the first of them
  *               in name order, as in a cold bench pass;
  *   - build_s   median warm construction, up to `executedPlan`;
  *   - exec_s    median warm `count()` of the last constructed frame;
  *   - first_jobs  jobs launched during the first touch;
  *   - build_jobs  jobs launched during the median warm construction —
  *               the jobs construction itself launches (zero is the goal);
  *   - in_bytes, shuffle_read_bytes, tasks   of the last warm `count()`;
  *   - exchange, smj, bhj, bnlj   node counts in that count's final plan.
  * Then the suite sums and the Catalyst per-rule times of the warm
  * constructions. RuleExecutor metering is process-wide, so the three
  * phases (first touches, warm constructions, warm counts) run one after
  * the other over the whole selection.
  * `runMain graft.tools.Profile <sfDir> <name-substrings|all> [reps]`.
  */
object Profile extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pats = args(1).split(",").toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.builder().getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    // input bytes, shuffle-read bytes, tasks; and jobs started
    val io = Seq.fill(3)(new LongAdder)
    val jobs = new LongAdder
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.increment()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          io(0).add(m.inputMetrics.bytesRead)
          io(1).add(m.shuffleReadMetrics.totalBytesRead)
          io(2).add(1)
        }
    })
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    // the jobs `f` launched, as a double for the row
    def counted[T](f: => T): (T, Double) = {
      Bridge.drainListeners(sc); jobs.reset()
      val r = f
      Bridge.drainListeners(sc); (r, jobs.sum.toDouble)
    }
    def attempt[T](name: String, phase: String)(f: => T): Option[T] =
      try Some(f) catch { case e: Throwable =>
        println(s"$name\tFAILED ($phase)\t${e.getMessage}"); None }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args(1) == "all" || pats.exists(n.contains))
    // JVM and codegen start-up, so the first query's touch is not charged for it
    spark.range(0, 1000000).selectExpr("sum(id)").collect()

    def memoTotal = SessionCache.buildSeconds.values.sum
    val first = names.flatMap { name =>
      val m0 = memoTotal
      attempt(name, "first touch") {
        val ((_, s), n) = counted(timed(SparkEntry.queries(name)(spark, sfDir).count()))
        (name, Seq(s, memoTotal - m0), n)
      }
    }

    RuleExecutor.resetMetrics()
    val built = first.flatMap { case (name, cold, firstJobs) =>
      attempt(name, "warm construction") {
        val runs = (1 to reps).map(_ => counted(timed {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.executedPlan
          df
        }))
        (name, cold :+ med(runs.map(_._1._2)),
          Seq(firstJobs, med(runs.map(_._2))), runs.last._1._1)
      }
    }
    val rules = RuleExecutor.dumpTimeSpent()

    println("name\tfirst_s\tmemo_s\tbuild_s\texec_s\tfirst_jobs\tbuild_jobs\tin_bytes" +
      "\tshuffle_read_bytes\ttasks\texchange\tsmj\tbhj\tbnlj")
    def show(name: String, row: Seq[Double]): Unit = println((name +: row.zipWithIndex.map {
      case (v, i) => if (i < 4) f"$v%.3f" else v.toLong.toString
    }).mkString("\t"))
    val rows = built.flatMap { case (name, times, jobCounts, df) =>
      attempt(name, "warm count") {
        val execs = (1 to reps).map { i =>
          if (i == reps) { Bridge.drainListeners(sc); io.foreach(_.reset()) }
          val counted = df.groupBy().count()
          (counted, timed(counted.collect())._2)
        }
        Bridge.drainListeners(sc)
        val plan = execs.last._1.queryExecution.executedPlan
        val shape = collectWithSubqueries(plan) {
          case _: Exchange => 0
          case _: SortMergeJoinExec => 1
          case _: BroadcastHashJoinExec => 2
          case _: BroadcastNestedLoopJoinExec => 3
        }
        val row = (times :+ med(execs.map(_._2))) ++ jobCounts ++ io.map(_.sum.toDouble) ++
          (0 until 4).map(k => shape.count(_ == k).toDouble)
        show(name, row)
        row
      }
    }
    if (rows.nonEmpty) show(s"TOTAL(${rows.size}/${names.size})", rows.transpose.map(_.sum))
    println(rules)
    spark.stop()
  }
}
