package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Scheduler and SQL details Spark keeps package-private, for the traced
  * run. */
object PerfbenchBus {
  /** Waits until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage produces a job's result rather than shuffle output. */
  def isResultStage(s: StageInfo): Boolean = s.shuffleDepId.isEmpty

  /** Rows the execution's plan produced at its top (the first operator
    * counting output rows below the root, which only passes rows on) and
    * at its largest operator, from the plan's SQL metrics once it ended. */
  def rows(e: SparkListenerSQLExecutionEnd): Option[(Long, Long)] =
    Option(e.qe).map { qe =>
      val plan = qe.executedPlan
      (top(plan).getOrElse(0L), nodes(plan).flatMap(outRows).maxOption.getOrElse(0L))
    }

  private def outRows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  private def top(p: SparkPlan): Option[Long] = p match {
    case a: AdaptiveSparkPlanExec => top(a.executedPlan)
    case q: QueryStageExec => top(q.plan)
    case u: UnionExec => Some(u.children.flatMap(top).sum)
    case _ => outRows(p).orElse(p.children.headOption.flatMap(top))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }
}
