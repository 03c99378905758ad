package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan-inspection utility: prints the executed (post-AQE-planning) physical
  * plan for each named query. `runMain graft.tools.Explain <sfDir> <name-substrings>`.
  * Iteration aid for the scale audits — every "would this survive 100×?"
  * question starts from this dump.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pats = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq(""))
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => pats.exists(n.contains))
      .foreach { name =>
        println(s"\n===== $name =====")
        println(SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.toString)
      }
    spark.stop()
  }
}
