package graft.tools

import graft.{GraftSession, SparkEntry}

/** In-JVM A/B timing of a SESSION CONF change (interleaved ABAB so box
  * drift cancels): runs each named query `reps` times with the conf at
  * its baseline value (A) and at the candidate value (B), alternating,
  * on top of the shipped GraftSession config, and prints per-query medians plus the A/B
  * total. Timing covers CONSTRUCTION + count — the bench's exact timed
  * region — because planner confs (constraint propagation, CBO) spend
  * their time at construction.
  *
  * `runMain graft.tools.ConfAb <sfDir> <name-substrings|all> <confKey> <valA> <valB> [reps]`
  * Not part of the shipped library surface.
  */
object ConfAb {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pats = args(1).split(",").toSeq
    val confKey = args(2)
    val valA = args(3)
    val valB = args(4)
    val reps = args.lift(5).map(_.toInt).getOrElse(3)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args(1) == "all" || pats.exists(n.contains))
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    var sumA = 0.0; var sumB = 0.0
    try names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // untimed warmup both ways (memo builds, JIT); failure skips timing
      val warmOk = Seq(valA, valB).forall { v =>
        spark.conf.set(confKey, v)
        try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
          println(s"CONFAB $name FAILED (warmup @$v): ${e.getMessage}"); false }
      }
      if (warmOk) {
        val a = collection.mutable.ArrayBuffer.empty[Double]
        val b = collection.mutable.ArrayBuffer.empty[Double]
        var ok = true
        (1 to reps).foreach { _ =>
          Seq((valA, a), (valB, b)).foreach { case (v, acc) =>
            spark.conf.set(confKey, v)
            val t0 = System.nanoTime()
            try fn(spark, sfDir).count() catch { case e: Throwable =>
              if (ok) println(s"CONFAB $name FAILED (timed @$v): ${e.getMessage}")
              ok = false }
            acc += (System.nanoTime() - t0) / 1e9
          }
        }
        if (ok) {
          val (ma, mb) = (med(a.toSeq), med(b.toSeq))
          sumA += ma; sumB += mb
          println(f"CONFAB $name%-30s A($valA)=$ma%6.3f B($valB)=$mb%6.3f  B/A=${mb / ma}%5.2f")
        }
      }
    } finally spark.conf.set(confKey, valA)
    println(f"CONFAB TOTAL A=$sumA%.2f B=$sumB%.2f B/A=${sumB / sumA}%.3f ($confKey $valA -> $valB)")
    spark.stop()
  }
}
