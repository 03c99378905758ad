package graft

import org.apache.spark.sql.functions._
import graft.ops.Mixing

/** Property check of the sort-free quota sampler against brute-force
  * per-group sort-and-take. The tie path (quota threshold falling inside
  * a run of equal hashes) is exercised hard by a deliberately COARSE hash
  * (mod 7), which also degenerates the bucket histogram into a single
  * bucket — the worst case for the rank search.
  */
class MixingSpec extends SparkSpec {
  import spark.implicits._

  private def brute(rows: Seq[(String, Long, Long)], quotas: Map[String, Long])
      : Set[(String, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.sortBy(r => (r._3, r._2)).take(quotas.getOrElse(g, 0L).toInt)
        .map(r => (g, r._2))
    }.toSet

  private def run(rows: Seq[(String, Long, Long)], quotas: Map[String, Long])
      : Set[(String, Long)] = {
    val df = rows.toDF("g", "id", "h")
    Mixing.quotaSample(df, "g", col("h"), col("id"), quotas)
      .select("g", "id").as[(String, Long)].collect().toSet
  }

  test("quotaSample matches brute force across random sizes, quotas, tie densities") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 25) {
      val nGroups = 1 + rnd.nextInt(4)
      val rows = (0 until nGroups).flatMap { gi =>
        val n = 1 + rnd.nextInt(300)
        val coarse = rnd.nextBoolean() // tie-heavy vs spread hashes
        (0 until n).map { i =>
          val id = gi * 100000L + i
          val h = if (coarse) (rnd.nextInt(7).toLong * 599479) // 7 distinct values
                  else rnd.nextLong().abs % (1L << 32)
          (s"g$gi", id, h)
        }
      }
      val quotas = (0 until nGroups).map { gi =>
        s"g$gi" -> rnd.nextInt(350).toLong
      }.toMap
      assert(run(rows, quotas) === brute(rows, quotas))
    }
  }

  test("quotaSample edges: zero quota, quota = n, quota > n, missing group") {
    val rows = (0 until 50).map(i => ("a", i.toLong, (i * 37 % 13).toLong)) ++
      (0 until 20).map(i => ("b", 1000L + i, 5L)) // all-tied group
    assert(run(rows, Map("a" -> 0L, "b" -> 7L)) ===
      brute(rows, Map("a" -> 0L, "b" -> 7L)))
    assert(run(rows, Map("a" -> 50L, "b" -> 20L)).size === 70)
    assert(run(rows, Map("a" -> 99L)) === brute(rows, Map("a" -> 99L)))
  }

  test("rebalanceEqual caps every group at the equal budget share") {
    val rows = (0 until 218).map(i => ("en", i.toLong)) ++
      (0 until 30).map(i => ("fr", 1000L + i)) ++
      (0 until 70).map(i => ("de", 2000L + i))
    val df = rows.toDF("g", "id")
    val out = Mixing.rebalanceEqual(df, "g",
        pmod(col("id") * 2654435761L, lit(1L << 32)), col("id"), 1, 2)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    // budget = 318/2 = 159, per-group 159/3 = 53; fr capped at 30
    assert(out === Map("en" -> 53L, "fr" -> 30L, "de" -> 53L))
  }

  test("rebalanceEqual and rebalanceTemperature on an empty frame sample nothing") {
    val df = Seq.empty[(String, Long)].toDF("g", "id")
    val h = pmod(col("id") * 2654435761L, lit(1L << 32))
    assert(Mixing.rebalanceEqual(df, "g", h, col("id"), 1, 2).count() === 0L)
    assert(Mixing.rebalanceTemperature(df, "g", h, col("id"), 1, 2).count() === 0L)
  }
}
