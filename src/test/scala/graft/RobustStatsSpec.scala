package graft

import org.apache.spark.sql.functions._
import graft.ops.RobustStats

/** Property check of the two-pass median/MAD/outlier machinery against a
  * brute-force in-memory computation. The bucket-bracket derivation in
  * [[RobustStats.madProfile]] is driver-side interval arithmetic with
  * several off-by-one hazards (an earlier draft mis-assigned the C_min
  * exit index and silently returned a MAD one value too high at sf0.1) —
  * randomized mass shapes across widths exercise the bracket, cover, and
  * walk boundaries far harder than the three fixture groups do.
  */
class RobustStatsSpec extends SparkSpec {
  import spark.implicits._

  private def brute(us: Seq[Long]): (Long, Long, Long, Long) = {
    val n = us.size.toLong
    val target = ((n + 1) / 2).toInt
    val sorted = us.sorted
    val med = sorted(target - 1)
    val devs = us.map(u => math.abs(u - med)).sorted
    val mad = devs(target - 1)
    val out = us.count(u => 2 * math.abs(u - med) > 3 * mad).toLong
    (n, med, mad, out)
  }

  private def check(data: Map[String, Seq[Long]], widthU: Long): Unit = {
    val df = data.toSeq.flatMap { case (g, us) => us.map(g -> _) }
      .toDF("g", "u")
    val got = RobustStats.madProfile(df, "g", col("u"), widthU)
    data.foreach { case (g, us) =>
      assert(got(g) === brute(us), s"group $g width $widthU n=${us.size}")
    }
  }

  test("madProfile matches brute force on randomized mass shapes") {
    val rnd = new scala.util.Random(42)
    for (iter <- 1 to 40) {
      val w = Seq(4L, 16L, 64L)(iter % 3)
      val groups = (0 until 1 + iter % 3).map(i => s"g$i")
      val data = groups.map { g =>
        val n = 1 + rnd.nextInt(400)
        val shape = rnd.nextInt(4)
        val us = (0 until n).map { _ =>
          shape match {
            case 0 => rnd.nextInt(1000).toLong // uniform
            case 1 => (rnd.nextGaussian() * 40 + 500).toLong.max(0L) // clustered
            case 2 => // mass piled at bucket boundaries — end-bucket stress
              (rnd.nextInt(8) * w + (if (rnd.nextBoolean()) 0L else w - 1))
            case 3 => // heavy ties: few distinct values
              Seq(100L, 100L, 164L, 500L, 964L)(rnd.nextInt(5))
          }
        }
        g -> us
      }.toMap
      check(data, w)
    }
  }

  test("madProfile edge cases: tiny groups, all-equal, zero MAD") {
    check(Map("one" -> Seq(7L)), 16L)
    check(Map("two" -> Seq(3L, 9L)), 16L)
    check(Map("eq" -> Seq.fill(50)(320L)), 16L) // mad = 0, all inliers
    // > half the mass on one value (mad = 0, outliers = the far tail)
    check(Map("spike" -> (Seq.fill(60)(320L) ++ (1 to 30).map(_ * 37L))), 16L)
    // median at a bucket boundary exactly
    check(Map("bnd" -> (Seq.fill(10)(160L) ++ Seq.fill(9)(0L) ++ Seq.fill(9)(319L))), 16L)
  }

  test("rankValues' lower median agrees with madProfile's median") {
    val rnd = new scala.util.Random(7)
    val us = (0 until 301).map(_ => rnd.nextInt(5000).toLong)
    val df = us.map("g" -> _).toDF("g", "u")
    val m = RobustStats.rankValues(df, "g", col("u"), 16L, n => Seq((n + 1) / 2))("g")
    assert(m === Seq(brute(us)._2))
    assert(RobustStats.madProfile(df, "g", col("u"), 16L)("g")._2 === m.head)
  }

  test("rankValues and madProfile edge inputs: empty frame and NULL values") {
    val empty = Seq.empty[(String, Long)].toDF("g", "u")
    assert(RobustStats.rankValues(empty, "g", col("u"), 16L, n => Seq((n + 1) / 2))
      === Map.empty)
    assert(RobustStats.madProfile(empty, "g", col("u"), 16L) === Map.empty)
    val withNull = Seq[(String, java.lang.Long)](
      ("a", 1L), ("a", null), ("a", 3L)).toDF("g", "u")
    val e1 = intercept[IllegalArgumentException] {
      RobustStats.rankValues(withNull, "g", col("u"), 16L, n => Seq((n + 1) / 2))
    }
    assert(e1.getMessage.contains("group 'a' has NULL values"))
    val e2 = intercept[IllegalArgumentException] {
      RobustStats.madProfile(withNull, "g", col("u"), 16L)
    }
    assert(e2.getMessage.contains("group 'a' has NULL values"))
  }

  test("rankValuesMulti equals per-metric rankValues (fused 2-job form)") {
    val rnd = new scala.util.Random(19)
    // three metrics of one frame with very different ranges and widths —
    // the q_rfm_segments shape (recency/frequency/monetary), including
    // negative values to exercise the floorDiv in-bucket filter
    val rows = (0 until 500).map { _ =>
      (rnd.nextInt(400).toLong - 50L,
        (1 + rnd.nextInt(12)).toLong,
        rnd.nextInt(2000000).toLong)
    }
    val df = rows.toDF("r", "f", "mu")
    val ranksOf: Long => Seq[Long] =
      n => (1 to 3).map(i => math.max(1L, i * n / 4))
    val fused = RobustStats.rankValuesMulti(df,
      Seq(("r", col("r"), 32L), ("f", col("f"), 4L), ("mu", col("mu"), 160000L)),
      ranksOf)
    def single(name: String, u: org.apache.spark.sql.Column, w: Long) =
      RobustStats.rankValues(
        df.select(lit("all").as("g"), u.as("u")), "g", col("u"), w, ranksOf)("all")
    assert(fused("r") === single("r", col("r"), 32L))
    assert(fused("f") === single("f", col("f"), 4L))
    assert(fused("mu") === single("mu", col("mu"), 160000L))
    // and against brute-force sorted picks
    def bruteQ(us: Seq[Long]): Seq[Long] = {
      val s = us.sorted; ranksOf(us.size.toLong).map(t => s((t - 1).toInt))
    }
    assert(fused("r") === bruteQ(rows.map(_._1)))
    assert(fused("f") === bruteQ(rows.map(_._2)))
    assert(fused("mu") === bruteQ(rows.map(_._3)))
  }

  test("rankValuesMulti edge inputs: empty frame and NULL metric values") {
    val ranksOf: Long => Seq[Long] = n => Seq(math.max(1L, n / 2))
    // empty input → each metric mapped to an empty value list, no throw
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val got = RobustStats.rankValuesMulti(empty,
      Seq(("a", col("a"), 8L), ("b", col("b"), 8L)), ranksOf)
    assert(got === Map("a" -> Seq.empty[Long], "b" -> Seq.empty[Long]))
    // NULL metric values → clear precondition message, not a deep NPE
    val withNull = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (null, 20L), (3L, 30L)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      RobustStats.rankValuesMulti(withNull,
        Seq(("a", col("a"), 8L), ("b", col("b"), 8L)), ranksOf)
    }
    assert(e.getMessage.contains("NULL values"))
  }
}
