package graft

import java.time.LocalDate
import graft.ops.ForwardFill
import org.apache.spark.sql.functions._

/** Property-style invariants for the F1 centerpiece (SURVEY.md §5), driven
  * by seeded random change sets (deterministic, 15 seeds × 12 changes) and
  * by hand-built edge sets (several points before the start, many same-day
  * ties, points on the start and end days, a one-day grid):
  *   1. LOCF output matches an independent in-memory reference model
  *      (latest change <= day, last-in-ingest-order on equal days);
  *   2. interpolated output matches its own in-memory model: (t0, v0) is
  *      the last point <= d, (t1, v1) the first point after d in
  *      (day, ord) order, flat after the last point;
  *   3. output is dense per id: contiguous days ending at the grid end;
  *   4. ids with no usable change emit nothing (covered by the models);
  *   5. nulls and post-end changes never surface.
  */
class ForwardFillPropertySpec extends SparkSpec {
  import spark.implicits._

  /** (id, day, value, ord); a null ord sorts first among same-day ties. */
  private type Change = (Int, Option[LocalDate], Option[Int], Option[Int])

  private val Start = LocalDate.parse("2025-12-13")
  private val End = LocalDate.parse("2025-12-22") // 10-day grid

  private def random(seed: Int): Seq[Change] = {
    val rnd = new scala.util.Random(seed)
    (0 until 12).map { ord =>
      val id = 1 + rnd.nextInt(4)
      val day = if (rnd.nextInt(10) == 0) None
        else Some(Start.plusDays(rnd.nextInt(18) - 5)) // pre-start..post-end
      val value = if (rnd.nextInt(10) == 0) None else Some(1 + rnd.nextInt(999))
      (id, day, value, Some(ord))
    }
  }

  private def pt(id: Int, day: LocalDate, value: Int, ord: Int): Change =
    (id, Some(day), Some(value), Some(ord))

  /** (label, changes, start, end) */
  private val edgeSets: Seq[(String, Seq[Change], LocalDate, LocalDate)] = Seq(
    ("several points before start", Seq(
      pt(1, Start.minusDays(9), 10, 1), pt(1, Start.minusDays(5), 20, 2),
      pt(1, Start.minusDays(1), 30, 3), pt(1, Start.plusDays(4), 40, 4),
      pt(2, Start.minusDays(7), 50, 5), pt(2, Start.minusDays(2), 60, 6),
      pt(3, Start.minusDays(3), 70, 7), pt(3, Start, 80, 8)), Start, End),
    ("many same-day ties", Seq(
      pt(1, Start.plusDays(2), 11, 6), pt(1, Start.plusDays(2), 12, 2),
      pt(1, Start.plusDays(2), 13, 9), pt(1, Start.plusDays(2), 14, 4),
      pt(1, Start.plusDays(5), 15, 1), pt(1, Start.plusDays(5), 16, 8),
      (1, Some(Start.plusDays(5)), Some(17), None),
      pt(2, Start.minusDays(2), 21, 3), pt(2, Start.minusDays(2), 22, 1),
      pt(2, Start, 23, 7), pt(2, Start, 24, 5), pt(2, Start, 25, 2),
      pt(2, End, 26, 2), pt(2, End, 27, 1)), Start, End),
    ("points on start and end", Seq(
      pt(1, Start, 100, 1), pt(1, End, 200, 2),
      pt(2, End, 300, 3), pt(2, End.plusDays(1), 400, 4),
      pt(3, Start, 500, 5)), Start, End),
    ("one-day grid", Seq(
      pt(1, Start.minusDays(3), 1, 1), pt(1, Start, 2, 2), pt(1, Start, 3, 3),
      pt(1, Start.plusDays(1), 4, 4),
      pt(2, Start.minusDays(1), 5, 5), pt(2, Start.plusDays(2), 6, 6),
      pt(3, Start.plusDays(1), 7, 7),
      pt(4, Start, 8, 8)), Start, Start))

  private val cases: Seq[(String, Seq[Change], LocalDate, LocalDate)] =
    (1 to 15).map(seed => (s"seed=$seed", random(seed), Start, End)) ++ edgeSets

  private def grid(start: LocalDate, end: LocalDate): Seq[LocalDate] =
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).toSeq

  /** Usable points per id in (day, ord) order, nulls first (mirrors
    * scripts/pricenow_etl.py:200-240: null day/value dropped, post-end dropped). */
  private def usable(changes: Seq[Change], end: LocalDate): Map[Int, Seq[(LocalDate, Int)]] =
    changes.collect {
      case (id, Some(d), Some(v), ord) if !d.isAfter(end) => (id, d, v, ord)
    }.groupBy(_._1).map { case (id, chs) =>
      id -> chs.sortBy(c => (c._2.toEpochDay, c._4.getOrElse(Int.MinValue)))
        .map(c => (c._2, c._3))
    }

  private def toDf(changes: Seq[Change]) =
    changes.map { case (id, d, v, ord) => (id, d.map(_.toString), v, ord) }
      .toDF("id", "day_s", "value", "ord")
      .withColumn("day", to_date(col("day_s"))).drop("day_s")

  private def checkLocf(label: String, changes: Seq[Change], start: LocalDate, end: LocalDate): Unit = {
    val got = ForwardFill.dailyGrid(toDf(changes), "id", "day", "value",
        tieBreak = Seq("ord"), start = start.toString, end = end.toString)
      .as[(Int, java.sql.Date, Int)].collect()
      .map { case (id, d, v) => (id, d.toLocalDate, v) }

    val expected = usable(changes, end).flatMap { case (id, pts) =>
      grid(start, end).flatMap { day =>
        pts.filter(!_._1.isAfter(day)).lastOption.map(p => (id, day, p._2))
      }
    }.toSet
    assert(got.length == expected.size, s"$label: duplicate grid rows")
    assert(got.toSet == expected, label)

    got.groupBy(_._1).foreach { case (id, rows) =>
      val days = rows.map(_._2).sortBy(_.toEpochDay)
      assert(days.last == end, s"$label id=$id not extending to end")
      days.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(1) == w(0).plusDays(1), s"$label id=$id gap")
      }
    }
  }

  test("forward-fill invariants hold for seeded random change sets") {
    (1 to 15).foreach(seed => checkLocf(s"seed=$seed", random(seed), Start, End))
  }

  test("forward-fill invariants hold on edge sets: pre-start points, ties, start/end points, one-day grid") {
    edgeSets.foreach { case (label, changes, start, end) => checkLocf(label, changes, start, end) }
  }

  test("interpolation matches its reference model on seeded random and edge change sets") {
    for ((label, changes, start, end) <- cases) {
      val got = ForwardFill.interpolatedGrid(toDf(changes), "id", "day", "value",
          tieBreak = Seq("ord"), start = start.toString, end = end.toString)
        .as[(Int, java.sql.Date, Double)].collect()
        .map { case (id, d, v) => (id, d.toLocalDate, v) }

      val expected = usable(changes, end).flatMap { case (id, pts) =>
        grid(start, end).flatMap { day =>
          pts.filter(!_._1.isAfter(day)).lastOption.map { case (t0, v0i) =>
            val v0 = v0i.toDouble
            val value = pts.find(_._1.isAfter(day)) match {
              case None => v0
              case Some((t1, v1)) =>
                val days = (a: LocalDate, b: LocalDate) => (a.toEpochDay - b.toEpochDay).toDouble
                v0 + (v1 - v0) * (days(day, t0) / days(t1, t0))
            }
            (id, day, value)
          }
        }
      }.toSet
      assert(got.length == expected.size, s"$label: duplicate grid rows")
      assert(got.toSet == expected, label)
    }
  }
}
