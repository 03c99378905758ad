package perfbench

import java.time.LocalDate

/** One expected dense price row. `active` is None when the product's
  * duration does not parse. */
final case class PriceRow(productId: Long, day: Int, price: Int, active: Option[Boolean]) {
  def canonical: String =
    s"$productId|${LocalDate.ofEpochDay(day.toLong)}|$price|${active.map(_.toString).getOrElse("null")}"
}

/** Plain-Scala statement of what the pipeline must produce, written from
  * the reference's rules and independent of the engine:
  *
  *  - the catalog keeps definitions that have an id and are not
  *    `small_child`; `4h` lasts one day, otherwise every `d` is removed and
  *    the rest parsed;
  *  - change points with a null day or price, or dated after the season
  *    end, are dropped;
  *  - on each season day a product carries its latest change on or before
  *    that day, same-day changes ordered by `ord` (the last wins); days
  *    before its first change have no row;
  *  - only products in the catalog get rows;
  *  - days remaining are 2 on 2025-12-13, 1 on 2025-12-14, 0 strictly
  *    between 2025-12-14 and 2025-12-19, else season end minus day plus 1;
  *    a row is active while days remaining reach the duration.
  */
object LocfOracle {
  private val TwoDay = LocalDate.parse("2025-12-13").toEpochDay.toInt
  private val OneDay = LocalDate.parse("2025-12-14").toEpochDay.toInt
  private val Reopen = LocalDate.parse("2025-12-19").toEpochDay.toInt

  def durationDays(duration: String): Option[Int] =
    if (duration == null) None
    else if (duration == "4h") Some(1)
    else scala.util.Try(duration.replace("d", "").toInt).toOption

  /** Catalog rows the products table must hold, keyed by id. */
  def catalog(defs: Seq[Definition]): Map[Long, Definition] =
    defs.collect { case d @ Definition(Some(id), _, age, _) if age != "small_child" => id -> d }.toMap

  def daysBetween(day: Int, seasonEnd: Int): Int =
    if (day == TwoDay) 2
    else if (day == OneDay) 1
    else if (day > OneDay && day < Reopen) 0
    else seasonEnd - day + 1

  /** Dense LOCF grid over [start, end] for every product with a usable
    * change: (product, day, price). */
  def grid(changes: Seq[Change], start: Int, end: Int): Seq[(Long, Int, Int)] =
    changes
      .collect { case Change(id, Some(d), Some(p), o) if d <= end => (id, d, p, o) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (id, pts) =>
        val sorted = pts.sortBy(c => (c._2, c._4)).toArray
        var i = 0
        var current: Option[Int] = None
        (start to end).flatMap { day =>
          while (i < sorted.length && sorted(i)._2 <= day) { current = Some(sorted(i)._3); i += 1 }
          current.map(p => (id, day, p))
        }
      }

  /** The price rows of one run. */
  def prices(defs: Seq[Definition], changes: Seq[Change],
      start: LocalDate = PipelineGen.SeasonStart,
      end: LocalDate = PipelineGen.SeasonEnd): Seq[PriceRow] = {
    val cat = catalog(defs)
    val e = end.toEpochDay.toInt
    grid(changes, start.toEpochDay.toInt, e).flatMap { case (id, day, price) =>
      cat.get(id).map { d =>
        PriceRow(id, day, price, durationDays(d.duration).map(daysBetween(day, e) >= _))
      }
    }
  }

  def productCanonical(d: Definition): String =
    s"${d.id.get}|${d.category}|${d.age}|${d.duration}"
}
