package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of forward-fill onto a dense daily calendar (LOCF) — the reference's
  * centerpiece operator (`scripts/pricenow_etl.py:200-240`,
  * `forward_fill_daily_grid`). Semantics reproduced exactly:
  *
  *   - change rows with a null day or null value are dropped
  *     (ref :205-208, T4);
  *   - a change strictly before the grid start still seeds the fill
  *     (ref :220-225 scans for the last change <= season_start);
  *   - the fill value on day d is the latest change with day' <= d; a change
  *     dated d applies on d itself (ref :229-231);
  *   - days before an id's first change emit NO row — leading gaps are
  *     dropped, not null-filled (ref :233-239);
  *   - several changes on one (id, day): the last in tie-break order wins
  *     (ref :214 stable sort + pointer walk — last-in-order wins).
  *
  * Spark-first design — expansion after ONE shuffle of the change points:
  * a single window partitioned by id and ordered by (day, tie-breaks) runs
  * over the change points only and pairs each point with its successor via
  * `lead`. A point owns the days from its own day (clamped to the grid
  * start) up to the day before its successor (or the grid end); the last
  * same-day tie is the only one whose range is non-empty. Each point then
  * explodes into its days map-side, after the exchange, so the dense grid
  * is never shuffled or sorted: shuffle volume is the change count, not
  * ids × days. At 100 TB the window sorts and buffers change rows only;
  * skewed ids are handled by AQE since the only exchange is the window's
  * hash partitioning.
  */
object ForwardFill {

  /** @param changes  change-point rows (any extra columns are dropped)
    * @param idCol    partition key (reference: productDefinitionId)
    * @param dayCol   DateType column of the change day
    * @param valueCol value carried forward (reference: price)
    * @param tieBreak ascending columns ordering same-day changes; the last
    *                 one wins (reference: ingest order, Python stable sort)
    * @param start    grid start, ISO `yyyy-MM-dd` (inclusive)
    * @param end      grid end, ISO (inclusive)
    * @return (idCol, dayCol, valueCol) dense over [max(start, first change), end]
    */
  def dailyGrid(
      changes: DataFrame,
      idCol: String,
      dayCol: String,
      valueCol: String,
      tieBreak: Seq[String],
      start: String,
      end: String): DataFrame =
    expand(changes, idCol, dayCol, valueCol, tieBreak, start, end, None)
      .select(col(idCol), col(dayCol), col(valueCol))

  /** One row per (id, grid day `dayCol`): the point in force (`__t0`,
    * `valueCol`) and its successor in (day, tieBreak) order (`__t1`, `__v1`).
    * Points with a null id, day or value, or after `end`, are dropped before
    * the `valueType` cast; null ties sort first. A point covers
    * [max(day, start), next day - 1] (or `end`); empty ranges — a tie that is
    * not the last, a point overtaken before `start` — are dropped first, as
    * `sequence` rejects start > stop.
    */
  private def expand(
      changes: DataFrame, idCol: String, dayCol: String, valueCol: String,
      tieBreak: Seq[String], start: String, end: String,
      valueType: Option[String]): DataFrame = {
    val kept = changes
      .select((Seq(idCol, dayCol, valueCol) ++ tieBreak).map(col): _*)
      .na.drop(Seq(idCol, dayCol, valueCol))
      .filter(col(dayCol) <= to_date(lit(end)))
    val pts = valueType.fold(kept)(t => kept.withColumn(valueCol, col(valueCol).cast(t)))
    val byDay = Window.partitionBy(col(idCol)).orderBy((dayCol +: tieBreak).map(col(_).asc): _*)
    pts
      .select(col(idCol), col(dayCol).as("__t0"), col(valueCol),
        lead(col(dayCol), 1).over(byDay).as("__t1"),
        lead(col(valueCol), 1).over(byDay).as("__v1"))
      .withColumn("__lo", greatest(col("__t0"), to_date(lit(start))))
      .withColumn("__hi", coalesce(date_sub(col("__t1"), 1), to_date(lit(end))))
      .filter(col("__lo") <= col("__hi"))
      .select(col(idCol),
        explode(sequence(col("__lo"), col("__hi"), expr("interval 1 day"))).as(dayCol),
        col(valueCol), col("__t0"), col("__t1"), col("__v1"))
  }

  /** Linear interpolation onto the dense daily grid — the continuous
    * sibling of [[dailyGrid]]'s step-function LOCF. The value at grid day d
    * is
    *
    *   v0 + (v1 - v0) * (d - t0) / (t1 - t0)
    *
    * where (t0, v0) is the latest change point <= d (same-day changes
    * apply on their own day, latest tie-break winner, exactly as LOCF) and
    * (t1, v1) the next change point after d in (day, tieBreak) order.
    * Boundary conventions: days before an id's first change emit no row
    * (LOCF parity); days after the last change carry it forward flat.
    *
    * Same expansion plan as LOCF: the day's winning point is (t0, v0) and
    * its `lead` is (t1, v1) — the first tie of the next change day, since
    * the winner is the last tie of its own. Value lands as double; callers
    * own any cross-engine rounding of the interpolated output.
    */
  def interpolatedGrid(
      changes: DataFrame,
      idCol: String,
      dayCol: String,
      valueCol: String,
      tieBreak: Seq[String],
      start: String,
      end: String): DataFrame = {
    val days = (a: Column, b: Column) => datediff(a, b).cast("double")
    val (v0, v1) = (col(valueCol), col("__v1"))
    expand(changes, idCol, dayCol, valueCol, tieBreak, start, end, Some("double"))
      .select(col(idCol), col(dayCol),
        when(col("__t1").isNull, v0)
          .otherwise(v0 + (v1 - v0)
            * (days(col(dayCol), col("__t0")) / days(col("__t1"), col("__t0"))))
          .as(valueCol))
  }
}
