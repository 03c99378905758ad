package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
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
  * Spark-first design — ONE shuffle total: instead of (join grid with
  * changes) + (window over id) — two shuffles — we UNION the change points
  * with the generated grid rows and run a single running
  * `last(value, ignoreNulls)` window partitioned by id. Change rows sort
  * before the grid row of the same day (kind 0 < 1), so the frame ending at
  * each grid row sees exactly the changes <= that day, latest last. At 100 TB
  * the window partitions by id (bounded state: one running value per
  * partition, no spill risk); skewed ids are handled by AQE since the only
  * exchange is the window's hash partitioning.
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
      end: String): DataFrame = {
    val (rows, base) =
      withGrid(changes, idCol, dayCol, valueCol, tieBreak, start, end, None)
    rows
      .withColumn("__filled", last(col(valueCol), ignoreNulls = true)
        .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__kind") === 1 && col("__filled").isNotNull)
      .select(col(idCol), col(dayCol), col("__filled").as(valueCol))
  }

  /** The change points (`__kind` 0) unioned with the dense grid rows
    * (`__kind` 1, null value and tie-breaks), plus the per-id window order
    * both grids run their frames over.
    *
    * Points: rows with a null id, day or value are dropped, and so are
    * changes after `end`; `valueType` casts the value after that filter.
    * Grid: one row per day of [start, end] for every id that has at least
    * one usable point — sequence+explode is generated map-side off the
    * (small) distinct-id set. Order: day, then `__kind`, then the
    * tie-breaks; `__kind` dominates the tie-break columns, so grid rows
    * (all-null ties) sort after every change row of the same day.
    */
  private def withGrid(
      changes: DataFrame, idCol: String, dayCol: String, valueCol: String,
      tieBreak: Seq[String], start: String, end: String,
      valueType: Option[String]): (DataFrame, WindowSpec) = {
    val kept = changes
      .select((Seq(idCol, dayCol, valueCol) ++ tieBreak).map(col): _*)
      .na.drop(Seq(idCol, dayCol, valueCol))
      .filter(col(dayCol) <= to_date(lit(end)))
    val pts = valueType.fold(kept)(t => kept.withColumn(valueCol, col(valueCol).cast(t)))
      .withColumn("__kind", lit(0))
    val grid = pts
      .select(col(idCol)).distinct()
      .select(
        col(idCol),
        explode(sequence(to_date(lit(start)), to_date(lit(end)), expr("interval 1 day")))
          .as(dayCol))
      .withColumn(valueCol, lit(null).cast(pts.schema(valueCol).dataType))
      .withColumn("__kind", lit(1))
    val gridAligned = tieBreak.foldLeft(grid) { (df, c) =>
      df.withColumn(c, lit(null).cast(pts.schema(c).dataType))
    }
    val order = (Seq(col(dayCol), col("__kind")) ++ tieBreak.map(col)).map(_.asc)
    (pts.unionByName(gridAligned), Window.partitionBy(col(idCol)).orderBy(order: _*))
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
    * Same single-shuffle plan as LOCF — union change points with grid
    * rows, then two mirrored running windows over the ONE hash exchange:
    * a backward `last(_, ignoreNulls)` for (t0, v0) and a forward
    * `first(_, ignoreNulls)` for (t1, v1). Day and value ride separate
    * window expressions over the same frame (they are null on exactly the
    * same rows, so the pair stays consistent). Value lands as double;
    * callers own any cross-engine rounding of the interpolated output.
    */
  def interpolatedGrid(
      changes: DataFrame,
      idCol: String,
      dayCol: String,
      valueCol: String,
      tieBreak: Seq[String],
      start: String,
      end: String): DataFrame = {
    val (rows, base) =
      withGrid(changes, idCol, dayCol, valueCol, tieBreak, start, end, Some("double"))
    val back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val changeDay = when(col("__kind") === 0, col(dayCol))
    val changeVal = when(col("__kind") === 0, col(valueCol))

    val days = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      datediff(a, b).cast("double")
    rows
      .withColumn("__t0", last(changeDay, ignoreNulls = true).over(back))
      .withColumn("__v0", last(changeVal, ignoreNulls = true).over(back))
      .withColumn("__t1", first(changeDay, ignoreNulls = true).over(fwd))
      .withColumn("__v1", first(changeVal, ignoreNulls = true).over(fwd))
      .filter(col("__kind") === 1 && col("__v0").isNotNull)
      .select(col(idCol), col(dayCol),
        when(col("__t1").isNull, col("__v0"))
          .otherwise(col("__v0") + (col("__v1") - col("__v0"))
            * (days(col(dayCol), col("__t0")) / days(col("__t1"), col("__t0"))))
          .as(valueCol))
  }
}
