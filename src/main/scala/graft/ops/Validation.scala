package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Not-null key validation (V1/V2, `scripts/pricenow_etl.py:248-251,271-274`).
  * The reference raises listing the offending rows; as a distributed engine
  * we return the violations as a DataFrame (empty = valid) so callers can
  * fail, quarantine, or count without a driver-side collect.
  */
object Validation {

  /** Rows violating a multi-column NOT NULL constraint (empty, with no job,
    * when the schema declares every key non-nullable). */
  def nullViolations(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "nullViolations: at least one key column is required")
    df.filter(keys.map(col(_).isNull).reduce(_ || _))
  }

  /** Per-key null counts — a one-row profile of constraint health. */
  def nullCounts(df: DataFrame, keys: Seq[String]): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      keys.map(k => sum(when(col(k).isNull, 1L).otherwise(0L)).as(s"null_$k")): _*)

  /** Mirror of the reference's raise-on-violation (ref :249-251): throws with
    * a sample of offending rows. Driver-side action — use at sink boundaries.
    */
  def requireNonNull(df: DataFrame, keys: Seq[String], sample: Int = 5): Unit = {
    val bad = nullViolations(df, keys).take(sample)
    require(bad.isEmpty,
      s"rows with missing ${keys.mkString("/")}: ${bad.mkString("; ")}")
  }
}
