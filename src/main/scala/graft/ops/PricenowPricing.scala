package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Price-table derivations: the broadcast duration lookup (T10,
  * `scripts/pricenow_etl.py:320,349,424`), the piecewise `days_between`
  * calendar (T11, ref :352-361 — note the EXCLUSIVE closed-week interval
  * 12-14 < d < 12-19), the `active` flag (T12, ref :363-367), and the
  * single-run `updated_at` stamp (T14, ref :432 — one literal per run, NOT
  * `current_timestamp()`).
  */
object PricenowPricing {

  /** T11: piecewise days-remaining. Defaults are the reference's hardcoded
    * 2025/26 season closure dates (ref :352-361).
    */
  def daysBetween(
      day: Column,
      seasonEnd: String,
      twoDayDate: String = "2025-12-13",
      oneDayDate: String = "2025-12-14",
      reopenDate: String = "2025-12-19"): Column =
    when(day === to_date(lit(twoDayDate)), lit(2))
      .when(day === to_date(lit(oneDayDate)), lit(1))
      .when(day > to_date(lit(oneDayDate)) && day < to_date(lit(reopenDate)), lit(0))
      .otherwise(datediff(to_date(lit(seasonEnd)), day) + lit(1))

  /** T12: a product is bookable while enough season days remain. */
  def activeFlag(daysRemaining: Column, durationDays: Column): Column =
    daysRemaining >= durationDays

  /** T10+T11+T12+T14 composed: dense grid -> broadcast dim join -> derived
    * columns. `products` is the small catalog dimension — explicitly
    * broadcast, mirroring the reference's in-memory `duration_map` dict.
    * On the USING join's left, it supplies the output `product_id` and its
    * nullability: the page source's non-nullable key proves V2 by schema.
    */
  def priceTable(
      grid: DataFrame,
      products: DataFrame,
      dayCol: String,
      seasonEnd: String,
      updatedAt: String): DataFrame =
    broadcast(products.select(col("product_id"), col("duration_days")))
      .join(grid, "product_id")
      .withColumn("days_between", daysBetween(col(dayCol), seasonEnd))
      .withColumn("active", activeFlag(col("days_between"), col("duration_days")))
      .withColumn("updated_at", to_timestamp(lit(updatedAt)))
}
