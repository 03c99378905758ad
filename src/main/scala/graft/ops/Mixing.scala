package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic dataset mixing / rebalancing — the "sample each source to
  * a target quota" step of a training-data pipeline (down-sample dominant
  * languages or sources to a prescribed mixture), reproducible across runs
  * and engines because selection is by a content hash, not by rand().
  *
  * Per group g, the selected rows are exactly the `quota(g)` smallest by
  * `(hash, tieKey)` — a grouped order-statistic. The scale shape AVOIDS
  * the naive `row_number() OVER (PARTITION BY group ORDER BY hash)` plan,
  * which funnels the whole table through |groups| sort partitions (the
  * same single-task straggler the MAD rewrite killed). Instead every
  * sampler is one [[RobustStats.search]] over the hash domain plus a
  * filter:
  *
  *   1. ONE bucket-histogram pass (groups × 1024 buckets for the 32-bit
  *      universe), which also yields each group's row count — the input
  *      of the rebalancing quota rules,
  *   2. ONE in-bucket value-count pass that resolves the exact quota-th
  *      hash `h*(g)` and the exact `#{hash < h*}` per cut group,
  *   3. ONE scan-stage filter `hash < h*` plus a rank window over the
  *      TIE rows only (`hash = h*` — a handful of rows, never the table).
  *
  * Every cluster-side step is an embarrassingly parallel scan + a
  * combinable aggregate with bounded output; the driver only touches
  * histograms. No full-table sort, no data-sized shuffle at any point.
  * An empty input yields an empty sample.
  */
object Mixing {

  private val W = 1L << 22 // 1024 buckets over the [0, 2^32) hash universe

  /** Keep exactly `min(quota(g), n_g)` rows per group — the quota-smallest
    * by `(hash, tieKey)`. Groups missing from `quotas` are dropped.
    *
    * `hash` must be a deterministic non-null column in [0, 2^32) (use
    * [[TextAnalysis.tokenHash32]] of a key for engine-portable selection);
    * `tieKey` must be unique per row within a group.
    */
  def quotaSample(df: DataFrame, grp: String, hash: Column, tieKey: Column,
      quotas: Map[String, Long]): DataFrame =
    sample(df, grp, hash, tieKey, _ => quotas)

  /** Equal-representation rebalance: budget = `n_total · num / den` rows,
    * split evenly across the observed groups, each capped by availability
    * (no redistribution of unused capacity — deterministic and
    * SQL-replayable: quota_g = min(n_g, budget div |groups|)).
    */
  def rebalanceEqual(df: DataFrame, grp: String, hash: Column, tieKey: Column,
      num: Long, den: Long): DataFrame =
    sample(df, grp, hash, tieKey, { nG =>
      val perG = if (nG.isEmpty) 0L else nG.values.sum * num / den / nG.size
      nG.map { case (g, n) => g -> math.min(n, perG) }
    })

  /** Temperature-flattened rebalance (the multilingual α-sampling rule of
    * mC4 / XLM-R with α = 1/2): group g's share of the `n_total · num /
    * den` budget is proportional to `√n_g` instead of `n_g`, so dominant
    * languages are down-weighted and tail languages up-weighted relative
    * to natural sampling, each capped by availability.
    *
    * quota_g = min(n_g, budget · w_g div Σw_g) with w_g = ⌊√n_g⌋ — the
    * integer square root keeps every quota a pure integer computation:
    * `sqrt` is IEEE-correctly-rounded on both engines and ⌊√n⌋ cannot
    * misround for n ≤ 2^52 (the nearest double to √(k²−1) is below k for
    * all k < 2^25 since the gap 1/(2k) exceeds the ulp k·2^−52), so the
    * SQL twin `floor(sqrt(n))` lands on the same integer. Same two-pass
    * rank search as [[rebalanceEqual]] — no full-table sort.
    */
  def rebalanceTemperature(df: DataFrame, grp: String, hash: Column,
      tieKey: Column, num: Long, den: Long): DataFrame =
    sample(df, grp, hash, tieKey, { nG =>
      val w = nG.map { case (g, n) => g -> math.sqrt(n.toDouble).toLong }
      val wSum = w.values.sum
      val budget = nG.values.sum * num / den
      nG.map { case (g, n) => g -> math.min(n, budget * w(g) / wSum) }
    })

  /** The quota-smallest rows per group by `(hash, tieKey)`, where
    * `quotaOf` maps the groups' row counts to their quotas. Groups kept
    * whole (quota ≥ n) need no rank; every other group with a quota ≥ 1
    * asks the search for its quota-th hash. */
  private def sample(df: DataFrame, grp: String, hash: Column, tieKey: Column,
      quotaOf: Map[String, Long] => Map[String, Long]): DataFrame = {
    val h = df.withColumn("__h", hash)
    def cut(nG: Map[String, Long]): Map[String, Long] = quotaOf(nG).collect {
      case (g, q) if nG.contains(g) && q >= 1 && q < nG(g) => g -> q
    }
    val found = RobustStats.search(h, col(grp), col("__h"),
      RobustStats.bucketOf(col("__h"), W))(cut(_).map { case (g, q) => g -> Seq(q) })
    val nG = found.map { case (g, (n, _)) => g -> n }
    val quotas = quotaOf(nG)
    val whole = nG.keySet.filter(g => quotas.getOrElse(g, 0L) >= nG(g))
    // (quota-th hash, rows to take from its ties)
    val thresholds: Map[String, (Long, Long)] = cut(nG).map { case (g, q) =>
      val (v, below) = found(g)._2.head
      g -> (v, q - below)
    }
    def orFalse(ps: Iterable[Column]): Column =
      ps.reduceOption(_ || _).getOrElse(lit(false))
    val mainPred = orFalse(
      whole.map(g => col(grp) === lit(g)) ++
        thresholds.map { case (g, (v, _)) => col(grp) === lit(g) && col("__h") < lit(v) })
    val tiePred = orFalse(
      thresholds.map { case (g, (v, _)) => col(grp) === lit(g) && col("__h") === lit(v) })
    val tieQuota = if (thresholds.isEmpty) lit(0L)
    else RobustStats.caseByGroup(grp, thresholds.map { case (g, (_, t)) => g -> lit(t) })
    val ties = h.filter(tiePred)
      .withColumn("__rn", row_number().over(Window.partitionBy(col(grp)).orderBy(tieKey)))
      .filter(col("__rn") <= tieQuota)
      .drop("__rn")
    h.filter(mainPred).unionByName(ties).drop("__h")
  }
}
