package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The engine's one driver-assisted rank search: exact order statistics
  * and global running sums without ever sorting the fact table inside a
  * low-cardinality-partitioned (or unpartitioned) window.
  *
  * The naive exact median (`row_number` over a window partitioned by the
  * group key) is correct but becomes a single-task straggler when the
  * group key has a handful of values: the whole table funnels through
  * |groups| sort partitions. Every exact quantile, quota sample, weighted
  * median and global running sum in the engine instead goes through the
  * helpers here:
  *
  *   - [[histogram]]: ONE pass counting rows (or summing an integral
  *     weight) per (group, key) — a map-side-combinable aggregate whose
  *     output is bounded by groups × key domain, never by n — collected
  *     to the driver.
  *   - [[walk]]: the driver's cumulative walk over a histogram to the key
  *     holding a target rank, plus the exact mass below that key.
  *   - [[search]]: the two-level rank search built from those two. Pass 1
  *     histograms fixed-width value buckets and walks to the bucket of
  *     every requested rank; pass 2 collects per-value counts inside just
  *     those buckets (bounded by width / value quantum) and walks to the
  *     exact value. [[rankValues]], [[rankValuesMulti]], the quota
  *     sampler in [[Mixing]] and the weighted median all run it.
  *   - [[binOf]]: driver-computed boundaries back into the plan as a
  *     scan-stage bin index (`#{b < u}`).
  *   - [[prefixSum]]: the distributed running sum — range-partition,
  *     one total per partition collected, exclusive offsets added back
  *     as a CASE literal (packing, sorted-neighborhood ranks, sweep
  *     lines).
  *
  * Every cluster-side operation is an embarrassingly parallel scan + a
  * combinable aggregate with bounded output; the driver only ever touches
  * domain-bounded histograms (same contract as the centroid literals in
  * [[Similarity]] — never row-count-sized data). No approximation is
  * involved: the buckets only narrow where to look; the returned values
  * are exact data values.
  *
  * All per-row arithmetic runs on UNSCALED LONGS: the caller projects a
  * fixed-scale DECIMAL to `v · 10^scale` once at the scan, and every
  * downstream subtract / abs / bucket / group key is 64-bit integer math —
  * exact, codegen-friendly, and ~2× cheaper than the DECIMAL ops it
  * replaces (measured on the MAD pipeline: 1.45 s → see q_outlier_mad).
  * Bucket ids are `floor(u / widthU)` computed through double division,
  * exact because `u ≤ ~1e13 < 2^53` is exactly representable and a true
  * quotient within one bucket of an integer boundary is ≥ `1/widthU`
  * away — far beyond double's ~1e-9 ulp at these magnitudes — so the
  * rounded division can never cross the floor boundary.
  *
  * Edge inputs: an empty frame yields an empty result from every entry
  * point, and a NULL rank key fails with a message naming its group.
  */
object RobustStats {

  /** Integer bucket id of an unscaled-long column (see object doc for the
    * float-exactness argument). */
  private[graft] def bucketOf(u: Column, widthU: Long): Column =
    floor(u.cast("double") / lit(widthU.toDouble)).cast("long")

  /** One pass: rows (or the total of the non-negative integral weight
    * `wt`: a row of weight w counts as w copies of its key) per (group,
    * key), collected as each group's ascending (key, mass) pairs. `grp`
    * must be a string column and `key` a long column. */
  private[graft] def histogram(df: DataFrame, grp: Column, key: Column,
      wt: Option[Column] = None): Map[String, Seq[(Long, Long)]] =
    df.groupBy(grp, key.as("k"))
      .agg(wt.fold(count(lit(1)))(sum(_)).as("c")).collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        g -> rows.map { r =>
          require(!r.isNullAt(1), s"RobustStats: group '$g' has NULL values — " +
            "filter or coalesce them before ranking")
          (r.getLong(1), r.getLong(2))
        }.sortBy(_._1).toSeq
      }

  /** Driver: each ascending (key, mass) pair with the mass before it. */
  private[graft] def exclusive[K](counts: Seq[(K, Long)]): Seq[(K, Long, Long)] =
    counts.zip(counts.scanLeft(0L)(_ + _._2)).map { case ((k, c), before) =>
      (k, c, before)
    }

  /** Driver walk: the key of ascending (key, mass) pairs that holds rank
    * `target` (1-based) → (key, mass below it). */
  private[graft] def walk(hist: Seq[(Long, Long)], target: Long): (Long, Long) =
    exclusive(hist).collectFirst {
      case (k, c, before) if before + c >= target => (k, before)
    }.getOrElse(throw new IllegalStateException("rank target outside histogram"))

  /** Rows of `grp` whose bucket is among that group's wanted buckets. */
  private def inBuckets(grp: Column, bkt: Column,
      wanted: Map[String, Set[Long]]): Column =
    wanted.map { case (g, bs) => grp === lit(g) && bkt.isin(bs.toSeq: _*) }
      .reduce(_ || _)

  /** The two-pass rank search (see the object doc): one [[histogram]] of
    * `bkt` (a bucketing of `u` monotone in `u`, e.g. [[bucketOf]]), then
    * one of `u` restricted to the buckets holding a requested rank.
    * `ranksOf` maps every group's mass n to the ranks wanted per group
    * (each in [1, n]; a group it leaves out costs no pass-2 work).
    * Returns per group its mass n and, per requested rank in order, the
    * value at that rank and the exact mass below the value (callers doing
    * exact-quota selection need the tie split). Two jobs; one on an empty
    * frame or when no rank is requested. */
  private[graft] def search(df: DataFrame, grp: Column, u: Column,
      bkt: Column, wt: Option[Column] = None)(
      ranksOf: Map[String, Long] => Map[String, Seq[Long]])
      : Map[String, (Long, Seq[(Long, Long)])] = {
    val hist = histogram(df, grp, bkt, wt)
    val ns = hist.map { case (g, bs) => g -> bs.map(_._2).sum }
    val located = ranksOf(ns).collect {
      case (g, ts) if hist.contains(g) && ts.nonEmpty =>
        g -> ts.map(t => t -> walk(hist(g), t))
    }
    val wanted = located.map { case (g, ls) => g -> ls.map(_._2._1).toSet }
    val vals = if (wanted.isEmpty) Map.empty[String, Seq[(Long, Long)]]
      else histogram(df.filter(inBuckets(grp, bkt, wanted)), grp, u, wt)
    ns.map { case (g, n) =>
      g -> (n, located.getOrElse(g, Seq.empty).map { case (t, (b0, cBefore)) =>
        // pass 2 holds every wanted bucket's values in one ascending run,
        // and the wanted buckets below b0 come first: the walk over the
        // run starts their pass-1 mass before b0's cumulative count
        val skip = cBefore - hist(g).collect {
          case (b, c) if b < b0 && wanted(g)(b) => c
        }.sum
        val (v, below) = walk(vals(g), t - skip)
        (v, skip + below)
      })
    }
  }

  /** Exact values at caller-chosen ranks per group — the grouped
    * order-statistic without a sort, in two jobs ([[search]] over
    * [[bucketOf]] buckets of width `widthU`; see the object doc for the
    * scale argument). `ranksOf` maps a group's row count n to its target
    * ranks (each must be in [1, n]) — so callers can ask for quantile
    * grids without a prior count job. Returns the values in `ranksOf`
    * order; safe for negative unscaled values.
    */
  def rankValues(df: DataFrame, grp: String, u: Column, widthU: Long,
      ranksOf: Long => Seq[Long]): Map[String, Seq[Long]] =
    search(df, col(grp), u, bucketOf(u, widthU))(
      _.map { case (g, n) => g -> ranksOf(n) })
      .map { case (g, (_, picks)) => g -> picks.map(_._1) }

  /** [[rankValues]] for SEVERAL metrics of ONE frame in two jobs TOTAL —
    * the fused form a multi-metric quantiler (RFM's three quartile sets)
    * should run: the per-metric frames stack via one explode (metric
    * name becomes the group key, each metric keeps its own bucket
    * width), so the bucket histogram for every metric rides ONE
    * aggregation job and the in-bucket value pass rides ONE more —
    * instead of 2 jobs PER metric (q_rfm_segments: 6 driver-synchronous
    * jobs → 2; at scale, k metrics cost k full passes → 1 stacked pass
    * of the same total row volume, minus (k−1) per-job fixed costs and
    * (k−1) scans of the source frame). Result values are identical to k
    * independent [[rankValues]] calls (RobustStatsSpec pins it).
    *
    * `metrics`: (name, unscaled-long column, bucket width); names must
    * be unique. `ranksOf` maps each metric's row count n to its target
    * ranks, as in [[rankValues]]. Returns name → values in ranksOf
    * order; an EMPTY `df` maps each metric to an empty value list.
    */
  def rankValuesMulti(df: DataFrame,
      metrics: Seq[(String, Column, Long)],
      ranksOf: Long => Seq[Long]): Map[String, Seq[Long]] = {
    require(metrics.map(_._1).distinct.size == metrics.size,
      "rankValuesMulti: metric names must be unique")
    val stacked = df.select(explode(array(metrics.map { case (g, u, w) =>
      struct(lit(g).as("g"), u.cast("long").as("u"),
        bucketOf(u, w).as("bkt"))
    }: _*)).as("m")).select(col("m.g").as("g"), col("m.u").as("u"),
      col("m.bkt").as("bkt"))
    val found = search(stacked, col("g"), col("u"), col("bkt"))(
      _.map { case (g, n) => g -> ranksOf(n) })
    if (found.isEmpty) metrics.map(_._1 -> Seq.empty[Long]).toMap
    else found.map { case (g, (_, picks)) => g -> picks.map(_._1) }
  }

  /** A per-group CASE literal: `when(grp = k, value(k))` chain. Injects
    * driver-computed group constants into a distributed expression without
    * a join (the groups-sized map is metadata).
    */
  def caseByGroup(grp: String, values: Map[String, Column]): Column =
    values.tail.foldLeft(when(col(grp) === lit(values.head._1), values.head._2)) {
      case (acc, (k, c)) => acc.when(col(grp) === lit(k), c)
    }

  /** Bin index of `c` against ascending driver-computed boundaries:
    * `#{b ∈ bounds : c > b}` as a scan-stage sum of CASE literals, so a
    * row equal to a boundary falls in the lower bin and coincident
    * boundaries skip bins deterministically. */
  private[graft] def binOf(c: Column, bounds: Seq[Long]): Column =
    bounds.foldLeft(lit(0)) { (acc, b) => acc + when(c > lit(b), 1).otherwise(0) }

  /** A global running sum without a single-partition window: range-
    * partition `df` on `keys`, tag each row with its partition, checkpoint
    * (the totals job and the final pass share one compute), collect one
    * `total` aggregate per partition (numPartitions scalars of driver
    * metadata, the class of AQE statistics), and add to `within` — the
    * caller's running expression over the window it is given (rows of
    * one partition; the caller orders it and sets the frame) — the
    * exclusive offset of the partitions before, as a CASE literal.
    * Returns `df`'s columns plus `name`. One job.
    */
  private[graft] def prefixSum(df: DataFrame, keys: Seq[Column], total: Column,
      name: String)(within: WindowSpec => Column): DataFrame = {
    val parts = df.repartitionByRange(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val totals = parts.groupBy(col("__pid")).agg(total.as("__tot"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offset = exclusive(totals.toSeq).foldLeft(lit(0L)) {
      case (rest, (pid, _, before)) =>
        when(col("__pid") === pid, lit(before)).otherwise(rest)
    }
    parts.withColumn(name, within(Window.partitionBy(col("__pid"))) + offset)
      .drop("__pid")
  }

  /** Per-group exact median, exact MAD, and exact `2·dev > 3·mad` outlier
    * count — in TWO cluster passes total.
    *
    * The four-pass shape (median buckets → median values → dev buckets →
    * dev values) re-scans the fact once per level because the deviation
    * `|u − med|` seems to need the exact median first. It doesn't: with
    * `med = m0 + δ` (`m0 = b0·W` the median bucket's lower edge,
    * `δ ∈ [0, W)`), every u-bucket range this algorithm must inspect can
    * be expressed as `b0 ± k` offsets that hold for ALL δ. So pass 1's
    * (group, bucket) histogram already determines — without knowing med —
    *
    *   - `b0`: the bucket holding the median rank;
    *   - a bracket `[jlo−1, jhi]·W` for the MAD, from conservative counts
    *     `C_min(j) ≤ #{|u−med| ≤ jW} ≤ C_max(j)` whose uncertainty is
    *     confined to the two end buckets `b0±j`;
    *   - a conservative bucket cover for the `med ± 1.5·mad` threshold,
    *     via interval arithmetic over `δ ∈ [0,W)` and the MAD bracket.
    *
    * Pass 2 collects per-VALUE counts for just that bucket set (domain-
    * bounded: ~15–25 buckets × width/quantum). The driver then resolves
    * everything exactly: median from b0's values + the histogram prefix;
    * MAD by a rank walk over `|u−med|` of the bracket values (the walk's
    * starting cumulative count combines full inner buckets from pass 1
    * with exact partial-bucket counts from the collected values); the
    * outlier count as full-bucket sums for buckets provably outside
    * `med ± 1.5·mad` plus exact tests on the collected boundary buckets.
    * All arithmetic is 64-bit integer on unscaled values — exact.
    *
    * Scale shape: two embarrassingly parallel scans, each a map-side-
    * combinable aggregate with domain-bounded output; nothing row-count-
    * sized crosses an exchange, no window, no join. Halves the wall time
    * of the four-pass shape (sf0.1 warm: 1.45 s → 0.75 s).
    */
  def madProfile(df: DataFrame, grp: String, u: Column, widthU: Long)
      : Map[String, (Long, Long, Long, Long)] = {
    val W = widthU
    // ---- pass 1: (group, bucket) histogram --------------------------------
    val counts = histogram(df, col(grp), bucketOf(u, W))
    val hist: Map[String, Map[Long, Long]] =
      counts.map { case (g, bs) => g -> bs.toMap }
    // per group: (b0, mass below b0, median rank, n)
    val targets = counts.map { case (g, bs) =>
      val n = bs.map(_._2).sum
      val (b0, cBelow) = walk(bs, (n + 1) / 2)
      g -> (b0, cBelow, (n + 1) / 2, n)
    }

    // ---- driver: derive the bucket set to collect, per group --------------
    case class Cover(b0: Long, jlo: Long, jhi: Long, buckets: Set[Long])
    val covers: Map[String, Cover] = targets.map { case (g, (b0, _, target, _)) =>
      val h = hist(g)
      def c(k: Long): Long = h.getOrElse(k, 0L)
      // C_min(j) = mass in buckets strictly inside b0±j — a lower bound on
      // #{dev ≤ jW} for every δ; C_max adds the two uncertain end buckets.
      // jlo = min{j : C_max(j) ≥ target} ⇒ mad > (jlo−1)W;
      // jhi = min{j : C_min(j) ≥ target} ⇒ mad ≤ jhi·W.
      var inner = c(b0) // C_min(1)
      var j = 1L
      var jloOpt = if (c(b0) >= target) Some(0L) else None // C_max(0) = c(b0)
      var jhiOpt: Option[Long] = None
      val kMax = h.keys.max - h.keys.min + 1
      while (jhiOpt.isEmpty && j <= kMax + 2) {
        if (inner >= target) jhiOpt = Some(j) // C_min(j) ≥ target
        else {
          val cmax = inner + c(b0 - j) + c(b0 + j) // C_max(j)
          if (jloOpt.isEmpty && cmax >= target) jloOpt = Some(j)
          inner = cmax // = C_min(j+1)
          j += 1
        }
      }
      val jhi = jhiOpt.getOrElse(
        throw new IllegalStateException("MAD rank outside histogram"))
      val jlo = jloOpt.get // exists: jloOpt set no later than jhiOpt
      // MAD bracket buckets: dev ∈ [(jlo−1)W, jhi·W] ⇒ u-buckets
      // [b0−jhi, b0−jlo+1] ∪ [b0+jlo−1, b0+jhi] for all δ; plus b0 for the
      // exact median
      val madB = ((b0 - jhi) to (b0 - jlo + 1)) ++ ((b0 + jlo - 1) to (b0 + jhi))
      // threshold t = 1.5·mad ∈ [tLoB·W, tHiB·W] (mad bracketed above):
      // over δ ∈ [0,W) the bucket holding med−t lies in [b0−tHiB, b0−tLoB]
      // and the one holding med+t in [b0+tLoB, b0+tHiB] — interval
      // arithmetic on med ∈ [m0, m0+W), t ∈ [tLoB·W, tHiB·W]; any slip is
      // caught by the covered-bucket require below, not silently absorbed
      val tLoB = 3 * math.max(0L, jlo - 1) / 2
      val tHiB = (3 * jhi + 1) / 2
      val thrB = ((b0 - tHiB) to (b0 - tLoB)) ++ ((b0 + tLoB) to (b0 + tHiB))
      g -> Cover(b0, jlo, jhi, (madB ++ thrB :+ b0).toSet)
    }

    // ---- pass 2: value counts over the covered buckets --------------------
    val vals: Map[String, Seq[(Long, Long)]] =
      if (covers.isEmpty) Map.empty
      else histogram(df.filter(inBuckets(col(grp), bucketOf(u, W),
        covers.map { case (g, cv) => g -> cv.buckets })), col(grp), u)

    // ---- driver: resolve exactly ------------------------------------------
    targets.map { case (g, (b0, cBelowB0, target, n)) =>
      val h = hist(g)
      def c(k: Long): Long = h.getOrElse(k, 0L)
      val Cover(_, jlo, jhi, covered) = covers(g)
      val vs = vals(g) // ascending (value, count)
      def bkt(v: Long): Long = Math.floorDiv(v, W)
      // exact median: histogram prefix + b0's values
      val med = walk(vs.filter(v => bkt(v._1) == b0), target - cBelowB0)._1
      // cBefore = #{dev < D0}, D0 = max(0, jlo−1)·W: full buckets strictly
      // inside the open interval (med−D0, med+D0) from pass 1, exact
      // partials from the collected boundary buckets
      val d0 = math.max(0L, jlo - 1) * W
      val cBefore = if (d0 == 0) 0L
      else {
        val loBkt = bkt(med - d0) // = b0 − (jlo−1) — collected
        val hiBkt = bkt(med + d0) // = b0 + (jlo−1) — collected
        require(covered(loBkt) && covered(hiBkt), "cBefore boundary bucket not covered")
        val full = ((loBkt + 1) until hiBkt).map(c).sum
        val partial = vs.collect {
          case (v, k) if (bkt(v) == loBkt || bkt(v) == hiBkt) &&
            v > med - d0 && v < med + d0 && !(bkt(v) > loBkt && bkt(v) < hiBkt) => k
        }.sum
        // values in buckets strictly between lo and hi are already in
        // `full` — the collect above excludes them
        full + partial
      }
      // exact MAD: rank walk over dev ≥ D0 of the bracket buckets' values
      val walkBuckets = ((b0 - jhi) to (b0 - jlo + 1)).toSet ++
        ((b0 + jlo - 1) to (b0 + jhi)).toSet + b0
      val devCountsW = vs.iterator
        .filter { case (v, _) => walkBuckets(bkt(v)) }
        .map { case (v, k) => (math.abs(v - med), k) }
        .filter(_._1 >= d0)
        .toSeq.groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).sum) }
        .toSeq.sortBy(_._1)
      val mad = walk(devCountsW, target - cBefore)._1
      // the coverage proofs above rely on the bracket — fail loudly rather
      // than return a silently-wrong pick if it is ever violated
      require(mad > d0 - 1 && mad <= jhi * W,
        s"MAD $mad outside bracket ($d0, ${jhi * W}] (group $g)")
      // outliers: 2·dev > 3·mad ⟺ 2u < 2·med−3·mad ∨ 2u > 2·med+3·mad.
      // Buckets fully outside count from pass 1; boundary buckets exactly
      // from collected values (assert they are covered).
      val lo2 = 2 * med - 3 * mad
      val hi2 = 2 * med + 3 * mad
      def fullyOut(k: Long): Boolean = 2 * (k * W + W - 1) < lo2 || 2 * (k * W) > hi2
      def fullyIn(k: Long): Boolean = 2 * (k * W) >= lo2 && 2 * (k * W + W - 1) <= hi2
      val fullOut = h.iterator.collect { case (k, cnt) if fullyOut(k) => cnt }.sum
      val boundary = h.keysIterator.filter(k => !fullyOut(k) && !fullyIn(k)).toSeq
      boundary.foreach { k =>
        require(covered(k), s"outlier boundary bucket $k not covered (group $g)")
      }
      val bSet = boundary.toSet
      val partialOut = vs.collect {
        case (v, k) if bSet(bkt(v)) && (2 * v < lo2 || 2 * v > hi2) => k
      }.sum
      g -> (n, med, mad, fullOut + partialOut)
    }
  }
}
