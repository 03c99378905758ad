package graft

/** Regression guards on the physical-plan properties the 100 TB design
  * depends on: dimension joins must broadcast (not sort-merge), scans must
  * push filters into parquet, and the scale-path dedup/similarity joins
  * must be equi-joins (no nested-loop cartesian products).
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString

  test("gains table: the only windows partition by BIN (never a global row sort)") {
    // round-13 rewrite closed the suite's last corpus-sized unpartitioned
    // window: global rank now derives from grid offsets + per-bin ranks
    // confined to the <= 9 decile-boundary bins
    val p = plan("q_gains_table")
    // the old plan's global rank was windowspecdefinition(score6 DESC,
    // doc_id ASC, ...) — NO partition key, so the spec STARTS with the
    // order columns; the rewrite's row windows start with the bin key
    assert(!p.contains("windowspecdefinition(score6"),
      "found an unpartitioned row-level window ordered by score6")
    assert(p.contains("windowspecdefinition(bin"),
      "the boundary-bin rank window (partitioned by bin) must exist")
  }

  test("arrival-order cuts never window unpartitioned over documents") {
    // round-14 rewrite: q_trending_terms / q_vocab_growth derive their
    // half/decile cuts from the doc_id bin grid (KeywordQueries
    // .arrivalBuckets); the only windows allowed are per-BIN boundary
    // ranks. The old plans' global rank showed as
    // windowspecdefinition(doc_id ASC, ...) — no partition key, so the
    // spec string STARTED with the order column.
    Seq("q_trending_terms", "q_vocab_growth").foreach { q =>
      val p = plan(q)
      assert(!p.contains("windowspecdefinition(doc_id"),
        s"$q still global-sorts documents by doc_id")
    }
    // WindowLintSpec enforces the same property suite-wide on the
    // optimized logical plan; this pins the physical form of the two
    // rewritten queries specifically.
  }

  test("Q19 disjunctive hulls land in BOTH parquet scans; the join stays hash") {
    // the side-local hulls are written as redundant conjuncts exactly so
    // each scan can prune before the join — verify they actually reached
    // the parquet readers (brand IN-list on the dim, quantity range on
    // the fact) and nothing degenerated to a nested loop
    val p = plan("q_disjunctive_pushdown")
    assert(p.contains("In(p_brand"), "brand hull not pushed to the part scan")
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)")
      && p.contains("LessThanOrEqual(l_quantity,36.0)"),
      "quantity hull not pushed to the lineitem scan")
    assert(p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"))
  }

  test("fused Q2 shape reads lineitem once; the subquery form pays two supply builds") {
    def lineitemScans(name: String): Int =
      plan(name).linesIterator.count(_.contains("lineitem.parquet"))
    assert(lineitemScans("q_min_cost_supplier_fused") == 1,
      "the fused Q2 must build the supply frame from ONE fact scan")
    assert(lineitemScans("q_min_cost_supplier") == 2,
      "the subquery Q2 decorrelates into two supply builds (the " +
        "documented contrast — if Catalyst ever merges them, update " +
        "the scaladoc trade)")
    val p = plan("q_min_cost_supplier_fused")
    assert(p.contains("windowspecdefinition(partkey"),
      "the per-part minimum must ride a partkey-partitioned window")
  }

  test("Q2 scalar-MIN decorrelates; Q18 IN-over-HAVING plans as a semi join") {
    val p2 = plan("q_min_cost_supplier")
    assert(!p2.contains("CartesianProduct"), "Q2 shape fell to a cartesian")
    assert(!p2.contains("BroadcastNestedLoopJoin"),
      "Q2 correlated MIN nested-loops — not decorrelated")
    assert(p2.contains("HashAggregate"),
      "Q2's correlated MIN must become a per-part aggregate")
    val p18 = plan("q_large_volume_orders")
    assert(p18.contains("LeftSemi"),
      "Q18's IN must plan as a semi join against the grouped-HAVING aggregate")
    assert(!p18.contains("CartesianProduct"))
  }

  test("canon completions: Q4 semi, Q16 anti, Q6 full pushdown, Q13 ON-filter pushed") {
    val p4 = plan("q_order_priority_check")
    assert(p4.contains("LeftSemi"), "Q4's EXISTS must plan as a semi join")
    assert(!p4.contains("CartesianProduct"))
    val p16 = plan("q_supplier_cnt")
    assert(p16.contains("LeftAnti"), "Q16's NOT IN must plan as an anti join")
    assert(p16.contains("In(p_size"), "size IN-list not pushed to the part scan")
    // the PushedFilters list truncates in the plan string, so the date/
    // discount/quantity conjuncts are pinned via the (untruncated) scan
    // Filter node plus a non-empty pushed list
    // r18: constraintPropagation is off (see Bench.scala), so the scan no
    // longer carries an optimizer-INFERRED IsNotNull prefix — the pinned
    // property is that the EXPLICIT range predicate reaches the scan
    // (comparison pushdown prunes nulls at the reader anyway)
    val p6 = plan("q_forecast_revenue")
    assert(p6.contains("PushedFilters: [GreaterThanOrEqual(l_shipdate"),
      "Q6's scan pushed nothing")
    assert(p6.contains(">= 0.05)") && p6.contains("<= 0.07)")
      && p6.contains("< 24.0)"),
      "Q6's three predicates must ALL sit on the lineitem scan stage")
    val p13 = plan("q_customer_order_dist")
    assert(p13.contains("Not(EqualTo(o_orderpriority"),
      "Q13's ON-clause filter must push into the orders scan")
    assert(p13.contains("LeftOuter"),
      "Q13 must stay an outer join (zero-order customers are the point)")
  }

  test("star joins broadcast every dimension, none fall back to sort-merge") {
    val p = plan("q_join_nation_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("filters push into the parquet scans") {
    Seq("q1_agg", "f1_locf_events").foreach { q =>
      val p = plan(q)
      assert(p.contains("PushedFilters: ["), s"$q has no pushed filters section")
      assert(!p.contains("PushedFilters: []"), s"$q pushed nothing")
    }
    // q_semi_join's probe-side scan legitimately pushes nothing with
    // constraintPropagation off (the IsNotNull(c_custkey) it used to
    // carry was optimizer-inferred from the join; keys are non-null by
    // schema contract); the EXPLICIT o_totalprice predicate must still
    // reach the orders scan
    val p = plan("q_semi_join")
    assert(p.contains("PushedFilters: [GreaterThan(o_totalprice"),
      "q_semi_join's explicit orders predicate did not push")
  }

  test("scale-path near-dup and ANN joins are equi-joins, not cartesian") {
    Seq("q_dedup_minhash_pairs", "q_dedup_ngram_jaccard", "q_dedup_simhash_banded",
      "q_sim_ann_lsh", "q_sim_ann_ivf", "q_decontaminate",
      "q_dedup_prefix_join", "q_dedup_containment_prefix").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q contains a cartesian product")
    }
  }

  test("SQL-front-end joins pick hash strategies and push their filters") {
    Seq("q_ship_priority", "q_in_subquery").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
        s"$q has no hash/merge join")
      assert(!p.contains("CartesianProduct"), s"$q contains a cartesian product")
      // the driving fact scan may legitimately have nothing to push (its
      // predicates became joins); the filtered dim scans must push their
      // EXPLICIT predicates (no inferred-IsNotNull prefix with
      // constraintPropagation off — see Bench.scala)
      assert(Seq("EqualTo(", "GreaterThan(", "LessThan(", "In(", "IsNotNull(")
        .exists(f => p.contains("PushedFilters: [" + f)),
        s"$q pushed no filters into any scan")
    }
  }

  test("correlated aggregate subqueries decorrelate to joins, never re-scan per row") {
    Seq("q_corr_agg_subquery", "q_corr_in_subquery").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q contains a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q nested-loops the subquery")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
        s"$q has no hash/merge join — subquery not decorrelated?")
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        s"$q shows no aggregate for the decorrelated subquery")
    }
  }

  test("fused Q17 shape reads lineitem exactly once; the subquery form pays three scans") {
    // count scan lines in the plan STRING — SparkPlan.foreach does not
    // descend into AdaptiveSparkPlanExec's wrapped plan
    def lineitemScans(name: String): Int =
      plan(name).linesIterator
        .count(l => l.contains("FileScan") && l.contains("lineitem"))
    assert(lineitemScans("q_corr_agg_fused") == 1,
      "the fused plan must read the fact table exactly once")
    // the decorrelated twin really does pay one scan per correlated
    // aggregate plus the outer — the contrast this spec documents
    assert(lineitemScans("q_corr_agg_subquery") == 3)
  }

  test("AQE splits a deliberately skewed join partition (OptimizeSkewedJoin)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one key owns half the fact rows — the classic hot-key join profile;
    // thresholds are scaled down so the test corpus trips the same rewrite
    // a 100 TB hot key would trip at the defaults
    val restore = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val pad = "x" * 64
      val facts = spark.range(0, 100000)
        .select(when(col("id") % 2 === 0, lit(0L)).otherwise(col("id") % 500L).as("k"),
          concat(col("id").cast("string"), lit(pad)).as("payload"))
      val dims = spark.range(0, 500).select(col("id").as("k"),
        concat(lit("dim"), col("id").cast("string")).as("name"))
      val joined = facts.join(dims, "k")
      // collect() (not count()) — count builds its own AdaptiveSparkPlan;
      // the skew rewrite must be read off the plan that actually ran
      assert(joined.collect().length == 100000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the hot-key join as skewed:\n${finalPlan.take(2000)}")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter from a selective dim prunes the fact scan side") {
    import org.apache.spark.sql.functions._
    // a selective filter on the build side of a shuffle join should inject
    // a bloom_filter_might_contain onto the fact side at runtime — the
    // row-level pruning a 100 TB fact scan needs when partition pruning
    // can't apply; thresholds scaled down so the test corpus qualifies
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // no broadcast: force the bloom path
      val li = graft.ops.Tables.lineitem(spark, "/root/testdata/sf0.01")
      val o = graft.ops.Tables.orders(spark, "/root/testdata/sf0.01")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n${plan.take(2000)}")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the quadratic oracle twins are the ONLY sanctioned cross joins") {
    // documented exception: pre-sampled pair queries are quadratic by design
    val p = plan("q_sim_cosine_pairs")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
  }

  test("SCD2 build runs on a single hash exchange (both windows + agg + lead)") {
    // hash(user_id) satisfies the window partitioning, the (user_id,
    // version) aggregation clustering, and the lead() window — one wide
    // shuffle total; the only other exchange is the output sort
    val p = plan("q_scd2_build")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx")
  }

  test("LOCF and interpolation expand after ONE shuffle of the change points") {
    // the grid is exploded map-side after the window's exchange: no
    // distinct-id stage, no second scan of the changes, no union with the
    // dense grid; the final orderBy is a range exchange, not a hash one
    Seq("f1_locf_events", "q_interpolate_linear").foreach { q =>
      val p = plan(q)
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 1, s"$q: expected 1 hash exchange, got $hashEx")
      val scans = p.linesIterator.count(_.contains("events.parquet"))
      assert(scans == 1, s"$q: expected 1 events scan, got $scans")
    }
  }

  test("sketch probes broadcast the sketch, never shuffle the probe side against data") {
    Seq("q_cms_topk", "q_bloom_decontaminate").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q does not broadcast its sketch")
      assert(!p.contains("CartesianProduct"), s"$q degenerated to a cartesian")
    }
  }

  test("fuzzy join blocks via equi-join — no cartesian, verify only inside blocks") {
    val p = plan("q_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "blocking failed: fuzzy join is quadratic across blocks")
  }

  test("weighted sample is a global top-k, not a full sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n${p.take(1500)}")
  }

  test("CDC diff: one PK join, scans pruned to key + payload, no cartesian") {
    val p = plan("q_cdc_diff")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // both snapshot scans must read ONLY the diffed columns
    p.linesIterator.filter(l => l.contains("FileScan") && l.contains("orders"))
      .foreach { l =>
        assert(!l.contains("o_totalprice") && !l.contains("o_orderdate"),
          s"snapshot scan reads undiffed columns: $l")
      }
  }

  test("event paths terminate in a global top-k over the domain-sized count") {
    val p = plan("q_event_paths")
    assert(p.contains("TakeOrderedAndProject"), "top-10 paths must plan as top-k")
  }

  test("co-occurrence pairs join on the order key — never brand × brand cartesian") {
    val p = plan("q_cooccur_lift")
    // the only nested-loop allowed is the 1-row scalar (n_orders) broadcast
    assert(!p.contains("CartesianProduct"), "basket self-join degenerated")
    val smj = "SortMergeJoin".r.findAllIn(p).length +
      "BroadcastHashJoin".r.findAllIn(p).length
    assert(smj >= 1, "pair generation lost its equi-join")
  }

  test("graph queries: data-sized work is the edge build; iteration joins are equi") {
    Seq("q_pagerank", "q_graph_triangles").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      // the 4-table edge build must join hash/merge, not nested-loop
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
        s"$q edge build lost its equi-joins")
    }
  }

  test("binned range join plans as an equi-join — the pure-range BNLJ shape eliminated") {
    val p = plan("q_range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "binning failed: pure range join still nested-loops")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("KMV sketch aggregate plans partial + final (map-side combine)") {
    val p = plan("q_kmv_distinct")
    // Aggregator-backed UDAFs plan ObjectHashAggregate with a partial pass;
    // seeing two aggregate nodes for the sketch proves map-side combine
    val objAgg = "ObjectHashAggregate".r.findAllIn(p).length
    assert(objAgg >= 2, s"expected partial+final ObjectHashAggregate, got $objAgg:\n${p.take(1200)}")
  }

  test("z-score outliers: the flag-partitioned window only sees isin-prefiltered survivors") {
    val p = plan("q_outlier_zscore")
    // the quantity prefilter must reach the parquet scan (so the window's
    // exchange carries a sliver, not the fact) and the ranking must keep
    // its map-side WindowGroupLimit
    assert(p.contains("PushedFilters: [Or(") || p.contains("In(l_quantity"),
      "survivor prefilter did not push into the scan")
    assert(p.contains("WindowGroupLimit"), "rank-50 lost its group limit")
    val scanLine = p.linesIterator.find(_.contains("FileScan")).get
    assert(scanLine.contains("l_quantity"), "scan lost the prefilter column")
  }

  test("MAD outliers: driver-assembled literal result — no rank window, no wide exchange at all") {
    // the two bounded-output aggregation jobs (bucket histogram + covered
    // value counts, RobustStats.madProfile) run eagerly inside the query
    // fn; the returned plan must be the metadata-sized literal, proving no
    // full-table sort can land in the 3-value flag exchange
    val p = plan("q_outlier_mad")
    assert(p.contains("LocalTableScan"), s"expected literal result plan:\n$p")
    assert(!p.contains("Window") && !p.contains("Exchange"),
      s"metadata-sized result must not shuffle or sort:\n$p")
  }

  test("CDC apply compacts via partial max_by — no per-key window, one hash exchange") {
    val p = plan("q_cdc_apply")
    // the whole point vs the oracle's row_number formulation: no Window
    // node anywhere, and the changelog shuffles ONCE (the groupBy), with
    // map-side partial aggregation ahead of the exchange
    assert(!p.contains("Window"), s"compaction regressed to a window sort:\n${p.take(1200)}")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx")
    // struct-ordered max_by plans as SortAggregate (struct buffers are not
    // hash-aggregable); the partial_ prefix is what proves map-side combine
    assert(p.contains("partial_max_by"), s"no map-side partial max_by:\n${p.take(1200)}")
    val aggs = "SortAggregate|HashAggregate|ObjectHashAggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregation, got $aggs nodes")
  }

  test("sorted-neighborhood pairs: rank join is an equi-join, windows stay per-partition") {
    val p = plan("q_dedup_sorted_nbr")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "successor-rank join degenerated to a nested loop")
    // the global rank must come from the range-partitioned per-partition
    // window + offsets, never a single-partition global window
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"),
      "found an unpartitioned window")
  }

  test("hard negatives: candidates come from the cell equi-join, never corpus × queries") {
    val p = plan("q_hard_negatives")
    assert(!p.contains("CartesianProduct"),
      "in-cell candidate generation degenerated to a cartesian")
  }

  test("DSIR weights: token-keyed joins only; sole nested loop is the 1-row totals broadcast") {
    val p = plan("q_dsir_weights")
    assert(!p.contains("CartesianProduct"), "vocab join degenerated")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), "score join lost its equi-join")
  }

  test("link prediction: degree table broadcasts; witness combine keys the packed long") {
    val p = plan("q_link_prediction")
    assert(p.contains("BroadcastHashJoin"), "degree attach must broadcast")
    assert(!p.contains("CartesianProduct"), "two-hop degenerated to a cartesian")
    // the witness aggregation groups by the single packed pair key
    assert(p.contains("shiftleft"), "packed u<<32|v group key missing")
  }

  test("PCA moments: ONE pass, partial + final Aggregator (map-side combine)") {
    val p = plan("q_pca_power")
    // the driver has already collapsed the corpus: the remaining plan is
    // the literal 64-row result — no scan, no shuffle survives to output
    assert(!p.contains("Exchange") || p.contains("LocalTableScan"),
      "PCA output should be a driver-materialized literal frame")
  }

  test("bitmap distinct: bit_or aggregation plans partial + final combine") {
    val p = plan("q_bitmap_distinct")
    assert(p.contains("partial_bit_or") || p.contains("bit_or"),
      "bitmap OR aggregate missing")
    assert(!p.contains("CartesianProduct"))
  }

  test("A/B test and power analysis never shuffle more than the user-keyed combine") {
    Seq("q_ab_test", "q_power_analysis").foreach { q =>
      val p = plan(q)
      assert(p.contains("HashAggregate"), s"$q lost its hash aggregation")
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian")
      assert(!p.contains("SortMergeJoin"), s"$q grew a data-sized join")
    }
  }

  test("vocab coverage: the top-500 vocabulary membership join broadcasts") {
    val p = plan("q_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"), "vocabulary join must broadcast")
  }

  test("spatial join: grid-cell candidates are an equi-join, never all-pairs") {
    val p = plan("q_spatial_join")
    assert(!p.contains("CartesianProduct"), "spatial join went quadratic")
    assert(!p.contains("BroadcastNestedLoopJoin"), "spatial join nested-loops")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "cell-key join missing")
  }

  test("NB scoring: the weight table broadcasts onto the tf stream") {
    // the round-12 memoized score matrix moved the scoring join into the
    // one-per-session build (consumers read the checkpointed matrix) —
    // audit the BUILD plan for the broadcast, the consumer for leanness
    val build = graft.queries.ClassifierQueries
      .nbScoreMatrixBuild(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(build.contains("BroadcastHashJoin"), "weight join must broadcast")
    assert(!build.contains("CartesianProduct"), "score matrix grew a cartesian")
    val p = plan("q_nb_score")
    assert(!p.contains("CartesianProduct"), "nb_score grew a cartesian")
    assert(p.contains("WindowGroupLimit"),
      "the per-doc argmax must rank map-side-limited on the matrix")
  }

  test("ER clusters: blocking join hashes; no nested loop anywhere") {
    val p = plan("q_er_clusters")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "entity-resolution candidates must come from the blocking equi-join")
  }

  test("Neyman allocation: one stratum combine; windows ride the domain frame") {
    val p = plan("q_neyman_allocation")
    // the corpus-sized stage is the groupBy(source) — partial + final
    assert(p.contains("HashAggregate"), "stratum moments must hash-aggregate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "no join belongs in this plan at all")
    // exactly one exchange reads the fact scan side; the windows add
    // single-partition exchanges over the stratum DOMAIN only
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    assert(scans == 1, s"corpus must be scanned once, saw $scans")
  }

  test("token-budget fill: corpus combines to the quality grid before any window") {
    val p = plan("q_token_budget_fill")
    assert(p.contains("HashAggregate"), "quality-level rollup must hash-aggregate")
    assert(!p.contains("CartesianProduct"),
      "threshold search must not join the corpus against itself")
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    assert(scans == 1, s"corpus must be scanned once, saw $scans")
  }

  test("readability: scan-stage scoring, a single source-domain aggregate") {
    val p = plan("q_readability")
    assert(!p.contains("Join"), "per-doc scoring must not join")
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    assert(scans == 1, s"corpus must be scanned once, saw $scans")
  }

  test("Q8 market share: 6-table star — every dimension broadcasts, region filter pushes") {
    val p = plan("q_market_share")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"), "dimensions must broadcast")
    // explicit r_name equality, not the inferred-IsNotNull prefix
    // (constraintPropagation off — see Bench.scala)
    assert(p.contains("PushedFilters: [EqualTo(r_name"),
      "the r_name filter must reach a scan")
  }

  test("Q21 sole-late-supplier: both correlated EXISTS decorrelate to existence joins") {
    val p = plan("q_sole_late_supplier")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "EXISTS/NOT EXISTS must become joins, not per-row re-scans")
    assert(p.contains("LeftSemi") || p.contains("ExistenceJoin"),
      "the EXISTS must plan as a semi/existence join")
    assert(p.contains("LeftAnti") || p.contains("ExistenceJoin"),
      "the NOT EXISTS must plan as an anti/existence join")
  }

  test("IVF upsert: batch assignment is map-side (no join on the batch path), merge is grid-sized") {
    val p = plan("q_ivf_upsert")
    // the batch assignment embeds centroids as literals — nothing joins
    // the corpus to anything corpus-sized, and nothing nested-loops
    assert(!p.contains("CartesianProduct"), "upsert must not cartesian")
    // the merge joins the (cell, dim) stat grids — hash strategies only
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the stat-grid merge must be an equi-join")
  }

  test("ROC-AUC: broadcast model join, rank stage on the bin grid only") {
    // the scoring join now lives in the memoized matrix build (audited in
    // the NB-scoring test above); the consumer plan must stay lean: bins
    // from the matrix slice, a single-partition window on the BIN grid
    val p = plan("q_roc_auc")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "no join belongs in the consumer plan — it reads the matrix slice")
    assert(p.contains("Window"), "the rank stage must be a window on the grid")
  }

  test("Holt smoother: corpus collapses to the daily grid before the fold") {
    val p = plan("q_holt_linear")
    // the fact-sized stage is one partial-aggregatable groupBy(day);
    // the fold itself is a scalar expression over a collected array —
    // no join of any kind should appear
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("CartesianProduct"),
      "the smoother must not join — grid + fold only")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate") ||
      p.contains("ObjectHashAggregate"),
      "the daily rollup must be an aggregate")
  }
}
