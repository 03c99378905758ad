package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Suite-wide fact-scan-count lint (round-14 verdict task 2) — the third
  * house lint after WindowLintSpec (corpus-global windows) and
  * JoinLintSpec (corpus×corpus nested loops). The fused-Q2 twin
  * (TpchShapeQueries) proved the value of one-fact-scan plans and
  * PlanAuditSpec pins scan counts for two NAMED queries; this spec
  * generalizes the discipline: every registered query's OPTIMIZED plan
  * is walked, parquet scans of the corpus-sized fact tables (lineitem,
  * orders, events, documents, embeddings) are counted per table, and
  * any query reading the same fact ≥3× fails unless its shape is
  * justified in the closed allowlist below. Two scans stay legal
  * without ceremony — the two-pass exact-median / min-max-then-bin
  * family is an honest pattern (each pass is column-pruned and
  * shuffle-partial); a third scan of the same 100 TB table is where
  * "another pass" stops being a rounding error and starts being the
  * plan's dominant I/O term.
  *
  * Known blind spot, documented: frames materialized during query
  * CONSTRUCTION (`SessionCache.memo` builds, eager localCheckpoints such
  * as arrivalBuckets' narrow ids frame) surface as LogicalRDD leaves —
  * their build-time scans are invisible here. Memo builds amortize to
  * zero across consumers; the remaining per-construction checkpoints
  * are narrow id-column scans recorded in their own scaladocs (and the
  * allowlist notes them where they push a query's VISIBLE count down).
  */
class ScanCountLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val factTables =
    Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** Queries allowed ≥3 visible scans of one fact table, with why. */
  private val allowlist: Map[String, String] = Map(
    "q_corr_agg_subquery" ->
      ("deliberate decorrelation contrast twin: PlanAuditSpec PINS its " +
        "lineitem scan count at exactly 3 (one per correlated aggregate " +
        "plus the outer) against q_corr_agg_fused's 1 — the documented " +
        "cost of the textbook subquery form"),
    "q_sole_late_supplier" ->
      ("TPC-H Q21 canon: the EXISTS + NOT EXISTS pair over lineitem is " +
        "the benchmark's published shape; each of the three scans is " +
        "key+flag-pruned and the canon stays textbook on purpose " +
        "(the Q2/Q17 fused twins document the one-scan alternative)"),
    "q_large_volume_orders" ->
      ("TPC-H Q18 canon: the grouped-HAVING IN-subquery over lineitem " +
        "plus the outer join and the quantity sum — the benchmark's " +
        "published three-reference shape, kept textbook"),
    "q_profile_table" ->
      ("deliberate per-column profiling branches: each branch's parquet " +
        "scan prunes to exactly ONE column, which is NARROWER total I/O " +
        "than one 4-column scan whose 4-way countDistinct needs an " +
        "Expand that quadruples shuffle volume (see its scaladoc)"),
    "q_dedup_ngram_jaccard" ->
      ("pre-sampled (doc_id % 10) quadratic exact-Jaccard baseline; the " +
        "multi-reference of the per-doc gram-set frame is intrinsic to " +
        "the all-pairs form, and the MinHash/banded families are the " +
        "output-verified scale paths"),
    "q_ivf_multiprobe" ->
      ("trainedIvfCells contract: the assignment is a LAZY map-side " +
        "argmax over one memoized base read — re-references re-scan " +
        "cheaply instead of paying the measured ~0.4 s/level checkpoint " +
        "latency (scaladoc at ExtensionQueries.trainedIvfCells); at " +
        "100 TB production writes the final assignment bucketed once"),
    "q_label_noise" ->
      ("same trainedIvfCells lazy-assignment contract as " +
        "q_ivf_multiprobe: the screen joins level-0 and level-2 views " +
        "of the one memoized embeddings read"),
    "q_semdedup" ->
      ("same trainedIvfCells lazy-assignment contract: the in-cell pair " +
        "join references the level-2 view three times (both pair sides " +
        "+ the per-cell rollup) over the one memoized embeddings read"),
    "q_ivf_rerank" ->
      ("same trainedIvfCells lazy-assignment contract as " +
        "q_ivf_multiprobe: three probe depths derive recall + scanned " +
        "fraction from the one memoized embeddings read"),
    "q_ivf_pq_rerank" ->
      ("same trainedIvfCells lazy-assignment contract as q_ivf_rerank: " +
        "two probe depths' query-side probes plus the exact re-rank's " +
        "raw-vector lookups all derive from the one memoized embeddings " +
        "read (codes and corpus count come from the checkpointed code " +
        "frame, not a scan); at 100 TB the re-rank side is random access " +
        "into the bucketed raw store, candidate-sized"),
    "q_hard_negatives" ->
      ("same trainedIvfCells lazy-assignment contract: query set, " +
        "candidate set, and re-rank all derive from the memoized " +
        "embeddings read; PlanAuditSpec separately pins its " +
        "no-cartesian candidate generation"),
    "q_ivf_pq_residual" ->
      ("same trainedIvfCells lazy-assignment contract as " +
        "q_ivf_pq_rerank (audited x4 = its twin's count): two probe " +
        "depths' query sides plus the exact re-rank's raw-vector " +
        "lookups over the one memoized embeddings read; residual codes " +
        "come from the checkpointed code frame, not a scan"))

  /** Round-17 re-audit ratchet: every allowlist entry's justification
    * was re-verified against the HEAD plan and its ACTUAL per-table
    * scan count pinned here — an entry whose count silently grows past
    * what its prose justifies now fails instead of hiding behind the
    * blanket exemption. (q_corr_agg_subquery's exact count of 3 is
    * already pinned by PlanAuditSpec; it is ratcheted here too for
    * completeness.) */
  private val auditedCounts: Map[String, (String, Int)] = Map(
    "q_corr_agg_subquery" -> ("lineitem", 3),
    "q_sole_late_supplier" -> ("lineitem", 3),
    "q_large_volume_orders" -> ("lineitem", 3),
    "q_profile_table" -> ("orders", 4),
    "q_dedup_ngram_jaccard" -> ("documents", 4),
    "q_ivf_multiprobe" -> ("embeddings", 6),
    "q_label_noise" -> ("embeddings", 6),
    "q_semdedup" -> ("embeddings", 3),
    "q_ivf_rerank" -> ("embeddings", 15),
    "q_ivf_pq_rerank" -> ("embeddings", 4),
    "q_hard_negatives" -> ("embeddings", 4),
    "q_ivf_pq_residual" -> ("embeddings", 4))

  /** Per-fact-table scan counts in the query's optimized logical plan. */
  private def scanCounts(df: DataFrame): Map[String, Int] = {
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
    factTables.map { t =>
      t -> paths.count(_.endsWith(s"/$t.parquet"))
    }.filter(_._2 > 0).toMap
  }

  test("no registered query scans the same fact table 3+ times") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if allowlist.contains(name) => Nil
      case (name, fn) =>
        val hot = scanCounts(fn(spark, dir)).filter(_._2 >= 3)
        if (hot.isEmpty) Nil
        else Seq(s"$name -> ${hot.map { case (t, c) => s"$t x$c" }.mkString(", ")}")
    }
    assert(bad.isEmpty,
      "3+ scans of one corpus-sized fact table (each is a full-table I/O " +
        s"pass at 100 TB): ${bad.mkString("; ")} — fuse passes onto one " +
        "scan (the q_min_cost_supplier_fused pattern), memoize the shared " +
        "frame, or justify in the allowlist")
  }

  test("allowlist stays closed: every entry is a registered query") {
    val unknown = allowlist.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"stale allowlist entries: $unknown")
    val unaudited = allowlist.keySet -- auditedCounts.keySet
    assert(unaudited.isEmpty,
      s"allowlist entries without an audited scan-count pin: $unaudited")
  }

  test("allowlisted queries stay at their audited scan counts") {
    val drifted = auditedCounts.toSeq.sortBy(_._1).flatMap {
      case (name, (table, maxN)) =>
        val got = scanCounts(SparkEntry.queries(name)(spark, dir))
          .getOrElse(table, 0)
        if (got > maxN) Some(s"$name -> $table x$got (audited x$maxN)")
        else None
    }
    assert(drifted.isEmpty,
      "allowlisted scan counts grew past their audited pins — re-justify " +
        s"or fuse: ${drifted.mkString("; ")}")
  }

  test("the detector flags a triple-scan union") {
    val li = graft.ops.Tables.lineitem(spark, dir)
    def slice(f: String) = li.filter(col("l_returnflag") === f)
      .groupBy(col("l_linestatus")).agg(count(lit(1)).as("c"))
    val tripled = slice("R").union(slice("A")).union(slice("N"))
    assert(scanCounts(tripled).getOrElse("lineitem", 0) >= 3,
      "a 3-branch union over lineitem must count as 3 scans")
  }

  test("the detector passes single-scan and two-pass shapes") {
    val li = graft.ops.Tables.lineitem(spark, dir)
    val one = li.groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
    assert(scanCounts(one) == Map("lineitem" -> 1))
    // the sanctioned two-pass shape: a collected scalar re-applied
    val mx = li.agg(max(col("l_quantity"))).head.get(0)
    val two = li.filter(col("l_quantity") === lit(mx))
      .join(graft.ops.Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
    val c = scanCounts(two)
    assert(c.getOrElse("lineitem", 0) == 1 && c.getOrElse("orders", 0) == 1)
  }
}
