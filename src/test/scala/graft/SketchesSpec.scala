package graft

import graft.ops.Sketches
import org.apache.spark.sql.functions._

/** Sketch guarantees that the oracle hash-compare can't articulate:
  * CMS one-sided error, Bloom no-false-negatives for every inserted
  * member, and the fixed-size scaling claims.
  */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q_cms_topk: estimates never undercount (CMS one-sided error)") {
    val rows = q("q_cms_topk")
      .select("exact_n", "est_n", "overestimate_only")
      .as[(Long, Long, Boolean)].collect()
    assert(rows.length == 20)
    rows.foreach { case (exact, est, flag) =>
      assert(est >= exact && flag, s"CMS undercounted: est $est < exact $exact")
    }
  }

  test("KmvSketch: sketch == sorted k smallest distinct, under any partitioning") {
    val sk = graft.functions.KmvSketch(8)
    val rnd = new scala.util.Random(7)
    val values = Array.fill(500)(rnd.nextLong(1000)) // heavy duplication
    val expected = values.distinct.sorted.take(8).toSeq

    // single-stream reduce
    val reduced = values.foldLeft(sk.zero)(sk.reduce)
    assert(reduced.toSeq == expected)

    // arbitrary partition boundaries + merges reach the same state
    for (splits <- Seq(Seq(100, 400), Seq(1, 2, 3), Seq(250))) {
      val chunks = (Seq(0) ++ splits ++ Seq(values.length)).sliding(2).map {
        case Seq(a, b) => values.slice(a, b).foldLeft(sk.zero)(sk.reduce)
      }.toSeq
      val merged = chunks.reduce(sk.merge)
      assert(merged.toSeq == expected, s"merge at $splits diverged")
      val mergedRev = chunks.reverse.reduce(sk.merge)
      assert(mergedRev.toSeq == expected, "merge is not commutative")
    }

    // under k distinct values the sketch is exhaustive
    val few = Array(5L, 3L, 5L, 3L, 9L)
    assert(few.foldLeft(sk.zero)(sk.reduce).toSeq == Seq(3L, 5L, 9L))

    // merging a sketch with itself is idempotent
    assert(sk.merge(reduced, reduced).toSeq == expected)
  }

  test("q_kmv_distinct: accuracy flags hold and sketch values are real hashes") {
    val rows = q("q_kmv_distinct")
      .select("k_used", "kth_hash", "est", "n_exact", "ok")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (k, kth, est, exact, ok) =>
      assert(ok, s"estimate $est vs exact $exact breached the contract")
      assert(k <= 64 && kth >= 0 && kth < (1L << 32))
      if (k < 64) assert(est == k, "sub-k sketch must be exact")
    }
  }

  test("q_kmv_setops: union estimate bounded by marginal sums, jaccard flags hold") {
    val rows = q("q_kmv_setops")
      .select("k_used", "est_union", "n_union", "jac_est", "jac_exact", "ok_union", "ok_jac")
      .as[(Long, Long, Long, Double, Double, Boolean, Boolean)].collect()
    assert(rows.length == 10) // C(5,2) source pairs
    rows.foreach { case (k, est, union, jest, jexact, okU, okJ) =>
      assert(okU && okJ, s"contract breach: est $est vs $union, jac $jest vs $jexact")
      assert(jest >= 0 && jest <= 1 && k <= 64)
    }
  }

  test("q_kmv_diff: all ordered pairs inside the union-relative contract, unions symmetric") {
    val rows = q("q_kmv_diff")
      .select("src_a", "src_b", "est_only_a", "n_only_a", "n_union", "ok")
      .as[(String, String, Long, Long, Long, Boolean)].collect()
    assert(rows.length == 20) // 5P2 ordered pairs
    rows.foreach { case (a, b, est, exact, union, ok) =>
      assert(ok, s"|$a \\ $b| contract breach: est $est vs $exact (union $union)")
      assert(est >= 0 && exact <= union)
    }
    val unions = rows.map(r => (r._1, r._2) -> r._5).toMap
    unions.foreach { case ((a, b), u) =>
      assert(unions((b, a)) == u, s"union($a,$b) not symmetric")
    }
  }

  test("q_kmv_setops sub-k fixture: exhaustive sketches give EXACT jaccard (the c/k_used divisor)") {
    // two sources with identical 7-token texts: merged sketch is sub-k
    // exhaustive, so jac_est must be exactly 1.0 — a c/64 divisor would
    // emit 5/64 and fail the ±0.15 contract (regression for that bug)
    val dir = tmpDir("kmv-subk")
    Seq(
      (1L, "a b c d e f g", "en", "src0", 13L),
      (2L, "a b c d e f g", "en", "src1", 13L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("q_kmv_setops")(spark, dir)
      .select("k_used", "est_union", "n_union", "jac_est", "jac_exact", "ok_union", "ok_jac")
      .as[(Long, Long, Long, Double, Double, Boolean, Boolean)].collect()
    assert(row.length == 1)
    val (k, est, union, jest, jexact, okU, okJ) = row.head
    assert(k == 5 && est == 5 && union == 5, s"sub-k sketch not exhaustive: $row")
    assert(jest == 1.0 && jexact == 1.0 && okU && okJ, s"sub-k jaccard not exact: $row")
  }

  test("q_bloom_decontaminate: every exact match is a bloom hit (no false negatives)") {
    val bad = q("q_bloom_decontaminate")
      .filter(!col("no_false_negative") || col("n_bloom_hits") < col("n_exact_hits"))
      .count()
    assert(bad == 0)
  }

  test("bloomBits: every inserted member probes positive on a literal set") {
    val items = (1 to 200).map(i => s"item-$i").toDF("g")
    val bloom = items
      .select(explode(Sketches.bloomBits($"g", 3, 64)).as("b"))
      .select($"b.word".as("word"), $"b.mask".as("mask"))
      .groupBy($"word").agg(expr("bit_or(mask)").as("bits"))
    val missing = items
      .select($"g", explode(Sketches.bloomBits($"g", 3, 64)).as("b"))
      .select($"g", $"b.word".as("word"), $"b.mask".as("mask"))
      .join(bloom, Seq("word"), "left_outer")
      .groupBy($"g")
      .agg(min(when($"bits".isNotNull && ($"bits".bitwiseAND($"mask") =!= 0L), 1)
        .otherwise(0)).as("all_hit"))
      .filter($"all_hit" === 0).count()
    assert(missing == 0, "an inserted member probed negative")
  }

  test("cms sketch size is depth*width regardless of stream size") {
    val toks = graft.ops.Tables.documents(spark, sf)
      .select(explode(graft.ops.TextAnalysis.tokens($"text")).as("tok"))
    val cells = toks.select(explode(Sketches.cmsCells($"tok", 4, 64)).as("c"))
      .groupBy($"c.d", $"c.cell").count()
    assert(cells.count() <= 4L * 64)
  }

  test("bloom masks stay positive (32-bit blocks dodge the 1<<63 trap)") {
    val bad = (1 to 500).map(i => s"m$i").toDF("g")
      .select(explode(Sketches.bloomBits($"g", 3, 8)).as("b"))
      .filter($"b.mask" <= 0L || $"b.word" < 0L || $"b.word" >= 8L)
      .count()
    assert(bad == 0)
  }
}
