package graft

import org.apache.spark.sql.functions.col

/** Hand-built fixtures for the round-12 second batch: agreement stats
  * (kappa / Wilcoxon signed-rank), diff-in-diff, t-closeness, grouped
  * k-fold, label-propagation communities, MMR selection, and the
  * components kernel-vs-loop equivalence.
  */
class Round12bSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(dir: String, rows: Seq[(Long, String, String, String, Long)]): Unit =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("q_cohens_kappa: exact kappa on a hand confusion matrix") {
    val dir = tmpDir("kappa")
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // (a from n_chars: <220/<380/else; b from token count: <40/<69/else)
    val rows = Seq(
      (1L, toks(10), "en", "s", 100L), // a0 b0 agree
      (2L, toks(10), "en", "s", 100L), // a0 b0 agree
      (3L, toks(50), "en", "s", 300L), // a1 b1 agree
      (4L, toks(50), "en", "s", 300L), // a1 b1 agree
      (5L, toks(80), "en", "s", 500L), // a2 b2 agree
      (6L, toks(80), "en", "s", 100L)) // a0 b2 disagree
    writeDocs(dir, rows)
    val r = SparkEntry.queries("q_cohens_kappa")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().head
    // n=6 po=5; rows a:(3,2,1) cols b:(2,2,2) -> pe = 12
    // kappa = (5*6-12)/(36-12) = 0.75
    assert(r == ((6L, 5L, 12L, 750000L)))
  }

  test("q_wilcoxon_signed: exact rank statistics on hand-paired counts") {
    val dir = tmpDir("wilcoxon")
    val ts = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
    def order(k: Long, cust: Long, prio: String) =
      (k, cust, "O", 100.0, ts, prio)
    val rows = Seq(
      order(1, 1, "1-URGENT"), order(2, 1, "1-URGENT"), // d=+2
      order(3, 2, "1-URGENT"),                          // d=+1
      order(4, 3, "5-LOW"),                             // d=-1
      order(5, 4, "1-URGENT"), order(6, 4, "5-LOW"))    // d=0 dropped
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_wilcoxon_signed")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().head
    // |d| grid: 1 -> t=2 (p=1), 2 -> t=1 (p=1)
    // 2*avgrank: |d|=1 -> 3; |d|=2 -> 6; W2+ = 3 + 6 = 9
    // n=3: mean2 = 6; tie = 6; var12 = 2*3*4*7 - 6 = 162
    // z2_e6 = 9*12e6/162 = 666666; reject: 9*120000 < 38416*162 -> false
    assert(r == ((3L, 9L, 6L, 162L, 666666L, false)))
  }

  test("q_did: exact 2x2 cross-multiplied difference-in-differences") {
    val dir = tmpDir("did")
    val pre = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
    val post = java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
    Seq(
      (1L, 1L, "O", 10.0, pre, "3-MEDIUM"),
      (2L, 1L, "O", 30.0, post, "3-MEDIUM"),
      (3L, 2L, "O", 20.0, pre, "3-MEDIUM"),
      (4L, 2L, "O", 25.0, post, "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, "c1", 0, 0.0, "BUILDING"), (2L, "c2", 1, 0.0, "AUTOMOBILE"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val r = SparkEntry.queries("q_did")(spark, dir)
      .select("mean_tp_e6", "mean_tr_e6", "mean_cp_e6", "mean_cr_e6",
        "did_sign", "did_abs_e6")
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    // cents: treat 1000 -> 3000, ctrl 2000 -> 2500
    // DID = (3000-1000)-(2500-2000) = 1500 cents
    assert(r == ((3000L * 1000000, 1000L * 1000000, 2500L * 1000000,
      2000L * 1000000, 1L, 1500L * 1000000)))
  }

  test("q_t_closeness: two perfectly skewed segments score EMD 1/2") {
    val dir = tmpDir("tclose")
    Seq(
      (1L, "a", 0, 100.0, "X"), (2L, "b", 0, 100.0, "X"),   // bucket 0
      (3L, "c", 0, 1100.0, "Y"), (4L, "d", 0, 1100.0, "Y")) // bucket 1
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = SparkEntry.queries("q_t_closeness")(spark, dir)
      .as[(String, Long, Long, Long, Boolean)].collect().toSeq
    // each segment's CDF is a step 1/2 away from the global half/half CDF
    assert(got == Seq(("X", 2L, 2L, 500000L, true), ("Y", 2L, 2L, 500000L, true)))
  }

  test("q_group_kfold: groups never straddle folds; totals conserved") {
    val dir = tmpDir("kfold")
    val ts = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
    val rows = (1L to 200L).map(k =>
      (k, k % 40 + 1, "O", 10.0, ts, "3-MEDIUM")) // 40 groups x 5 rows
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q_group_kfold")(spark, dir)
      .select("fold", "n_groups", "n_rows", "row_share_e6", "max_folds_per_group")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._2).sum == 40L, "every group in exactly one fold")
    assert(got.map(_._3).sum == 200L)
    assert(got.forall(_._5 == 1L), "no group straddles folds")
    assert(got.forall(r => r._4 == r._3 * 1000000L / 200L))
  }

  test("q_label_propagation: two co-supply cliques collapse to two communities") {
    val dir = tmpDir("lpa")
    // suppliers {1,2,3} share parts 1-10; {10,11,12} share parts 21-30;
    // one weak cross pair (3,10) via part 40 is sparsified away
    val rows =
      (1L to 10L).flatMap(p => Seq(1L, 2L, 3L).map(s => (p, s))) ++
      (21L to 30L).flatMap(p => Seq(10L, 11L, 12L).map(s => (p, s))) ++
      Seq((40L, 3L), (40L, 10L))
    rows.toDF("l_partkey", "l_suppkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_label_propagation")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L)))
  }

  test("q_mmr_select: exact greedy trace on unit-component vectors") {
    val dir = tmpDir("mmr")
    def v(x: Float, y: Float, z: Float) = Seq(x, y, z)
    Seq(
      (0L, v(1, 0, 0), 0L), // query
      (1L, v(1, 0, 0), 0L), (2L, v(1, 1, 0), 0L), (3L, v(1, 0, 1), 0L),
      (4L, v(0, 1, 0), 0L), (5L, v(1, 1, 1), 0L), (6L, v(0, 0, 1), 0L))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q_mmr_select")(spark, dir)
      .as[(Int, Long, Long, Long)].collect().toSeq
    // hand trace (lambda=0.7, scores = 7*rel - 3*maxsim):
    // 1: v1 (rel 1e6); 2: v2 (dup of axis, 2828428 ties broken by id);
    // 3: v3; 4: v5 (1591959 beats the orthogonals' 0 - penalties);
    // 5: v4 vs v6 tie at -2121321 (both max-sim 1/sqrt(2) to an axis
    //    pick) -> v4 by id
    assert(got == Seq(
      (1, 1L, 1000000L, 0L),
      (2, 2L, 707107L, 707107L),
      (3, 3L, 707107L, 707107L),
      (4, 5L, 577350L, 816497L),
      (5, 4L, 0L, 707107L)))
  }

  test("connectedComponents: driver kernel and distributed loop agree") {
    // a 60-node path graph (worst case for propagation) plus two cliques
    val pairs = ((1L to 59L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (101L, 102L)) ++
      Seq((200L, 201L))).toDF("id_a", "id_b")
    val fast = graft.ops.Dedup.connectedComponents(pairs, "id_a", "id_b",
        uniquePairs = true)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val loop = graft.ops.Dedup.connectedComponents(pairs, "id_a", "id_b",
        uniquePairs = true, kernelCap = -1L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(fast == loop)
    assert(fast.filter(_._1 <= 60L).forall(_._2 == 1L))
    assert(fast.filter(r => r._1 >= 100L && r._1 <= 102L).forall(_._2 == 100L))
    assert(fast.filter(_._1 >= 200L).forall(_._2 == 200L))
    // general (non-unique) path: duplicated + reversed pairs, same answer
    val dup = pairs.union(pairs.select(col("id_b"), col("id_a")))
    val gen = graft.ops.Dedup.connectedComponents(dup, "id_a", "id_b")
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(gen == fast)
  }
}
