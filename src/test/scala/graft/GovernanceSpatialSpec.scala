package graft

import java.sql.Timestamp

/** Semantic invariants for the spatial, governance, and as-of-tolerance
  * additions: brute-force agreement for the grid join (independent of the
  * DuckDB oracle), hand-built equivalence classes for k-anonymity,
  * designed match/no-match records for ER clustering, and both tolerance
  * branches of the bounded-staleness as-of join.
  */
class GovernanceSpatialSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureDir(tables: (String, org.apache.spark.sql.DataFrame)*): String = {
    val dir = tmpDir("gov-fixture")
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  test("q_spatial_join equals an in-memory brute force at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q_spatial_join")(spark, sf)
      .select("id_a", "id_b", "d2")
      .as[(Long, Long, Long)].collect().toSet
    // recompute the same hash coordinates through the engine's own
    // expression, then pair them quadratically on the driver (n=150)
    val pts = graft.ops.Tables.customer(spark, sf)
      .select(org.apache.spark.sql.functions.col("c_custkey"),
        graft.ops.TextAnalysis.hashBucket(
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("x"),
            org.apache.spark.sql.functions.col("c_custkey").cast("string")), 100000),
        graft.ops.TextAnalysis.hashBucket(
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("y"),
            org.apache.spark.sql.functions.col("c_custkey").cast("string")), 100000))
      .as[(Long, Long, Long)].collect()
    val brute = (for {
      (ia, xa, ya) <- pts; (ib, xb, yb) <- pts if ia < ib
      d2 = (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) if d2 <= 1000000L
    } yield (ia, ib, d2)).toSet
    assert(got == brute, s"grid join diverged from brute force: got=${got.size} brute=${brute.size}")
  }

  test("q_k_anonymity: class sizes, l-diversity, and the k<5 flag") {
    // seg A bucket 0: 6 members over 3 nations; seg B bucket 2: 2 members
    val cust = (
      (1 to 6).map(i => (i.toLong, i % 3, 100.0, "A")) ++
      Seq((7L, 1, 2500.0, "B"), (8L, 2, 2600.0, "B")))
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val dir = fixtureDir("customer" -> cust)
    val got = SparkEntry.queries("q_k_anonymity")(spark, dir)
      .select("segment", "bal_bucket", "k", "l", "risky")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got(("A", 0L)) == ((6L, 3L, false)))
    assert(got(("B", 2L)) == ((2L, 2L, true)))
  }

  test("q_er_clusters: clean+dirty copies link on >=3 agreements; too-dirty records stay singletons") {
    def nm(k: Int) = f"Customer#$k%09d"
    // key 1: all 4 fields agree -> 2-cluster; key 15 (%3 and %5): bal and
    // nation both drift -> 2 agreements -> singletons
    val cust = Seq(
      (1L, nm(1), 10, 100.00, "AUTO"),
      (15L, nm(15), 11, 200.00, "AUTO"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val dir = fixtureDir("customer" -> cust)
    val got = SparkEntry.queries("q_er_clusters")(spark, dir)
      .select("id", "cluster", "cluster_size", "canonical")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((1L, 2L, true)))
    assert(got(1000001L) == ((1L, 2L, false)), "dirty copy joins key 1's cluster")
    assert(got(15L) == ((15L, 1L, true)), "2-agreement record must not link")
    assert(got(1000015L) == ((1000015L, 1L, true)))
  }

  test("q_asof_tolerance: fresh match attaches, stale match nulls out") {
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 7L, "purchase", 50.0, "{}"),
      (2L, ts("2024-01-02 00:00:00"), 7L, "click", 0.0, "{}"), // age 1d: fresh
      (3L, ts("2024-01-05 00:00:00"), 7L, "click", 0.0, "{}"), // age 4d: stale
      (4L, ts("2024-01-01 00:00:00"), 8L, "click", 0.0, "{}")) // no purchase
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = fixtureDir("events" -> ev)
    val got = SparkEntry.queries("q_asof_tolerance")(spark, dir)
      .select("event_id", "asof_event_id", "age_us")
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(got(2L) == ((Some(1L), Some(86400000000L))), "1-day-old match is fresh")
    assert(got(3L) == ((None, None)), "4-day-old match must be discarded")
    assert(got(4L) == ((None, None)), "unmatched left row stays null")
  }

  test("q_fk_orphans: seeded orphan counted per row; NULL FK excluded") {
    // two orders rows point at a missing customer key 99 (row-rate 2,
    // key-rate 1); one orders row has a NULL FK and must NOT count as an
    // orphan (the pinned anti-join/NOT EXISTS semantics)
    val region = Seq(0L).toDF("r_regionkey")
    val nation = Seq((0L, 0L)).toDF("n_nationkey", "n_regionkey")
    val customer = Seq((1L, 0L)).toDF("c_custkey", "c_nationkey")
    val supplier = Seq((1L, 0L)).toDF("s_suppkey", "s_nationkey")
    val part = Seq(1L).toDF("p_partkey")
    val orders = Seq(
      (10L, java.lang.Long.valueOf(1L)),
      (11L, java.lang.Long.valueOf(99L)),
      (12L, java.lang.Long.valueOf(99L)),
      (13L, null.asInstanceOf[java.lang.Long]))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 1L, 1L)).toDF("l_orderkey", "l_partkey", "l_suppkey")
    val dir = fixtureDir("region" -> region, "nation" -> nation,
      "customer" -> customer, "supplier" -> supplier, "part" -> part,
      "orders" -> orders, "lineitem" -> lineitem)
    val got = SparkEntry.queries("q_fk_orphans")(spark, dir)
      .select("edge", "n_child_rows", "n_orphan_rows", "n_orphan_keys")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("orders.o_custkey->customer") == ((4L, 2L, 1L)),
      "2 orphan ROWS over 1 orphan KEY; the NULL-FK row is excluded")
    assert(got("lineitem.l_orderkey->orders") == ((1L, 0L, 0L)))
    assert(got("nation.n_regionkey->region") == ((1L, 0L, 0L)))
  }

  test("q_dp_counts: noise is the deterministic Laplace inverse-CDF; release = true + noise") {
    val cust = Seq(
      (1L, 0, 100.0, "AUTO"), (2L, 1, 200.0, "AUTO"), (3L, 2, 300.0, "AUTO"),
      (4L, 0, 100.0, "STEEL"))
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    val dir = fixtureDir("customer" -> cust)
    val got = SparkEntry.queries("q_dp_counts")(spark, dir)
      .select("segment", "n_true", "noise", "n_noisy")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got("AUTO")._1 == 3L && got("STEEL")._1 == 1L)
    got.foreach { case (seg, (t, noise, noisy)) =>
      // release = true + noise at 6dp, and Laplace(b=1) noise is small
      assert(math.abs(noisy - (t + noise)) < 1e-6, s"$seg release arithmetic")
      assert(math.abs(noise) < 25.0, s"$seg noise unreasonably large: $noise")
    }
    // deterministic: the same segment re-draws the identical noise
    val again = SparkEntry.queries("q_dp_counts")(spark, dir)
      .select("segment", "noise").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    got.foreach { case (seg, (_, noise, _)) => assert(again(seg) == noise) }
  }
}
