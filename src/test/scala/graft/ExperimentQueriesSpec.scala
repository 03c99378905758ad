package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Hand-built fixtures for the round-11 experimentation family: ANOVA
  * against closed-form sums of squares, CUPED θ / variance-reduction
  * against hand-computed covariances, BH step-down structural invariants
  * (monotone adjusted p, prefix-shaped rejections), Kendall tau-b with a
  * known concordant/discordant census, and the grid kNN against an
  * in-test brute force.
  */
class ExperimentQueriesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def eventsDir(rows: Seq[(Long, String, String, Double)]): String = {
    val dir = tmpDir("exp-fixture")
    rows.map { case (uid, day, typ, v) =>
      (uid, Timestamp.valueOf(s"$day 12:00:00"), typ, v, s"e$uid-$day-$typ")
    }.toDF("user_id", "ts", "event_type", "value", "event_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q_anova: closed-form two-group sums of squares") {
    // group a: values 1,2 (mean 1.5); group b: 3,5 (mean 4); grand 2.75
    // SSB = 2(1.5-2.75)^2 + 2(4-2.75)^2 = 6.25; SSW = .5 + 2 = 2.5
    // F = (6.25/1)/(2.5/2) = 5; eta^2 = 6.25/8.75
    val dir = eventsDir(Seq(
      (1L, "2024-01-01", "a", 1.0), (2L, "2024-01-02", "a", 2.0),
      (3L, "2024-01-03", "b", 3.0), (4L, "2024-01-04", "b", 5.0)))
    val r = SparkEntry.queries("q_anova")(spark, dir).collect().head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("ss_between") == 6.25)
    assert(r.getAs[Double]("ss_within") == 2.5)
    assert(r.getAs[Double]("f_stat") == 5.0)
    assert(math.abs(r.getAs[Double]("eta_sq") - 6.25 / 8.75) < 1e-6)
  }

  test("q_cuped: theta and variance reduction match hand-computed covariances") {
    // users (x, y): (1,2), (2,4), (3,7) -> n*Sxy - SxSy = 93-78 = 15,
    // n*Sxx - Sx^2 = 42-36 = 6 -> theta = 2.5;
    // rho^2 = 15^2 / (6 * (3*69 - 13^2)) = 225/228
    val dir = eventsDir(Seq(
      (1L, "2024-01-05", "v", 1.0), (1L, "2024-01-20", "v", 2.0),
      (2L, "2024-01-06", "v", 2.0), (2L, "2024-01-21", "v", 4.0),
      (3L, "2024-01-07", "v", 3.0), (3L, "2024-01-22", "v", 7.0)))
    val r = SparkEntry.queries("q_cuped")(spark, dir).collect().head
    assert(r.getAs[Double]("theta") == 2.5)
    assert(math.abs(r.getAs[Double]("var_reduction") - 225.0 / 228.0) < 1e-6)
  }

  test("q_fdr_bh: adjusted p monotone along the rank order; rejections form a prefix") {
    val rows = SparkEntry.queries("q_fdr_bh")(spark, sf)
      .orderBy("i").collect()
    assert(rows.length == 25)
    val pAdj = rows.map(_.getAs[Double]("p_adj"))
    assert(pAdj.sliding(2).forall(w => w(0) <= w(1) + 1e-12),
      "BH adjusted p must be non-decreasing in rank")
    assert(pAdj.forall(p => p >= 0.0 && p <= 1.0))
    val rejects = rows.map(_.getAs[Boolean]("reject"))
    val firstKeep = rejects.indexOf(false)
    if (firstKeep >= 0)
      assert(rejects.drop(firstKeep).forall(!_),
        "rejections must be a prefix of the rank order")
    // adjusted p >= raw p always (m/i >= 1 at i = m and the tail min caps)
    rows.foreach { r =>
      assert(r.getAs[Double]("p_adj") + 1e-9 >=
        r.getAs[Double]("p") * 25.0 / 25.0 - 1e-9)
    }
  }

  test("q_kendall_tau: known 3-month census (C=2, D=1) gives tau_b = 1/3") {
    val dir = tmpDir("kendall")
    // Jan: 1 order, 10 cents; Feb: 2 orders, 20 cents; Mar: 3 orders, 15 cents
    Seq(
      (1L, "1995-01-10", 0.10), (2L, "1995-02-05", 0.12), (3L, "1995-02-06", 0.08),
      (4L, "1995-03-01", 0.05), (5L, "1995-03-02", 0.05), (6L, "1995-03-03", 0.05))
      .map { case (k, d, p) => (k, Timestamp.valueOf(s"$d 00:00:00"), p) }
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = SparkEntry.queries("q_kendall_tau")(spark, dir).collect().head
    assert(r.getAs[Long]("conc") == 2L && r.getAs[Long]("disc") == 1L)
    assert(r.getAs[Long]("ties_x") == 0L && r.getAs[Long]("ties_y") == 0L)
    assert(math.abs(r.getAs[Double]("tau_b") - 1.0 / 3.0) < 1e-6)
  }

  test("q_tukey_hsd: closed-form pair statistic on the two-group fixture") {
    // MSW = 2.5/2 = 1.25; |1.5-4| / sqrt(1.25/2 * (1/2+1/2)) = 2.5/sqrt(.625)
    val dir = eventsDir(Seq(
      (1L, "2024-01-01", "a", 1.0), (2L, "2024-01-02", "a", 2.0),
      (3L, "2024-01-03", "b", 3.0), (4L, "2024-01-04", "b", 5.0)))
    val r = SparkEntry.queries("q_tukey_hsd")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Double]("mean_diff") == -2.5)
    assert(math.abs(r.head.getAs[Double]("q_stat") - 2.5 / math.sqrt(0.625)) < 1e-6)
    assert(!r.head.getAs[Boolean]("sig"))
  }

  private def ordersDir(rows: Seq[(java.lang.Long, Long, String, Double, String, String)]): String = {
    val dir = tmpDir("orders-fixture")
    rows.map { case (k, ck, st, tp, d, pr) =>
      (k, ck, st, tp, Timestamp.valueOf(s"$d 00:00:00"), pr)
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("q_mk_trend: strictly increasing 4-day series (S=6, var18=156)") {
    val dir = ordersDir(Seq(
      (1L, 1L, "O", 1.00, "1995-01-01", "1-URGENT"),
      (2L, 1L, "O", 2.00, "1995-01-02", "1-URGENT"),
      (3L, 1L, "O", 3.00, "1995-01-03", "1-URGENT"),
      (4L, 1L, "O", 4.00, "1995-01-04", "1-URGENT")))
    val r = SparkEntry.queries("q_mk_trend")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("s_stat") == 6L)
    assert(r.getAs[Long]("var18") == 156L)
    assert(math.abs(r.getAs[Double]("z") - 5.0 / math.sqrt(156.0 / 18.0)) < 1e-6)
    assert(r.getAs[String]("trend") == "increasing")
  }

  test("q_contract_check: seeded violations are counted per check") {
    val dir = ordersDir(Seq(
      (null, 1L, "O", 1.00, "1995-01-01", "1-URGENT"),          // null key
      (10L, 1L, "O", 2.00, "1995-01-02", "2-HIGH"),             // dup pair
      (10L, 1L, "O", 3.00, "1995-01-03", "3-MEDIUM"),
      (11L, 1L, "X", 4.00, "1995-01-04", "4-NOT SPECIFIED"),    // bad status
      (12L, 1L, "O", 2000000.00, "1995-01-05", "5-LOW"),        // amount range
      (13L, 1L, "O", 5.00, "1980-01-06", "1-URGENT"),           // date window
      (14L, 99L, "O", 6.00, "1995-01-07", "9-BOGUS")))          // orphan + bad prio
    Seq((1L, "A")).toDF("c_custkey", "c_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = SparkEntry.queries("q_contract_check")(spark, dir)
      .collect().map(r => r.getAs[String]("check") -> r.getAs[Long]("n_violations")).toMap
    assert(got == Map(
      "null_key" -> 1L, "duplicate_key" -> 2L, "status_domain" -> 1L,
      "amount_range" -> 1L, "date_window" -> 1L, "priority_format" -> 1L,
      "fk_customer" -> 1L))
  }

  test("q_psm_match: caliper excludes far pairs; distance ties break to smaller id") {
    val dir = tmpDir("psm")
    Seq(
      (1L, "AUTOMOBILE", 100.00),  // ties: controls at 120 and 80, both d=2000
      (4L, "AUTOMOBILE", 500.00),  // nearest control is 6000 away -> unmatched
      (6L, "AUTOMOBILE", 300.00),  // exact match at d=0
      (2L, "BUILDING", 120.00), (3L, "BUILDING", 80.00),
      (5L, "BUILDING", 560.00), (7L, "BUILDING", 300.00))
      .toDF("c_custkey", "c_mktsegment", "c_acctbal")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = SparkEntry.queries("q_psm_match")(spark, dir)
      .collect().map(r => (r.getAs[Long]("treated_id"), r.getAs[Long]("control_id"),
        r.getAs[Long]("dist"))).toList
    assert(got == List((1L, 2L, 2000L), (6L, 7L, 0L)))
  }

  test("q_spatial_knn: grid probe equals in-test brute force at sf0.001") {
    val got = SparkEntry.queries("q_spatial_knn")(spark, sf)
      .select("sid", "cid", "d2", "rn")
      .as[(Long, Long, Long, Int)].collect().toSet
    val cust = ops.Tables.customer(spark, sf).select(
      col("c_custkey").as("cid"),
      ops.TextAnalysis.hashBucket(concat(lit("x"), col("c_custkey").cast("string")), 100000).as("xc"),
      ops.TextAnalysis.hashBucket(concat(lit("y"), col("c_custkey").cast("string")), 100000).as("yc"))
    val supp = ops.Tables.supplier(spark, sf).select(
      col("s_suppkey").as("sid"),
      ops.TextAnalysis.hashBucket(concat(lit("xs"), col("s_suppkey").cast("string")), 100000).as("xs"),
      ops.TextAnalysis.hashBucket(concat(lit("ys"), col("s_suppkey").cast("string")), 100000).as("ys"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sid")).orderBy(col("d2").asc, col("cid").asc)
    val brute = supp.crossJoin(cust)
      .withColumn("d2",
        (col("xs") - col("xc")) * (col("xs") - col("xc"))
          + (col("ys") - col("yc")) * (col("ys") - col("yc")))
      .filter(col("d2") <= 2000L * 2000L)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("sid", "cid", "d2", "rn")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got == brute)
    assert(got.forall(_._3 <= 2000L * 2000L))
  }
}
