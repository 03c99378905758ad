package graft.queries

import graft.QueryDef
import graft.ops.{ForwardFill, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational breadth over the harness star schema (SURVEY.md §2.3): scans,
  * filters, projections, joins (inner/semi/anti/broadcast), aggregations,
  * windows, sort/limit/top-k, set ops, dedup-keep-latest.
  *
  * Float discipline: double aggregation order differs between Spark's
  * partial aggregates and DuckDB's sequential scan, so every SUM over a
  * double column is computed in exact DECIMAL and only cast to double at the
  * end — bit-identical on both sides regardless of partitioning.
  */
object CoreQueries {

  /** Exact money arithmetic: cast double inputs to DECIMAL(12,4) pre-sum. */
  private def dec(c: Column): Column = c.cast(DecimalType(12, 4))
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Plain string form of a DECIMAL(30,8): BigDecimal.toString goes
    * scientific once the adjusted exponent drops below -6 ("0E-8",
    * "1E-8") while DuckDB's VARCHAR cast always prints plain
    * ("0.00000000", "0.00000001") — a latent hash mismatch for any value
    * in [0, 1e-6), and scale-8 products of scale-4 factors CAN land there
    * (0.0001 * 0.0001 = 1e-8). Built scale-aware: the exact unscaled
    * integer (value * 10^8, scale-0 decimals always stringify plain),
    * zero-padded to >= 9 digits, with the point re-inserted before the
    * last 8 — plain notation for every representable value. */
  private[graft] def plainDec8(c: Column): Column = {
    val u = (abs(c) * lit(100000000L)).cast(DecimalType(38, 0)).cast("string")
    // lpad TRUNCATES inputs longer than the target length — pad conditionally
    val s = when(length(u) < 9, lpad(u, 9, "0")).otherwise(u)
    concat(when(c < 0, lit("-")).otherwise(lit("")),
      s.substr(lit(1), length(s) - 8), lit("."), substring(s, -8, 8))
  }

  // --- F1 on real data: LOCF daily grid over the events stream -------------

  private val locfEvents = QueryDef(
    fn = (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val changes = ev.select(
        col("user_id"), to_date(col("ts")).as("day"),
        col("value"), col("ts_ns"), col("event_id"))
      ForwardFill
        .dailyGrid(changes, "user_id", "day", "value",
          tieBreak = Seq("ts_ns", "event_id"), start = "2024-01-08", end = "2024-01-25")
        .orderBy("user_id", "day")
    },
    oracle = Some(
      """WITH c AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, value, ts, event_id
        |  FROM events
        |  WHERE CAST(ts AS DATE) <= DATE '2024-01-25' AND value IS NOT NULL),
        |grid AS (
        |  SELECT user_id,
        |         unnest(generate_series(DATE '2024-01-08', DATE '2024-01-25',
        |                                INTERVAL 1 day))::DATE AS d
        |  FROM (SELECT DISTINCT user_id FROM c)),
        |u AS (
        |  SELECT user_id, d, value, 0 AS kind, ts, event_id FROM c
        |  UNION ALL SELECT user_id, d, NULL, 1, NULL, NULL FROM grid),
        |f AS (
        |  SELECT user_id, d, kind,
        |         last_value(value IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY d, kind, ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |  FROM u)
        |SELECT user_id, d AS day, value
        |FROM f WHERE kind = 1 AND value IS NOT NULL
        |ORDER BY user_id, day""".stripMargin))

  // --- F1 sibling: linear interpolation onto the same daily grid ----------

  /** The continuous counterpart of f1_locf_events — identical grid window
    * and change-point semantics, but gap days take the straight line
    * between the surrounding change points instead of the step function
    * (see [[ForwardFill.interpolatedGrid]] for the boundary conventions
    * and the shared expansion plan; the oracle keeps union+window).
    */
  private val interpEvents = QueryDef(
    fn = (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val changes = ev.select(
        col("user_id"), to_date(col("ts")).as("day"),
        col("value"), col("ts_ns"), col("event_id"))
      ForwardFill
        .interpolatedGrid(changes, "user_id", "day", "value",
          tieBreak = Seq("ts_ns", "event_id"), start = "2024-01-08", end = "2024-01-25")
        .select(col("user_id"), col("day"),
          graft.ops.TextAnalysis.round6(col("value")).as("value"))
        .orderBy("user_id", "day")
    },
    oracle = Some(
      """WITH c AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, CAST(value AS DOUBLE) AS value, ts, event_id
        |  FROM events
        |  WHERE CAST(ts AS DATE) <= DATE '2024-01-25' AND value IS NOT NULL),
        |grid AS (
        |  SELECT user_id,
        |         unnest(generate_series(DATE '2024-01-08', DATE '2024-01-25',
        |                                INTERVAL 1 day))::DATE AS d
        |  FROM (SELECT DISTINCT user_id FROM c)),
        |u AS (
        |  SELECT user_id, d, value, 0 AS kind, ts, event_id FROM c
        |  UNION ALL SELECT user_id, d, NULL, 1, NULL, NULL FROM grid),
        |f AS (
        |  SELECT user_id, d, kind,
        |    last_value(CASE WHEN kind = 0 THEN d END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY d, kind, ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
        |    last_value(CASE WHEN kind = 0 THEN value END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY d, kind, ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
        |    first_value(CASE WHEN kind = 0 THEN d END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY d, kind, ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1,
        |    first_value(CASE WHEN kind = 0 THEN value END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY d, kind, ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
        |  FROM u)
        |SELECT user_id, d AS day,
        |  floor((CASE WHEN t1 IS NULL THEN v0
        |              ELSE v0 + (v1 - v0) * (CAST(datediff('day', t0, d) AS DOUBLE)
        |                                     / CAST(datediff('day', t0, t1) AS DOUBLE))
        |         END) * 1000000.0 + 0.5) / 1000000.0 AS value
        |FROM f WHERE kind = 1 AND v0 IS NOT NULL
        |ORDER BY user_id, day""".stripMargin))

  // --- aggregation (TPC-H Q1 shape): filter -> groupBy -> multi-agg --------

  private val q1Agg = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      li.filter(to_date(col("l_shipdate")) <= to_date(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          // DECIMAL(30,8), not double: the scale-8 sum exceeds 2^53 when
          // int128-scaled, and DuckDB's decimal->double cast double-rounds
          // there while BigDecimal.toDouble rounds once (diverges at sf0.1).
          // Scale stays 8 — down-scaling would hit Spark-HALF_UP vs
          // DuckDB-truncate. Emitted as its plain string form: int128-backed
          // decimals hash differently across engines in the driver's
          // comparator even when values are equal; the scale-8 string
          // ("…#.########") is identical by construction on both sides.
          plainDec8(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
              .cast(DecimalType(30, 8))).as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    oracle = Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |           * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS DECIMAL(30,8)) AS VARCHAR) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  // --- multi-way join: facts x dims, dims broadcast -------------------------

  private val joinNationRevenue = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val o = Tables.orders(spark, dir)
      val c = Tables.customer(spark, dir)
      val n = Tables.nation(spark, dir)
      val r = Tables.region(spark, dir)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" && col("o_orderstatus") =!= "P")
        .groupBy(col("n_name"))
        .agg(
          // DECIMAL(30,8) emitted as plain string: see q1_agg sum_disc_price
          plainDec8(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
              .cast(DecimalType(30, 8))).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"),
          count(lit(1)).as("n_lines"))
        .orderBy("n_name")
    },
    oracle = Some(
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |           * (1 - CAST(l_discount AS DECIMAL(12,4)))) AS DECIMAL(30,8)) AS VARCHAR) AS revenue,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderstatus <> 'P'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin))

  // --- supplier dimension: dim->dim broadcast chain + grouped stats ---------

  private val supplierStats = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val s = Tables.supplier(spark, dir)
      val n = Tables.nation(spark, dir)
      li.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          countDistinct(col("s_suppkey")).as("n_suppliers"),
          dsum(col("l_extendedprice")).as("supply_value"),
          (sum(dec(col("l_quantity"))).cast("double") /
            countDistinct(col("s_suppkey"))).as("qty_per_supplier"))
        .orderBy("n_name")
    },
    oracle = Some(
      """SELECT n_name,
        |  COUNT(DISTINCT s_suppkey) AS n_suppliers,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS supply_value,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE)
        |    / COUNT(DISTINCT s_suppkey) AS qty_per_supplier
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin))

  // --- semi / anti joins -----------------------------------------------------

  private val semiJoin = QueryDef(
    fn = (spark, dir) => {
      val c = Tables.customer(spark, dir)
      val bigOrders = Tables.orders(spark, dir)
        .filter(col("o_totalprice") > 150000.0)
      c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    oracle = Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 150000.0)
        |ORDER BY c_custkey""".stripMargin))

  private val antiJoin = QueryDef(
    fn = (spark, dir) => {
      val c = Tables.customer(spark, dir)
      val urgent = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    oracle = Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin))

  // --- top-k per group (window rank over exact-decimal revenue) -------------

  private val topkPerGroup = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val p = Tables.part(spark, dir)
      val rev = li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("rev_dec"))
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("rev_dec").desc, col("p_partkey").asc)
      rev.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("p_partkey"),
          col("rev_dec").cast("double").as("revenue"), col("rn"))
        .orderBy("p_brand", "rn")
    },
    oracle = Some(
      """WITH rev AS (
        |  SELECT p_brand, p_partkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS rev_dec
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, p_partkey),
        |ranked AS (
        |  SELECT p_brand, p_partkey, rev_dec,
        |         row_number() OVER (PARTITION BY p_brand
        |                            ORDER BY rev_dec DESC, p_partkey ASC) AS rn
        |  FROM rev)
        |SELECT p_brand, p_partkey, CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY p_brand, rn""".stripMargin))

  // --- running windows: frames, lag, rank ------------------------------------

  private val windowRunning = QueryDef(
    fn = (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .filter(to_date(col("l_shipdate")).between(
          to_date(lit("1997-01-01")), to_date(lit("1997-01-31"))))
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      li.select(
          col("l_suppkey"), to_date(col("l_shipdate")).as("ship_day"),
          col("l_orderkey"), col("l_linenumber"),
          sum(dec(col("l_extendedprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_rev"),
          lag(dec(col("l_extendedprice")), 1).over(w)
            .cast("double").as("prev_price"),
          row_number().over(w).as("rn"))
        .orderBy("l_suppkey", "rn")
    },
    oracle = Some(
      """SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_day,
        |  l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev,
        |  CAST(lag(CAST(l_extendedprice AS DECIMAL(12,4)), 1) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS DOUBLE) AS prev_price,
        |  CAST(row_number() OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS INTEGER) AS rn
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-01-31'
        |ORDER BY l_suppkey, rn""".stripMargin))

  // --- batch sessionization (gaps-and-islands) -------------------------------

  /** Per-user sessions from the event stream: a session breaks after >30
    * minutes of inactivity. The batch twin of the streaming session window:
    * lag + conditional flag + running sum — two window passes over one
    * shuffle on user_id. ts_ns keeps the arithmetic integer-exact.
    */
  private val sessionize = QueryDef(
    fn = (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      // microseconds, not nanos: DuckDB reads the TIMESTAMP(NANOS) parquet
      // at micro precision, so the shared time unit is micros (exact
      // truncation on both sides)
      val gapUs = 30L * 60 * 1000000L
      // integral div: `/` would route a 1.7e18 nanosecond count through
      // double division and lose the low digits
      ev.select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("event_id"))
        .withColumn("new_sess",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1)
            .otherwise(lit(0)))
        .withColumn("session_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
        .orderBy("user_id", "session_id")
    },
    oracle = Some(
      """WITH flagged AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id)
        |         > CAST(30 AS BIGINT) * 60 * 1000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    -- CAST: DuckDB SUM(INTEGER) yields HUGEINT (int128), which the
        |    -- driver's comparator hashes differently from Spark's BIGINT
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin))

  // --- sort / limit -----------------------------------------------------------

  private val sortLimit = QueryDef(
    fn = (spark, dir) =>
      Tables.orders(spark, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .limit(10),
    oracle = Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin))

  // --- distinct ---------------------------------------------------------------

  private val distinctQ = QueryDef(
    fn = (spark, dir) =>
      Tables.customer(spark, dir)
        .select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
        .orderBy("c_mktsegment", "c_nationkey"),
    oracle = Some(
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin))

  // --- set ops: union / intersect / except ------------------------------------

  private val setOps = QueryDef(
    fn = (spark, dir) => {
      val o = Tables.orders(spark, dir)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      f.intersect(open).orderBy("o_custkey")
    },
    oracle = Some(
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin))

  private val exceptOp = QueryDef(
    fn = (spark, dir) => {
      val o = Tables.orders(spark, dir)
      val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      f.except(p).orderBy("o_custkey")
    },
    oracle = Some(
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY o_custkey""".stripMargin))

  private val unionOp = QueryDef(
    fn = (spark, dir) => {
      val o = Tables.orders(spark, dir)
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"), lit("urgent").as("bucket"))
      val high = o.filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey"), lit("high").as("bucket"))
      urgent.union(high).distinct().orderBy("o_custkey", "bucket")
    },
    oracle = Some(
      """SELECT DISTINCT * FROM (
        |  SELECT o_custkey, 'urgent' AS bucket FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT o_custkey, 'high' AS bucket FROM orders
        |  WHERE o_orderpriority = '2-HIGH')
        |ORDER BY o_custkey, bucket""".stripMargin))

  // --- dedup keep-latest (K1 upsert proxy, SURVEY §7.2 step 4) ----------------

  private val dedupKeepLatest = QueryDef(
    fn = (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_ns").desc, col("event_id").desc)
      ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    },
    oracle = Some(
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin))

  // --- general backward as-of join (F1's unrestricted sibling) --------------

  private val asofJoin = QueryDef(
    fn = (spark, dir) => {
      val ev = Tables.events(spark, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_ns"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("value"))
      graft.ops.AsOfJoin.backward(
          clicks, purchases, keyCols = Seq("user_id"),
          leftTime = "ts_ns", rightTime = "ts_ns",
          valueCols = Seq("value", "event_id"), rightTieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"),
          col("asof_value"), col("asof_event_id"))
        .orderBy("event_id")
    },
    oracle = Some(
      // DuckDB's native ASOF JOIN is the differential oracle; right rows
      // sharing (user_id, ts) dedup to the max event_id first, matching the
      // operator's last-in-tie-break-order convention
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |                             ORDER BY event_id DESC) = 1)
        |SELECT c.event_id, c.user_id,
        |  p.value AS asof_value, p.event_id AS asof_event_id
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin))

  /** Backward as-of join with a staleness tolerance: a match older than
    * `tol` is DISCARDED (nulled), not attached — the "don't join a
    * quote from last month onto today's trade" semantics (kdb's `wj`
    * window, Pandas merge_asof(tolerance=...)). Because the backward
    * as-of match is the LATEST right row ≤ t, it is also the closest,
    * so tolerance is a post-filter on the matched age — no second join,
    * the single-shuffle union+window plan is unchanged.
    *
    * All age arithmetic runs at MICROsecond resolution on both engines
    * (Spark from the exact int64 nanos, DuckDB from its micro
    * timestamps, both via floor-truncation of positive epochs), so the
    * 2-day boundary compare is integer-exact.
    */
  private val asofTolerance = QueryDef(
    fn = (spark, dir) => {
      val tolUs = 172800000000L // 2 days
      val ev = Tables.events(spark, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("ts_us").as("r_us"),
          col("event_id"), col("value"))
      graft.ops.AsOfJoin.backward(
          clicks, purchases, keyCols = Seq("user_id"),
          leftTime = "ts_us", rightTime = "ts_us",
          valueCols = Seq("value", "event_id", "r_us"),
          rightTieBreak = Seq("event_id"))
        .withColumn("age_us", col("ts_us") - col("asof_r_us"))
        .withColumn("fresh",
          col("asof_r_us").isNotNull && col("age_us") <= tolUs)
        .select(col("event_id"), col("user_id"),
          when(col("fresh"), col("asof_value")).as("asof_value"),
          when(col("fresh"), col("asof_event_id")).as("asof_event_id"),
          when(col("fresh"), col("age_us")).as("age_us"))
        .orderBy("event_id")
    },
    oracle = Some(
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts, epoch_us(ts) AS l_us FROM events
        |  WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts, epoch_us(ts) AS r_us, event_id, value
        |  FROM events WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |                             ORDER BY event_id DESC) = 1)
        |SELECT c.event_id, c.user_id,
        |  CASE WHEN c.l_us - p.r_us <= 172800000000 THEN p.value END AS asof_value,
        |  CASE WHEN c.l_us - p.r_us <= 172800000000 THEN p.event_id END AS asof_event_id,
        |  CASE WHEN c.l_us - p.r_us <= 172800000000 THEN c.l_us - p.r_us END AS age_us
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_asof_join" -> asofJoin,
    "q_asof_tolerance" -> asofTolerance,
    "f1_locf_events" -> locfEvents,
    "q_interpolate_linear" -> interpEvents,
    "q1_agg" -> q1Agg,
    "q_join_nation_revenue" -> joinNationRevenue,
    "q_supplier_stats" -> supplierStats,
    "q_semi_join" -> semiJoin,
    "q_anti_join" -> antiJoin,
    "q_topk_per_group" -> topkPerGroup,
    "q_window_running" -> windowRunning,
    "q_sort_limit" -> sortLimit,
    "q_distinct" -> distinctQ,
    "q_intersect" -> setOps,
    "q_except" -> exceptOp,
    "q_union" -> unionOp,
    "q_dedup_keep_latest" -> dedupKeepLatest,
    "q_sessionize" -> sessionize)
}
