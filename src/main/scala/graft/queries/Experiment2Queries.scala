package graft.queries

import graft.QueryDef
import graft.ops.SessionCache.MemoOps
import graft.ops.{Tables, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-11 batch 2: the post-hoc / matching / monitoring half of the
  * experimentation family — Tukey-HSD pairwise comparisons after the
  * q_anova omnibus, caliper nearest-neighbor matching (the deterministic
  * core of propensity-score matching), the Mann-Kendall trend test over
  * the daily revenue series, and a data-contract audit (the
  * "great-expectations" pass a pipeline runs before publishing a table).
  *
  * Same numeric discipline as ExperimentQueries: exact integer/decimal
  * sufficient statistics, 9dp-floored transcendental-free terms, 6dp
  * emitted doubles, DuckDB twins replaying the identical tree.
  */
object Experiment2Queries {

  private def r6(c: Column): Column = TextAnalysis.round6(c)
  private val d380 = DecimalType(38, 0)
  private val d289 = DecimalType(28, 9)
  private def f9(c: Column): Column = (floor(c * 1e9 + 0.5) / 1e9).cast(d289)

  // --- Tukey HSD post-hoc ----------------------------------------------------

  /** Tukey-HSD-style pairwise comparison after the q_anova omnibus: for
    * every pair of event types, the studentized statistic
    * q = |m_i − m_j| / √(MSW/2 · (1/n_i + 1/n_j)) against the fixed
    * critical value q₀.₀₅(k=5, df→∞) = 3.858 (a literal — df is ~10⁴ even
    * at sf0.01, where the q table is flat). MSW comes from the identical
    * 9dp-floored within-group terms q_anova sums, so the two queries
    * can never disagree about the denominator.
    *
    * Scale shape: the k=5 group rows self-join into k(k−1)/2 = 10 pairs —
    * a broadcast product on the GROUP domain, never on facts.
    */
  private val tukeyHsd = QueryDef(
    fn = (spark, dir) => {
      val vq = floor(col("value") * 1e6 + 0.5).cast("long")
      val g = Tables.events(spark, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"), vq.as("vq"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_i"), sum(col("vq")).as("sv_i"),
          sum((col("vq") * col("vq")).cast(d380)).as("sq_i"))
      val withTerm = g.select(col("event_type"), col("n_i"), col("sv_i"),
        f9((col("sq_i").cast("double")
          - col("sv_i").cast("double") * col("sv_i").cast("double")
            / col("n_i").cast("double")) / 1e12).as("wt"))
        // event-type-domain grid, memo-checkpointed: msw and both pair
        // sides re-reference it, each re-planning the events scan
        // (3 corpus scans; ScanCountLintSpec)
        .memoCheckpoint(spark, dir, "tukey_grid")
      val msw = withTerm.agg(
        (sum(col("wt")).cast("double")
          / (sum(col("n_i")) - count(lit(1))).cast("double")).as("msw"))
      val a = withTerm.select(col("event_type").as("type_a"),
        col("n_i").as("na"), col("sv_i").as("sva"))
      val b = withTerm.select(col("event_type").as("type_b"),
        col("n_i").as("nb"), col("sv_i").as("svb"))
      val ma = col("sva").cast("double") / col("na").cast("double") / 1e6
      val mb = col("svb").cast("double") / col("nb").cast("double") / 1e6
      val q = abs(ma - mb) / sqrt(col("msw") / 2.0 *
        (lit(1.0) / col("na").cast("double") + lit(1.0) / col("nb").cast("double")))
      a.join(broadcast(b), col("type_a") < col("type_b"))
        .crossJoin(broadcast(msw))
        .select(col("type_a"), col("type_b"),
          r6(ma - mb).as("mean_diff"), r6(q).as("q_stat"),
          (q > 3.858).as("sig"))
        .orderBy("type_a", "type_b")
    },
    oracle = Some(
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vq
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type, COUNT(*) AS n_i,
        |    CAST(SUM(vq) AS BIGINT) AS sv_i,
        |    CAST(SUM(CAST(vq * vq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq_i
        |  FROM e GROUP BY 1),
        |t AS (SELECT event_type, n_i, sv_i,
        |    CAST(floor((CAST(sq_i AS DOUBLE)
        |      - CAST(sv_i AS DOUBLE) * CAST(sv_i AS DOUBLE) / CAST(n_i AS DOUBLE))
        |      / 1000000000000.0
        |      * 1000000000.0 + 0.5) / 1000000000.0 AS DECIMAL(28,9)) AS wt
        |  FROM g),
        |m AS (SELECT CAST(SUM(wt) AS DOUBLE)
        |      / CAST(SUM(n_i) - COUNT(*) AS DOUBLE) AS msw FROM t),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n_i AS na, a.sv_i AS sva, b.n_i AS nb, b.sv_i AS svb
        |  FROM t a JOIN t b ON a.event_type < b.event_type),
        |x AS (SELECT type_a, type_b, msw,
        |    CAST(sva AS DOUBLE) / CAST(na AS DOUBLE) / 1000000.0 AS ma,
        |    CAST(svb AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000.0 AS mb,
        |    abs(CAST(sva AS DOUBLE) / CAST(na AS DOUBLE) / 1000000.0
        |      - CAST(svb AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000.0)
        |    / sqrt(msw / 2.0 * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) AS q
        |  FROM p CROSS JOIN m)
        |SELECT type_a, type_b,
        |  floor((ma - mb) * 1000000.0 + 0.5) / 1000000.0 AS mean_diff,
        |  floor(q * 1000000.0 + 0.5) / 1000000.0 AS q_stat,
        |  q > 3.858 AS sig
        |FROM x ORDER BY type_a, type_b""".stripMargin))

  // --- caliper nearest-neighbor matching -------------------------------------

  /** Caliper 1-NN matching with replacement — the deterministic core of
    * propensity-score matching: each "treated" customer (AUTOMOBILE
    * segment) matches the "control" customer (all other segments) with
    * the nearest account balance, provided |Δ| ≤ the 5000¢ caliper; ties
    * break to the smaller control key. Treated units with no control in
    * the caliper are unmatched and absent — exactly the bias/variance
    * trade callipers exist for.
    *
    * Scale shape: the 1-D analogue of the spatial grid join — scores
    * bucket at caliper width, treated probe their {−1,0,+1} neighbor
    * buckets (provably complete for |Δ| ≤ caliper), and the per-treated
    * argmin is a row_number window over neighborhood-local candidates.
    * O(n·density), never treated×control. The oracle is the brute-force
    * cross join: green means the bucket probe dropped no admissible pair.
    */
  private val psmMatch = QueryDef(
    fn = (spark, dir) => {
      val cal = 5000L
      val cents = floor(col("c_acctbal") * 100 + 0.5).cast("long")
      val cust = Tables.customer(spark, dir).select(
        col("c_custkey").as("id"), col("c_mktsegment").as("seg"),
        cents.as("score"))
      val control = cust.filter(col("seg") =!= "AUTOMOBILE")
        .select(col("id").as("control_id"), col("score").as("control_score"),
          floor(col("score").cast("double") / cal).cast("long").as("bk"))
      val treated = cust.filter(col("seg") === "AUTOMOBILE")
        .select(col("id").as("treated_id"), col("score").as("treated_score"),
          explode(expr("sequence(-1, 1)")).as("d"))
        .select(col("treated_id"), col("treated_score"),
          (floor(col("treated_score").cast("double") / cal).cast("long")
            + col("d")).as("bk"))
      val w = Window.partitionBy(col("treated_id"))
        .orderBy(col("dist").asc, col("control_id").asc)
      treated.join(control, "bk")
        .withColumn("dist", abs(col("treated_score") - col("control_score")))
        .filter(col("dist") <= cal)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("treated_id"), col("control_id"),
          col("treated_score"), col("control_score"), col("dist"))
        .orderBy("treated_id")
    },
    oracle = Some(
      """WITH c AS (SELECT c_custkey AS id, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS score
        |  FROM customer),
        |t AS (SELECT id AS treated_id, score AS treated_score FROM c
        |  WHERE seg = 'AUTOMOBILE'),
        |ctl AS (SELECT id AS control_id, score AS control_score FROM c
        |  WHERE seg <> 'AUTOMOBILE'),
        |cand AS (SELECT treated_id, control_id, treated_score, control_score,
        |    abs(treated_score - control_score) AS dist
        |  FROM t CROSS JOIN ctl
        |  WHERE abs(treated_score - control_score) <= 5000),
        |r AS (SELECT *, row_number() OVER (PARTITION BY treated_id
        |    ORDER BY dist ASC, control_id ASC) AS rn FROM cand)
        |SELECT treated_id, control_id, treated_score, control_score, dist
        |FROM r WHERE rn = 1 ORDER BY treated_id""".stripMargin))

  // --- Mann-Kendall trend test -----------------------------------------------

  /** Mann-Kendall monotone-trend test over the daily revenue series:
    * S = Σ_{i<j} sign(x_j − x_i), tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18, and the
    * continuity-corrected z = (S∓1)/√Var. Everything up to z is EXACT
    * integer arithmetic — S and 18·Var are longs both engines agree on
    * bit-for-bit.
    *
    * Scale shape: facts collapse to the daily grid first (one
    * partial-aggregatable shuffle); the O(n²) sign census runs on
    * calendar² pairs (~80 months × 30 ≈ 2.4k days → ~3M pairs at ANY
    * corpus size — constant, like q_kendall_tau's month pairs). Tie
    * groups come from a value-keyed groupBy on the same daily grid.
    */
  private val mkTrend = QueryDef(
    fn = (spark, dir) => {
      val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
      // day-domain-bounded grid, checkpointed: the pair join (twice),
      // n, and the tie rollup all re-reference it — each reference
      // re-planned the orders scan (4 corpus scans; ScanCountLintSpec)
      val daily = Tables.orders(spark, dir)
        .select(to_date(col("o_orderdate")).as("d"), cents.as("cents"))
        .groupBy(col("d")).agg(sum(col("cents")).as("rev"))
        .memoCheckpoint(spark, dir, "mk_daily")
      val a = daily.select(col("d").as("da"), col("rev").as("ra"))
      val b = daily.select(col("d").as("db"), col("rev").as("rb"))
      val s = a.join(broadcast(b), col("da") < col("db"))
        .agg(sum(signum(col("rb") - col("ra")).cast("long")).as("s_stat"))
      val n = daily.agg(count(lit(1)).as("n"))
      val ties = daily.groupBy(col("rev")).agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)),
          lit(0L)).as("tie_adj"))
      val nd = col("n")
      val var18 = nd * (nd - 1) * (nd * 2 + 5) - col("tie_adj")
      val sd = col("s_stat").cast("double")
      val varS = var18.cast("double") / 18.0
      val z = when(col("s_stat") > 0, (sd - 1.0) / sqrt(varS))
        .when(col("s_stat") < 0, (sd + 1.0) / sqrt(varS))
        .otherwise(lit(0.0))
      s.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
        .select(col("n"), col("s_stat"), var18.as("var18"),
          r6(z).as("z"),
          when(col("s_stat") > 0, "increasing")
            .when(col("s_stat") < 0, "decreasing")
            .otherwise("none").as("trend"),
          (abs(z) > 1.96).as("sig"))
    },
    oracle = Some(
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |s AS (SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
        |    WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |n AS (SELECT COUNT(*) AS n FROM daily),
        |ties AS (SELECT COALESCE(CAST(SUM(t * (t - 1) * (t * 2 + 5)) AS BIGINT), 0) AS tie_adj
        |  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY rev HAVING COUNT(*) > 1)),
        |x AS (SELECT n, s_stat,
        |    n * (n - 1) * (n * 2 + 5) - tie_adj AS var18
        |  FROM s CROSS JOIN n CROSS JOIN ties),
        |z AS (SELECT n, s_stat, var18,
        |    CASE WHEN s_stat > 0
        |      THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    WHEN s_stat < 0
        |      THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    ELSE 0.0 END AS zv
        |  FROM x)
        |SELECT n, s_stat, var18,
        |  floor(zv * 1000000.0 + 0.5) / 1000000.0 AS z,
        |  CASE WHEN s_stat > 0 THEN 'increasing'
        |       WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend,
        |  abs(zv) > 1.96 AS sig
        |FROM z""".stripMargin))

  // --- data-contract audit ---------------------------------------------------

  /** Data-contract audit over the orders table — the publish gate a
    * pipeline runs before a table goes live: null keys, duplicate keys,
    * out-of-range amounts, enum-domain violations, date-window breaches,
    * and FK orphans, each reported as (check, n_violations, pass).
    *
    * Scale shape: ONE orders scan for all seven checks — the FK probe
    * rides a broadcast left join, key uniqueness needs a
    * groupBy(o_orderkey) anyway, and the five row-local conditions
    * travel as per-key partial sums through that same (map-side
    * combinable) shuffle; a single global fold and a stack() emit the
    * 7-row report.
    */
  private val contractCheck = QueryDef(
    fn = (spark, dir) => {
      // all seven checks ride ONE orders scan (round-15 scan-count
      // lint; the per-family form paid 3): the FK probe is a broadcast
      // left join tagging each row, the key-uniqueness count needs a
      // groupBy(o_orderkey) anyway, so the five row-local conditions
      // travel as per-key partial sums through that same shuffle and
      // everything folds in one global aggregation
      val o = Tables.orders(spark, dir)
      val perKey = o.join(
          broadcast(Tables.customer(spark, dir).select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("c"),
          sum(when(col("o_totalprice") < 0 || col("o_totalprice") > 1000000, 1L)
            .otherwise(0L)).as("p_amount"),
          sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L))
            .as("p_status"),
          sum(when(!col("o_orderpriority").rlike("^[1-5]-"), 1L).otherwise(0L))
            .as("p_prio"),
          sum(when(to_date(col("o_orderdate")) < lit("1990-01-01").cast("date")
            || to_date(col("o_orderdate")) > lit("2005-12-31").cast("date"), 1L)
            .otherwise(0L)).as("p_date"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("p_orphan"))
      val totals = perKey.agg(
        sum(when(col("o_orderkey").isNull, col("c")).otherwise(0L)).as("null_key"),
        sum(col("p_amount")).as("amount_range"),
        sum(col("p_status")).as("status_domain"),
        sum(col("p_prio")).as("priority_format"),
        sum(col("p_date")).as("date_window"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("duplicate_key"),
        sum(col("p_orphan")).as("fk_customer"))
      totals.selectExpr(
        "stack(7, 'null_key', null_key, 'amount_range', amount_range, " +
          "'status_domain', status_domain, 'priority_format', priority_format, " +
          "'date_window', date_window, 'duplicate_key', duplicate_key, " +
          "'fk_customer', fk_customer) AS (check, n_violations)")
        .select(col("check"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
        .orderBy("check")
    },
    oracle = Some(
      """WITH rl AS (SELECT
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_key,
        |    CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS amount_range,
        |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS status_domain,
        |    CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS priority_format,
        |    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1990-01-01'
        |      OR CAST(o_orderdate AS DATE) > DATE '2005-12-31' THEN 1 ELSE 0 END) AS BIGINT) AS date_window
        |  FROM orders),
        |tall AS (
        |  SELECT 'null_key' AS "check", null_key AS n_violations FROM rl
        |  UNION ALL SELECT 'amount_range', amount_range FROM rl
        |  UNION ALL SELECT 'status_domain', status_domain FROM rl
        |  UNION ALL SELECT 'priority_format', priority_format FROM rl
        |  UNION ALL SELECT 'date_window', date_window FROM rl
        |  UNION ALL SELECT 'duplicate_key',
        |    COALESCE(CAST(SUM(c) AS BIGINT), 0)
        |    FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey
        |          HAVING COUNT(*) > 1)
        |  UNION ALL SELECT 'fk_customer',
        |    CAST(COUNT(*) AS BIGINT) FROM orders
        |    WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
        |SELECT "check", n_violations, n_violations = 0 AS pass
        |FROM tall ORDER BY "check"""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_tukey_hsd" -> tukeyHsd,
    "q_psm_match" -> psmMatch,
    "q_mk_trend" -> mkTrend,
    "q_contract_check" -> contractCheck)
}
