package graft.queries

import graft.QueryDef
import graft.ops.SessionCache.MemoOps
import graft.ops.{Dedup, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-governance family: re-identification risk profiling (k-anonymity
  * / l-diversity over quasi-identifier equivalence classes) and entity
  * resolution taken to its end state (deterministic match rule →
  * connected components → canonical cluster assignment) — the two
  * readouts a privacy/ MDM review asks of a customer table before it
  * ships downstream.
  */
object GovernanceQueries {

  /** k-anonymity / l-diversity report: equivalence classes of the
    * quasi-identifier (market segment, $1000 account-balance bucket),
    * each with its size k, the number of distinct sensitive values
    * (nation) l, and a k<5 risk flag — Sweeney's k-anonymity plus the
    * Machanavajjhala et al. l-diversity refinement, as one
    * partial-aggregatable groupBy over the table (distinct-count is the
    * only second shuffle). Output is QI-domain-sized, never row-sized.
    * Balance buckets floor a DOUBLE division identically on both
    * engines; balances are 2-decimal cents, never on a .000… boundary
    * where libm could disagree.
    */
  private val kAnonymity = QueryDef(
    fn = (spark, dir) =>
      Tables.customer(spark, dir)
        .select(col("c_mktsegment").as("segment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"),
          col("c_nationkey"))
        .groupBy(col("segment"), col("bal_bucket"))
        .agg(count(lit(1)).as("k"),
          countDistinct(col("c_nationkey")).as("l"))
        .withColumn("risky", col("k") < 5)
        .orderBy("segment", "bal_bucket"),
    oracle = Some(
      """SELECT c_mktsegment AS segment,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |  COUNT(*) AS k,
        |  COUNT(DISTINCT c_nationkey) AS l,
        |  COUNT(*) < 5 AS risky
        |FROM customer GROUP BY 1, 2 ORDER BY segment, bal_bucket""".stripMargin))

  /** Entity-resolution clusters: the record-linkage fixture (clean
    * register vs its deterministically-dirtied copy — the q_record_linkage
    * / q_cdc_diff derivation) matched by a deterministic rule — same
    * name-suffix block AND ≥3 of 4 fields agreeing — then closed into
    * clusters with [[Dedup.connectedComponents]] (min-label), each record
    * emitting its cluster id, the cluster size, and whether it is the
    * canonical (minimum-id) survivor. This is the step AFTER pairwise
    * linkage that production MDM needs: pairs alone don't dedupe — the
    * transitive closure does.
    *
    * Scale shape: candidates come from the blocking equi-join (never
    * A×B); components iterate on the pair graph (star-contracted,
    * domain-sized rounds); the size/canonical join is cluster-keyed. The
    * oracle replays the closure as a recursive CTE over the identical
    * pair set (the q_dedup_components pattern).
    */
  private val erClusters = QueryDef(
    fn = (spark, dir) => {
      val cust = Tables.customer(spark, dir)
      val a = cust.select(
        col("c_custkey").as("id_a"),
        col("c_name").as("name_a"),
        col("c_nationkey").as("nat_a"),
        col("c_mktsegment").as("seg_a"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bal_a"),
        substring(col("c_name"), 16, 3).as("blk"))
      val b = cust.select(
        (col("c_custkey") + 1000000L).as("id_b"),
        when(col("c_custkey") % 11 === 0,
          concat(substring(col("c_name"), 1, 17), lit("x")))
          .otherwise(col("c_name")).as("name_b"),
        when(col("c_custkey") % 5 === 0, (col("c_nationkey") + 1) % 25)
          .otherwise(col("c_nationkey")).as("nat_b"),
        when(col("c_custkey") % 7 === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("seg_b"),
        (floor(col("c_acctbal") * 100 + 0.5).cast("long")
          + when(col("c_custkey") % 3 === 0, 100L).otherwise(0L)).as("bal_b"),
        substring(col("c_name"), 16, 3).as("blk"))
      def agree(c: org.apache.spark.sql.Column) = when(c, 1).otherwise(0)
      val pairs = a.join(b, "blk")
        .withColumn("n_agree",
          agree(col("name_a") === col("name_b"))
            + agree(col("nat_a") === col("nat_b"))
            + agree(col("seg_a") === col("seg_b"))
            + agree(col("bal_a") === col("bal_b")))
        .filter(col("n_agree") >= 3)
        .select(col("id_a"), col("id_b"))
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val records = a.select(col("id_a").as("id"))
        .union(b.select(col("id_b").as("id")))
      val labeled = records.join(comps, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("cluster"))
      val sizes = labeled.groupBy(col("cluster"))
        .agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "cluster")
        .select(col("id"), col("cluster"), col("cluster_size"),
          (col("id") === col("cluster")).as("canonical"))
        .orderBy("id")
    },
    oracle = Some(
      """WITH RECURSIVE a AS (SELECT c_custkey AS id_a, c_name AS name_a,
        |        c_nationkey AS nat_a, c_mktsegment AS seg_a,
        |        CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_a,
        |        substr(c_name, 16, 3) AS blk FROM customer),
        |b AS (SELECT c_custkey + 1000000 AS id_b,
        |        CASE WHEN c_custkey % 11 = 0
        |             THEN substr(c_name, 1, 17) || 'x' ELSE c_name END AS name_b,
        |        CASE WHEN c_custkey % 5 = 0
        |             THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS nat_b,
        |        CASE WHEN c_custkey % 7 = 0
        |             THEN 'UNKNOWN' ELSE c_mktsegment END AS seg_b,
        |        CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
        |          + CASE WHEN c_custkey % 3 = 0 THEN 100 ELSE 0 END AS bal_b,
        |        substr(c_name, 16, 3) AS blk FROM customer),
        |pairs AS (
        |  SELECT id_a, id_b FROM a JOIN b USING (blk)
        |  WHERE (CASE WHEN name_a = name_b THEN 1 ELSE 0 END
        |       + CASE WHEN nat_a = nat_b THEN 1 ELSE 0 END
        |       + CASE WHEN seg_a = seg_b THEN 1 ELSE 0 END
        |       + CASE WHEN bal_a = bal_b THEN 1 ELSE 0 END) >= 3),
        |edges AS (
        |  SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT x, x FROM edges
        |  UNION
        |  SELECT e.x, reach.r FROM edges e JOIN reach ON reach.id = e.y),
        |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
        |records AS (SELECT id_a AS id FROM a UNION ALL SELECT id_b FROM b),
        |labeled AS (SELECT rec.id, COALESCE(c.comp, rec.id) AS cluster
        |            FROM records rec LEFT JOIN comp c ON rec.id = c.id),
        |sizes AS (SELECT cluster, COUNT(*) AS cluster_size
        |          FROM labeled GROUP BY cluster)
        |SELECT l.id, l.cluster, s.cluster_size,
        |  l.id = l.cluster AS canonical
        |FROM labeled l JOIN sizes s USING (cluster)
        |ORDER BY id""".stripMargin))

  /** Referential-integrity audit over every FK edge of the star schema:
    * per edge — child row count, orphan count (children whose FK value
    * has no parent), and distinct orphan key count. The audit a
    * warehouse runs before trusting a load; here all seven edges in one
    * unioned report.
    *
    * Scale shape: the three lineitem edges fuse onto ONE lineitem scan
    * (a 3-FK-column projection left-joined to each parent key set —
    * part/supplier broadcast, orders key-pruned — with all six orphan
    * stats in one aggregation); the orders edge likewise rides one
    * orders scan. Small-dimension edges keep the per-edge LEFT ANTI
    * form. Counts are partial-aggregatable; the report is edges-sized
    * (7 rows). Orphan ROWS are counted (row-rate, not key-rate) and the
    * distinct-key view rides the same frame.
    *
    * NULL semantics, pinned explicitly (an RI audit exists for dirty
    * data): an "orphan" is a NON-NULL FK value with no parent — NULL-FK
    * child rows are excluded on both sides (`fk IS NOT NULL` before the
    * anti join; the oracle uses NOT EXISTS, which matches anti-join NULL
    * behavior, not NOT IN, which would return zero rows for a whole edge
    * the moment any parent key is NULL).
    */
  private val fkOrphans = QueryDef(
    fn = (spark, dir) => {
      import org.apache.spark.sql.DataFrame
      // One scan per child edge (the oEdge form, applied to the small
      // dims too): the old per-edge shape paid an anti join PLUS a
      // separate whole-child count scan PLUS a crossJoin to glue them —
      // 2 scans and ~6 exchanges per edge. A left join against the
      // distinct parent keys keeps every child row exactly once (keys
      // are distinct by construction), so one aggregate yields all three
      // statistics: count(*) = child rows, count(CASE fk NOT NULL AND pk
      // NULL) = orphan rows (CASE yields NULL for matched/NULL-FK rows,
      // which count skips), countDistinct over the same CASE = orphan
      // keys. Identical to the anti-join form row-for-row.
      // Per small-dim edge: the edge-tagged (fk, matched-parent) rows —
      // the three small edges then STACK into one union and ONE grouped
      // aggregation (r18; was 3 separate single-partition aggregates +
      // 2 glue unions: 6 Exchange SinglePartition pairs → 1 grouped
      // exchange — the r17 "union the edge STATS frames" leftover).
      // Statistics per edge are unchanged: count(*), count(CASE orphan),
      // countDistinct(CASE orphan) group-keyed by the edge tag.
      def edgeRows(name: String, child: DataFrame, fk: String,
          parent: DataFrame, pk: String): DataFrame = {
        val keys = parent.select(col(pk)).distinct()
        child.select(col(fk))
          .join(broadcast(keys), child(fk) === keys(pk), "left")
          .select(lit(name).as("edge"),
            when(col(fk).isNotNull && col(pk).isNull, col(fk))
              .cast("long").as("orphan_key"))
      }
      val li = Tables.lineitem(spark, dir)
      val o = Tables.orders(spark, dir)
      val c = Tables.customer(spark, dir)
      val s = Tables.supplier(spark, dir)
      val p = Tables.part(spark, dir)
      val n = Tables.nation(spark, dir)
      val r = Tables.region(spark, dir)
      // The three lineitem edges fuse onto ONE fact scan (round-15
      // scan-count lint; the per-edge form paid 6): one projection of
      // the three FK columns, one left join per parent key set
      // (part/supplier broadcast; orders key-pruned shuffle), and all
      // six orphan statistics in a single aggregation — count(CASE)
      // not sum(CASE) so an empty child still reports 0, matching the
      // per-edge anti-join form.
      def orphan(fk: String, pk: String): Column =
        when(col(fk).isNotNull && col(pk).isNull, col(fk))
      val oKeys = o.select(col("o_orderkey")).distinct()
      val pKeys = p.select(col("p_partkey")).distinct()
      val sKeys = s.select(col("s_suppkey")).distinct()
      val liAgg = li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
        .join(oKeys, col("l_orderkey") === col("o_orderkey"), "left")
        .join(broadcast(pKeys), col("l_partkey") === col("p_partkey"), "left")
        .join(broadcast(sKeys), col("l_suppkey") === col("s_suppkey"), "left")
        .agg(count(lit(1)).as("n_child"),
          count(orphan("l_orderkey", "o_orderkey")).as("oro_rows"),
          countDistinct(orphan("l_orderkey", "o_orderkey")).as("oro_keys"),
          count(orphan("l_partkey", "p_partkey")).as("orp_rows"),
          countDistinct(orphan("l_partkey", "p_partkey")).as("orp_keys"),
          count(orphan("l_suppkey", "s_suppkey")).as("ors_rows"),
          countDistinct(orphan("l_suppkey", "s_suppkey")).as("ors_keys"))
      val liEdges = liAgg.select(
        expr("stack(3," +
          " 'lineitem.l_orderkey->orders', oro_rows, oro_keys," +
          " 'lineitem.l_partkey->part', orp_rows, orp_keys," +
          " 'lineitem.l_suppkey->supplier', ors_rows, ors_keys)" +
          " AS (edge, n_orphan_rows, n_orphan_keys)"),
        col("n_child").as("n_child_rows"))
        .select(col("edge"), col("n_child_rows"),
          col("n_orphan_rows"), col("n_orphan_keys"))
      // orders-as-child: its count and orphan stats ride one scan too
      val cKeys = c.select(col("c_custkey")).distinct()
      val oEdge = o.select(col("o_custkey"))
        .join(broadcast(cKeys), col("o_custkey") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("n_child_rows"),
          count(orphan("o_custkey", "c_custkey")).as("n_orphan_rows"),
          countDistinct(orphan("o_custkey", "c_custkey")).as("n_orphan_keys"))
        .select(lit("orders.o_custkey->customer").as("edge"),
          col("n_child_rows"), col("n_orphan_rows"), col("n_orphan_keys"))
      val smallEdges = Seq(
        edgeRows("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        edgeRows("supplier.s_nationkey->nation", s, "s_nationkey", n, "n_nationkey"),
        edgeRows("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey"))
        .reduce(_ unionByName _)
        .groupBy(col("edge"))
        .agg(count(lit(1)).as("n_child_rows"),
          count(col("orphan_key")).as("n_orphan_rows"),
          countDistinct(col("orphan_key")).as("n_orphan_keys"))
      Seq(liEdges, oEdge, smallEdges)
        .reduce(_ unionByName _)
        .orderBy("edge")
    },
    oracle = Some(
      """WITH a AS (
        |  SELECT 'lineitem.l_orderkey->orders' AS edge,
        |    (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
        |    COUNT(*) AS n_orphan_rows, COUNT(DISTINCT l_orderkey) AS n_orphan_keys
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part', (SELECT COUNT(*) FROM lineitem),
        |    COUNT(*), COUNT(DISTINCT l_partkey)
        |  FROM lineitem WHERE l_partkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier', (SELECT COUNT(*) FROM lineitem),
        |    COUNT(*), COUNT(DISTINCT l_suppkey)
        |  FROM lineitem WHERE l_suppkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer', (SELECT COUNT(*) FROM orders),
        |    COUNT(*), COUNT(DISTINCT o_custkey)
        |  FROM orders WHERE o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |  UNION ALL
        |  SELECT 'customer.c_nationkey->nation', (SELECT COUNT(*) FROM customer),
        |    COUNT(*), COUNT(DISTINCT c_nationkey)
        |  FROM customer WHERE c_nationkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
        |  UNION ALL
        |  SELECT 'supplier.s_nationkey->nation', (SELECT COUNT(*) FROM supplier),
        |    COUNT(*), COUNT(DISTINCT s_nationkey)
        |  FROM supplier WHERE s_nationkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey)
        |  UNION ALL
        |  SELECT 'nation.n_regionkey->region', (SELECT COUNT(*) FROM nation),
        |    COUNT(*), COUNT(DISTINCT n_regionkey)
        |  FROM nation WHERE n_regionkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n_regionkey))
        |SELECT edge, n_child_rows, n_orphan_rows, n_orphan_keys
        |FROM a ORDER BY edge""".stripMargin))

  /** PII-risk scan over the corpus: per source — documents containing
    * email-like tokens, long digit runs (phone/account-number shaped),
    * and IPv4-shaped literals, with total hit counts and the affected-doc
    * rate (6dp). The pre-release privacy readout of a training-data
    * pipeline (the redaction op q_text_redact is the fix; this is the
    * audit that decides where to apply it).
    *
    * Patterns are kept in the regex subset Java and RE2/DuckDB agree on
    * (no backrefs, no lookaround, explicit character classes). Counting
    * uses regexp_extract_all lengths — one corpus scan, all three
    * patterns in the same projection; the aggregate is source-keyed and
    * partial-aggregatable. Text never shuffles: only the per-doc hit
    * counts do.
    */
  private val piiScan = QueryDef(
    fn = (spark, dir) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val digits = "[0-9]{7,}"
      val ipv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      // NULL text is excluded up front on BOTH sides: Spark's legacy
      // size(regexp_extract_all(NULL)) yields -1 where DuckDB's len
      // yields NULL, so a NULL document would silently skew hit sums.
      val d = Tables.documents(spark, dir)
        .filter(col("text").isNotNull)
        .select(col("source"),
          size(regexp_extract_all(col("text"), lit(email), lit(0))).as("ne"),
          size(regexp_extract_all(col("text"), lit(digits), lit(0))).as("nd"),
          size(regexp_extract_all(col("text"), lit(ipv4), lit(0))).as("ni"))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ne") > 0, 1L).otherwise(0L)).as("docs_email"),
          sum(when(col("nd") > 0, 1L).otherwise(0L)).as("docs_digits"),
          sum(when(col("ni") > 0, 1L).otherwise(0L)).as("docs_ipv4"),
          sum(when(col("ne") + col("nd") + col("ni") > 0, 1L).otherwise(0L))
            .as("docs_any"),
          sum(col("ne")).as("hits_email"),
          sum(col("nd")).as("hits_digits"),
          sum(col("ni")).as("hits_ipv4"))
        .withColumn("affected_rate", graft.ops.TextAnalysis.round6(
          col("docs_any").cast("double") / col("n_docs")))
        .orderBy("source")
    },
    oracle = Some(
      """WITH d AS (
        |  SELECT source,
        |    len(regexp_extract_all(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        |    len(regexp_extract_all(text, '[0-9]{7,}')) AS nd,
        |    len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS ni
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
        |  CAST(SUM(CASE WHEN nd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_digits,
        |  CAST(SUM(CASE WHEN ni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ipv4,
        |  CAST(SUM(CASE WHEN ne + nd + ni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_any,
        |  CAST(SUM(ne) AS BIGINT) AS hits_email,
        |  CAST(SUM(nd) AS BIGINT) AS hits_digits,
        |  CAST(SUM(ni) AS BIGINT) AS hits_ipv4,
        |  floor(CAST(SUM(CASE WHEN ne + nd + ni > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS affected_rate
        |FROM d GROUP BY source ORDER BY source""".stripMargin))

  /** Differentially-private release of the per-segment customer counts:
    * true count + Laplace(1/ε) noise at ε = 1 via the inverse-CDF
    * X = −sgn(u−½)·ln(1−2|u−½|), with u drawn DETERMINISTICALLY from the
    * engine's md5-fold hash of the segment name — the replayable form
    * that lets the DuckDB twin hash-gate the entire mechanism (a
    * production release swaps the hash for a CSPRNG; everything else —
    * sensitivity-1 counting query, scale b = 1/ε, the post-processing —
    * is exactly this plan). The ln term is 9dp-floored (house
    * transcendental discipline); the released count is the 6dp-rounded
    * noisy value, never the true one — `n_true` rides along here only
    * because this is the calibration/audit view.
    *
    * Scale shape: one partial-aggregatable groupBy; noise is scan-stage
    * arithmetic on the segment-domain frame.
    */
  private val dpCounts = QueryDef(
    fn = (spark, dir) => {
      val u = (graft.ops.TextAnalysis.tokenHash32(col("segment"))
        .cast("double") / 4294967296.0)
      val lnTerm = floor(log(lit(1.0) - lit(2.0) * abs(u - 0.5)) * 1e9 + 0.5) / 1e9
      val noise = -signum(u - 0.5) * lnTerm
      Tables.customer(spark, dir)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_true"))
        .withColumn("noise", graft.ops.TextAnalysis.round6(noise))
        .withColumn("n_noisy", graft.ops.TextAnalysis.round6(
          col("n_true") + col("noise")))
        .withColumn("epsilon", lit(1.0))
        .orderBy("segment")
    },
    oracle = Some {
      val h = ExtensionQueries.dHash32("segment")
      """WITH g AS (SELECT c_mktsegment AS segment, COUNT(*) AS n_true
        |           FROM customer GROUP BY 1),
        |n AS (SELECT segment, n_true,
        |    CAST(HVAR AS DOUBLE) / 4294967296.0 AS u FROM g),
        |x AS (SELECT segment, n_true,
        |    -sign(u - 0.5) * (floor(ln(1.0 - 2.0 * abs(u - 0.5))
        |      * 1000000000.0 + 0.5) / 1000000000.0) AS noise
        |  FROM n)
        |SELECT segment, n_true,
        |  floor(noise * 1000000.0 + 0.5) / 1000000.0 AS noise,
        |  floor((n_true + floor(noise * 1000000.0 + 0.5) / 1000000.0)
        |    * 1000000.0 + 0.5) / 1000000.0 AS n_noisy,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM x ORDER BY segment""".stripMargin.replace("HVAR", h)
    })

  /** Jaro-Winkler fuzzy name matching — the record-linkage comparator
    * ([[graft.functions.Kernels.jaroWinkler]], the US Census matcher Spark
    * lacks natively) over block-bounded customer-name pairs: candidates
    * come from the same name-suffix blocking equi-join as q_er_clusters
    * (never A×B), each pair scored by the native kernel,
    * kept at similarity ≥ 0.95. The oracle scores the identical pair
    * set with DuckDB's built-in `jaro_winkler_similarity` — the Spark
    * kernel is verified BIT-IDENTICAL to it (see the kernel's
    * scaladoc), so the 6dp floor cannot straddle a boundary.
    */
  private val nameSimilarity = QueryDef(
    fn = (spark, dir) => {
      val cust = Tables.customer(spark, dir)
      val a = cust.select(col("c_custkey").as("id_a"), col("c_name").as("name_a"),
        substring(col("c_name"), 16, 3).as("blk"))
      val b = cust.select(col("c_custkey").as("id_b"), col("c_name").as("name_b"),
        substring(col("c_name"), 16, 3).as("blk"))
      a.join(b, "blk")
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim", graft.functions.Native.jaroWinkler(
          col("name_a"), col("name_b")))
        .filter(col("sim") >= 0.95)
        .select(col("id_a"), col("id_b"),
          (floor(col("sim") * 1e6 + 0.5) / 1e6).as("sim"))
        .orderBy("id_a", "id_b")
    },
    oracle = Some(
      """WITH c AS (SELECT c_custkey AS id, c_name AS name,
        |           substr(c_name, 16, 3) AS blk FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  floor(jaro_winkler_similarity(a.name, b.name) * 1000000.0 + 0.5)
        |    / 1000000.0 AS sim
        |FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
        |WHERE jaro_winkler_similarity(a.name, b.name) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin))

  /** Right-to-be-forgotten deletion cascade: given a forget set of
    * customers (here the deterministic c_custkey % 97 = 0 sample), the
    * rows every downstream table must delete to honor it — customers
    * themselves, their orders, and those orders' line items — with
    * per-table row counts and the share of the table touched. The
    * pre-deletion impact audit a GDPR/CCPA erasure job runs first
    * (and the same join tree the deletion then executes).
    *
    * Scale shape: the forget set is a key-only projection (broadcast);
    * orders filter by one semi join; lineitem by a semi join on the
    * order keys (key columns only shuffle — payloads never move until
    * the real delete). Counts are partial-aggregatable; the report is
    * 3 rows.
    */
  private val forgetCascade = QueryDef(
    fn = (spark, dir) => {
      import org.apache.spark.sql.DataFrame
      val forget = Tables.customer(spark, dir)
        .filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey"))
      // the cascading delete set is ~1/97 of orders and narrow
      // (o_orderkey only) — checkpointed so the lineitem cascade and the
      // orders report both read it without re-planning the orders scan
      // (3 corpus scans; ScanCountLintSpec)
      val ordersDel = Tables.orders(spark, dir)
        .join(broadcast(forget), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"))
        .memoCheckpoint(spark, dir, "forget_orders")
      val li = Tables.lineitem(spark, dir)
        .join(ordersDel,
          col("l_orderkey") === col("o_orderkey"), "left_semi")
      def report(name: String, toDelete: DataFrame, total: DataFrame) = {
        val d = toDelete.agg(count(lit(1)).as("n_delete"))
        val t = total.agg(count(lit(1)).as("n_total"))
        d.crossJoin(t).select(lit(name).as("table_name"),
          col("n_delete"), col("n_total"),
          graft.ops.TextAnalysis.round6(col("n_delete").cast("double")
            / col("n_total").cast("double")).as("share"))
      }
      report("customer", forget, Tables.customer(spark, dir))
        .unionAll(report("orders", ordersDel, Tables.orders(spark, dir)))
        .unionAll(report("lineitem", li, Tables.lineitem(spark, dir)))
        .orderBy("table_name")
    },
    oracle = Some(
      """WITH f AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
        |o AS (SELECT o_orderkey FROM orders
        |      WHERE o_custkey IN (SELECT c_custkey FROM f)),
        |l AS (SELECT 1 AS x FROM lineitem
        |      WHERE l_orderkey IN (SELECT o_orderkey FROM o))
        |SELECT * FROM (
        |  SELECT 'customer' AS table_name,
        |    (SELECT COUNT(*) FROM f) AS n_delete,
        |    (SELECT COUNT(*) FROM customer) AS n_total,
        |    floor(CAST((SELECT COUNT(*) FROM f) AS DOUBLE)
        |      / (SELECT COUNT(*) FROM customer) * 1000000.0 + 0.5)
        |      / 1000000.0 AS share
        |  UNION ALL
        |  SELECT 'orders',
        |    (SELECT COUNT(*) FROM o), (SELECT COUNT(*) FROM orders),
        |    floor(CAST((SELECT COUNT(*) FROM o) AS DOUBLE)
        |      / (SELECT COUNT(*) FROM orders) * 1000000.0 + 0.5) / 1000000.0
        |  UNION ALL
        |  SELECT 'lineitem',
        |    (SELECT COUNT(*) FROM l), (SELECT COUNT(*) FROM lineitem),
        |    floor(CAST((SELECT COUNT(*) FROM l) AS DOUBLE)
        |      / (SELECT COUNT(*) FROM lineitem) * 1000000.0 + 0.5) / 1000000.0
        |) ORDER BY table_name""".stripMargin))

  /** t-closeness (Li, Li & Venkatasubramanian 2007): how far is each
    * quasi-identifier class's SENSITIVE-attribute distribution from the
    * table-wide one? k-anonymity (class size) and l-diversity (distinct
    * sensitive values) both pass a class whose sensitive values are
    * skewed relative to the population — t-closeness catches that
    * residual disclosure. Classes = c_mktsegment; sensitive = the
    * ordered $1000 acctbal bucket; distance = Earth Mover's Distance,
    * which for an ordered discrete attribute is the mean absolute
    * difference of the two CDFs: EMD = Σ_i |F_class(i) − F_global(i)| /
    * (B − 1) over the B-bucket grid.
    *
    * Integer discipline: |F_c·den − F_g·den| cross-multiplies to
    * |cum_c·n − cum_g·n_c| (exact DECIMAL(38,0)); emd_e6 is its summed
    * floored division by n_c·n·(B−1); the t > 0.2 flag is the
    * cross-multiplied comparison Σ·5 > n_c·n·(B−1). No double anywhere.
    *
    * Scale shape: one partial-aggregatable groupBy(class, bucket) over
    * the table; the grid is zero-filled by a class × bucket cross (both
    * domain-sized) and every window runs on that grid. */
  private val tCloseness = QueryDef(
    fn = (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      val m = Tables.customer(spark, dir)
        .select(col("c_mktsegment").as("segment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("b"))
      val g = m.groupBy(col("segment"), col("b")).agg(count(lit(1)).as("c"))
      val grid = g.select(col("segment")).distinct()
        .crossJoin(g.select(col("b")).distinct())
      val filled = grid.join(g, Seq("segment", "b"), "left")
        .select(col("segment"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
      val wRun = Window.partitionBy(col("segment")).orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wSeg = Window.partitionBy(col("segment"))
      val cum = filled
        .withColumn("cum_c", sum(col("c")).over(wRun))
        .withColumn("n_c", sum(col("c")).over(wSeg))
      // global per-bucket cumulative: the same counts re-keyed by bucket
      val glob = filled.groupBy(col("b")).agg(sum(col("c")).as("gc"))
        .withColumn("cum_g", sum(col("gc")).over(
          Window.orderBy(col("b"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val nAll = filled.agg(sum(col("c")).as("n"))
      val nB = filled.select(col("b")).distinct().agg(count(lit(1)).as("nb"))
      cum.join(glob.select(col("b"), col("cum_g")), "b")
        .crossJoin(broadcast(nAll)).crossJoin(broadcast(nB))
        .groupBy(col("segment"))
        .agg(max(col("n_c")).as("n_c"), max(col("n")).as("n"),
          max(col("nb")).as("n_buckets"),
          sum(abs(col("cum_c").cast(d380) * col("n")
            - col("cum_g").cast(d380) * col("n_c"))).as("dsum"))
        .select(col("segment"), col("n_c"), col("n_buckets"),
          expr("CAST((dsum * CAST(1000000 AS DECIMAL(38,0)))" +
            " div (CAST(n_c AS DECIMAL(38,0)) * n * (n_buckets - 1))" +
            " AS BIGINT)").as("emd_e6"),
          (col("dsum") * lit(5L) >
            col("n_c").cast(d380) * col("n") * (col("n_buckets") - 1L))
            .as("t_violation"))
        .orderBy("segment")
    },
    oracle = Some(
      """WITH m AS (SELECT c_mktsegment AS segment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b
        |  FROM customer),
        |g AS (SELECT segment, b, COUNT(*) AS c FROM m GROUP BY 1, 2),
        |grid AS (SELECT s.segment, bb.b
        |  FROM (SELECT DISTINCT segment FROM g) s
        |  CROSS JOIN (SELECT DISTINCT b FROM g) bb),
        |f AS (SELECT grid.segment, grid.b, COALESCE(g.c, 0) AS c
        |  FROM grid LEFT JOIN g USING (segment, b)),
        |cum AS (SELECT segment, b, c,
        |    SUM(c) OVER (PARTITION BY segment ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
        |    SUM(c) OVER (PARTITION BY segment) AS n_c
        |  FROM f),
        |gl AS (SELECT b, SUM(gc) OVER (ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g
        |  FROM (SELECT b, SUM(c) AS gc FROM f GROUP BY 1)),
        |n AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM f),
        |nb AS (SELECT COUNT(DISTINCT b) AS nb FROM f),
        |s AS (SELECT segment, MAX(n_c) AS n_c, MAX(n.n) AS n,
        |    MAX(nb.nb) AS n_buckets,
        |    CAST(SUM(abs(CAST(cum_c AS HUGEINT) * n.n
        |      - CAST(cum_g AS HUGEINT) * n_c)) AS HUGEINT) AS dsum
        |  FROM cum JOIN gl USING (b) CROSS JOIN n CROSS JOIN nb
        |  GROUP BY segment)
        |SELECT segment, CAST(n_c AS BIGINT) AS n_c,
        |  CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST((dsum * 1000000)
        |    // (CAST(n_c AS HUGEINT) * n * (n_buckets - 1)) AS BIGINT)
        |    AS emd_e6,
        |  dsum * 5 > CAST(n_c AS HUGEINT) * n * (n_buckets - 1)
        |    AS t_violation
        |FROM s ORDER BY segment""".stripMargin))

  val defs: Map[String, QueryDef] = Map(
    "q_t_closeness" -> tCloseness,
    "q_k_anonymity" -> kAnonymity,
    "q_er_clusters" -> erClusters,
    "q_fk_orphans" -> fkOrphans,
    "q_dp_counts" -> dpCounts,
    "q_name_similarity" -> nameSimilarity,
    "q_forget_cascade" -> forgetCascade,
    "q_pii_scan" -> piiScan)
}
