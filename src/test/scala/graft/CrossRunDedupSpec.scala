package graft

import org.apache.spark.sql.functions._

/** The cross-run dedup composition (q_dedup_cross_run): the persisted
  * prior-run pair state + the incremental pass must reconstruct the
  * full-rebuild pair universe BYTE-IDENTICALLY, and the state seeded
  * from the session's filtered memo must equal an actual corpus-only
  * rebuild (the pairwise-independence claim its scaladoc makes).
  */
class CrossRunDedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a"), col("id_b"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("filtered-memo state equals an actual corpus-only rebuild") {
    // LSH band membership and verify jaccard are pairwise properties, so
    // full-run pairs filtered to old×old must equal a from-scratch run
    // over the old docs alone — the identity that lets the persisted
    // state be seeded without a second LSH chain
    val docs = graft.ops.Tables.documents(spark, dir)
    val old = docs.filter(col("doc_id") % 20 =!= 0)
    val rebuilt = pairSet(graft.ops.Dedup.nearDupMinhash(
      old, "doc_id", "text", k = 16, bands = 4, minJaccard = 0.5))
    val filtered = pairSet(graft.queries.ExtensionQueries
      .minhashPairs(spark, dir)
      .filter(col("id_a") % 20 =!= 0 && col("id_b") % 20 =!= 0))
    assert(filtered == rebuilt,
      "old×old filter of the full pair set must equal the corpus-only run")
  }

  test("persisted state + incremental pass reconstruct the full rebuild") {
    // the end-to-end contract: what the prior run wrote to disk, plus
    // today's incremental pairs, IS the pair universe a full rebuild
    // would produce — no pair lost, none invented, jaccards identical
    val full = pairSet(graft.queries.ExtensionQueries.minhashPairs(spark, dir))
    val incr = pairSet(graft.queries.ExtensionQueries
      .minhashIncrPairs(spark, dir))
    // force the store write, then read the state back from DISK
    val storePath = graft.queries.CrossRunDedupQueries
      .persistedPairsPath(spark, dir)
    val state = pairSet(graft.sink.Store.pairs.read(spark, storePath))
    assert(state.forall { case (a, b, _) => a % 20 != 0 && b % 20 != 0 })
    assert(incr.forall { case (a, b, _) => a % 20 == 0 || b % 20 == 0 })
    assert((state ++ incr) == full,
      "state ∪ incremental must equal the full-rebuild pair set")
    assert(state.intersect(incr).isEmpty)
  }

  test("persisted store roots equal a full CC rebuild over the reloaded pairs") {
    // round-15 verdict task 2: the cross-run read path now LOADS the
    // prior run's persisted roots instead of re-running connected
    // components over the pair store — this pins that the store's root
    // assignment is value-identical to the rebuild it replaced
    val storePath = graft.queries.CrossRunDedupQueries
      .persistedPairsPath(spark, dir)
    val stored = graft.sink.Store.roots
      .read(spark, graft.queries.CrossRunDedupQueries
        .persistedRootsPath(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = graft.ops.Dedup.connectedComponents(
        graft.sink.Store.pairs.read(spark, storePath)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", uniquePairs = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == rebuilt,
      "root store must equal a full components rebuild over the pair store")
  }

  test("incremental roots over prior state equal the full-graph components") {
    // Dedup.incrementalRoots: prior persisted roots (star forest) +
    // batch-incident edges must reproduce the components of the WHOLE
    // pair graph — old edges never re-read
    val prior = graft.sink.Store.roots.read(spark,
      graft.queries.CrossRunDedupQueries.persistedRootsPath(spark, dir))
    val incr = graft.queries.ExtensionQueries.minhashIncrPairs(spark, dir)
      .select(col("id_a"), col("id_b"))
    val viaIncr = graft.ops.Dedup
      .incrementalRoots(prior, incr, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.ops.Dedup.connectedComponents(
        graft.queries.ExtensionQueries.minhashPairs(spark, dir)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b", uniquePairs = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIncr == full,
      "incremental root maintenance must equal the full-graph rebuild")
  }

  test("incrementalRoots merges, splits nothing, and keeps singletons — tiny fixture") {
    import spark.implicits._
    // prior clusters: {1,2,3} root 1, {10,11} root 10, singleton 20
    val prior = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L)).toDF("id", "root")
    // batch edges: 100 joins cluster 1 via 3; 101 bridges 10 and 20;
    // 102—103 form a batch-only pair; 104 absent (novel, edgeless)
    val incr = Seq((3L, 100L), (11L, 101L), (20L, 101L), (102L, 103L))
      .toDF("id_a", "id_b")
    val out = graft.ops.Dedup.incrementalRoots(prior, incr, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(100L) == 1L && out(1L) == 1L && out(3L) == 1L)
    assert(out(101L) == 10L && out(20L) == 10L && out(11L) == 10L,
      "a batch edge bridging a cluster and a singleton must merge them")
    assert(out(102L) == 102L && out(103L) == 102L)
    assert(out(2L) == 1L, "untouched members keep their root")
    assert(!out.contains(104L) && out.size == 10)
  }

  test("q_dedup_cross_run emits one verdict row per batch doc") {
    val rows = graft.SparkEntry.queries("q_dedup_cross_run")(spark, dir)
      .collect()
    val batchN = graft.ops.Tables.documents(spark, dir)
      .filter(col("doc_id") % 20 === 0).count()
    assert(rows.length.toLong == batchN)
    // a doc with partners must carry a non-null root that is not itself;
    // a doc without partners must be fully novel
    rows.foreach { r =>
      val (n, root) = (r.getAs[Long]("n_partners"),
        Option(r.getAs[java.lang.Long]("dup_root")))
      if (n == 0L) {
        assert(root.isEmpty && !r.getAs[Boolean]("joins_existing"))
      } else {
        assert(root.nonEmpty)
        assert(root.get.longValue() != r.getAs[Long]("doc_id"))
      }
    }
  }
}
