package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerCount
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.sql.{Row, SparkSession}

import graft.ops.SessionCache

/** Contract of [[graft.ops.SessionCache]], the engine's one memo: entries
  * are per (session, path, tag), rebuild when the path's stamp changes,
  * belong to one call site per tag, and drop when their session stops.
  * A second in-JVM SparkContext is unavailable to the suite, so the spec
  * drives the registered stop listener directly — the same code path a
  * real `session.stop()` fires through the listener bus.
  */
class SessionCacheSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(s: SparkSession, name: String, dir: String): Seq[Row] =
    SparkEntry.queries(name)(s, dir).collect().toSeq

  private def entryCount(s: SparkSession): Int = SessionCache.sessionKeys(s).size

  private def stop(s: SparkSession): Unit =
    SessionCache.listenerFor(s).get.onApplicationEnd(SparkListenerApplicationEnd(0L))

  test("entries for a stopped session vanish; other sessions keep theirs") {
    val dir = tmpDir("memo-evict")
    def m(s: SparkSession, tag: String, v: Int) = SessionCache.memo(s, dir, tag)(v)
    val s2 = spark.newSession()
    assert(m(spark, "spec-evict-a", 1) == 1)
    assert(m(s2, "spec-evict-a", 2) == 2)
    assert(m(s2, "spec-evict-b", 3) == 3)
    assert(entryCount(s2) == 2)
    val before = entryCount(spark)

    // both sessions registered their stop hook on first lookup
    assert(SessionCache.listenerFor(spark).isDefined && SessionCache.listenerFor(s2).isDefined)

    stop(s2)
    assert(entryCount(s2) == 0, "stopped session's entries must drop")
    assert(entryCount(spark) == before, "other sessions unaffected")
    assert(m(spark, "spec-evict-a", 7) == 1, "other sessions keep serving")
    assert(SessionCache.listenerFor(s2).isEmpty, "hook bookkeeping released too")

    // a revived session re-registers and caches fresh
    assert(m(s2, "spec-evict-a", 9) == 9)
    assert(SessionCache.listenerFor(s2).isDefined)
    assert(entryCount(s2) == 1)
  }

  test("memoization still holds: build runs once per (session, key)") {
    val dir = tmpDir("memo-once")
    var builds = 0
    def build: Int = { builds += 1; builds }
    def m() = SessionCache.memo(spark, dir, "spec-once")(build)
    assert(m() == 1)
    assert(m() == 1)
    assert(builds == 1)
  }

  test("a memo over a rewritten input rebuilds and agrees with a memo-free query") {
    // q_acf_table reads orders through the dev-grid memo over `dir`
    val dir = tmpDir("memo-stale")
    val orders = s"$dir/orders.parquet"
    val all = graft.ops.Tables.orders(spark, sf)
    all.write.parquet(orders)
    val s1 = spark.newSession()
    val before = rows(s1, "q_acf_table", dir)
    assert(before == rows(s1, "q_acf_table", dir), "served from the memo")

    all.filter("o_orderkey % 3 = 0").write.mode("overwrite").parquet(orders)
    // an explicit forward move, so the check does not hang on mtime granularity
    val p = new Path(orders)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(p, fs.getFileStatus(p).getModificationTime + 60000L, -1L)

    val after = rows(s1, "q_acf_table", dir)
    assert(after != before, "the rewrite changes the answer")
    assert(after == rows(spark.newSession(), "q_acf_table", dir),
      "a memo built before the rewrite must not serve the old frame")
    stop(s1)
  }

  test("one session touching many tags registers exactly one stop listener") {
    val s2 = spark.newSession()
    val sc = spark.sparkContext
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(sc)
    val n0 = ListenerCount.of(sc)
    // base-table, dev-grid and trade-edges memos, plus two ad-hoc tags
    rows(s2, "q_acf_table", sf)
    rows(s2, "q_graph_degrees", sf)
    val dir = tmpDir("memo-hook")
    Seq("spec-hook-a", "spec-hook-b").foreach(t => SessionCache.memo(s2, dir, t)(t))
    assert(entryCount(s2) >= 5)
    assert(ListenerCount.of(sc) - n0 == 1)
    stop(s2)
  }

  test("the production caches are SessionCache instances (evictable)") {
    // a real query memo (the trade edges behind q_graph_degrees) drops with
    // its session and rebuilds the same answer on the next touch
    val s2 = spark.newSession()
    val want = rows(s2, "q_graph_degrees", sf)
    val memos = entryCount(s2)
    assert(memos > 0)
    val edges = SessionCache.sessionKeys(s2)
    assert(edges.contains(sf -> "trade_edges"), s"memo keys: $edges")
    stop(s2)
    assert(entryCount(s2) == 0)
    // and the next touch rebuilds the same answer
    assert(rows(s2, "q_graph_degrees", sf) == want)
    assert(SessionCache.sessionKeys(s2).contains(sf -> "trade_edges"))
    stop(s2)
  }

  test("the ANN gates share one 8-probe truth memo") {
    // q_sim_ann_brute reads k=5, q_knn_recall k=4 and q_sim_ann_sq8 k=10:
    // all three are rank prefixes of the one exact top-10 memo
    val s2 = spark.newSession()
    Seq("q_sim_ann_brute", "q_knn_recall", "q_sim_ann_sq8").foreach(rows(s2, _, sf))
    val truths = SessionCache.sessionKeys(s2).collect {
      case (`sf`, tag) if tag.matches("(ann|knn)_truth.*") => tag
    }
    assert(truths == Set("ann_truth10"), s"8-probe truth memos: $truths")
    stop(s2)
  }

  test("nested memo builds record disjoint SELF-times") {
    // the memo-cost trailer must sum to real build wall-clock, so a build
    // nested inside another must be subtracted from its parent's recorded
    // seconds (the tags below are unique to this test, and the ledger is
    // per label)
    val dir = tmpDir("memo-nest")
    val got = SessionCache.memo(spark, dir, "spec-nest-outer") {
      Thread.sleep(150)
      SessionCache.memo(spark, dir, "spec-nest-inner") { Thread.sleep(150); 1 } + 1
    }
    assert(got == 2)
    val b = SessionCache.buildSeconds
    val o = b(s"spec-nest-outer:$dir")
    val i = b(s"spec-nest-inner:$dir")
    assert(i >= 0.14, s"inner self-time must be its own sleep, got $i")
    assert(o >= 0.14, s"outer self-time must include its own sleep, got $o")
    assert(o < 0.14 + i,
      s"outer ($o) must EXCLUDE the nested inner build ($i) — " +
        "wall-clock attribution would double-count")
  }

  test("GridMemo fails fast when two call sites share a tag") {
    // the grid memos are SessionCache.memo sites now: a tag belongs to one
    // call site, and a second site fails fast, whatever the value type
    val dir = tmpDir("memo-collision")
    def siteA() = SessionCache.memo(spark, dir, "spec_collision_tag")(
      spark.range(1).toDF("x"))
    def siteB() = SessionCache.memo(spark, dir, "spec_collision_tag")(
      spark.range(2).toDF("x"))
    assert(siteA().count() == 1)
    val e = intercept[IllegalStateException] { siteB() }
    assert(e.getMessage.contains("spec_collision_tag"))
    // the owning site keeps working (and still serves the memo)
    assert(siteA().count() == 1)

    // the same holds for a non-DataFrame memo: a second site would read the
    // owner's Int as its String without the check
    def intSite() = SessionCache.memo(spark, dir, "spec_collision_int")(41 + 1)
    def stringSite() = SessionCache.memo(spark, dir, "spec_collision_int")("42")
    assert(intSite() == 42)
    val e2 = intercept[IllegalStateException] { stringSite() }
    assert(e2.getMessage.contains("spec_collision_int"))
    assert(intSite() == 42)
  }
}
