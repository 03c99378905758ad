package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.annotation.tailrec
import scala.collection.concurrent.TrieMap

/** The engine's one session memo: every memoized frame, index path,
  * codebook and resolved base table lives here, one entry per
  * (session, input path, tag).
  *
  * Validity: each entry carries the stamp of its input path when it was
  * built ([[cacheStamp]]: the Hadoop mtime, newest of a directory and its
  * direct children, plus the confs that change parquet type inference).
  * A lookup whose stamp differs replaces the entry, so a memo over a
  * rewritten table rebuilds instead of serving the old frame, and agrees
  * with a memo-free query over the same table.
  *
  * Ownership: each tag belongs to one call site (file and line). The first
  * caller of a tag owns it and any other site using it throws. That keeps
  * two builds from silently sharing one entry, and it is what makes the
  * single `Any`-valued map safe to cast: one tag, one site, one value type.
  *
  * Eviction: on the first lookup for a session one SparkListener is
  * registered whose `onApplicationEnd` drops every entry of that session,
  * so `session.stop()` releases the memoized frames (and through them the
  * driver-side checkpoint blocks) without caller bookkeeping. If the
  * context is already stopped the listener cannot register; the entry is
  * still served.
  *
  * Every build of 0.05 s or more self-time lands in the process-wide
  * ledger [[buildSeconds]], which Bench prints as its memo trailer.
  */
object SessionCache {

  /** One memo entry: its input's stamp at build time and the lazily built
    * value. The per-entry `lazy val` settles the build race: the map
    * insert is an atomic `putIfAbsent`/`replace` of this cheap unevaluated
    * holder and the build runs under the winning holder's own monitor, so
    * builds for unrelated keys never serialize and nested memos lock only
    * their own holders (no cache-wide lock, no lock-ordering deadlock).
    */
  private final class Entry(val stamp: (Long, String), label: String, build: () => Any) {
    lazy val value: Any = {
      // SELF-time attribution: builds nest (state-comps → pair-store →
      // the minhash chain). A thread-local nesting stack subtracts child
      // seconds from the parent, so the ledger's entries are disjoint and
      // sum to real build wall-clock (nested builds run on the caller's
      // thread: lazy-val evaluation).
      val stack = nesting.get()
      stack.push(new Array[Double](1))
      val t0 = System.nanoTime()
      // Ledger-on-success only: a failed lazy val re-evaluates on the next
      // access, so recording a failed build would double-count a
      // fail-then-retry build's seconds. The nesting-stack maintenance
      // stays in finally regardless — a throwing child must still pop its
      // accumulator and charge its wall-clock to the parent.
      var ok = false
      try { val r = build(); ok = true; r }
      finally {
        val total = (System.nanoTime() - t0) / 1e9
        val childSecs = stack.pop()(0)
        if (!stack.isEmpty) stack.peek()(0) += total
        val self = total - childSecs
        if (ok && self >= 0.05) recordBuild(label, self)
      }
    }
  }

  private val entries = TrieMap.empty[(SparkSession, String, String), Entry]
  private val hooked = TrieMap.empty[SparkSession, SparkListener]
  private val sites = TrieMap.empty[String, String]
  private val builds = TrieMap.empty[String, Double]

  /** Per-thread stack of child-seconds accumulators for self-time
    * attribution of nested memo builds (see Entry.value). */
  private val nesting =
    ThreadLocal.withInitial[java.util.ArrayDeque[Array[Double]]](() =>
      new java.util.ArrayDeque[Array[Double]]())

  /** `build`'s value, built once per (session, path, tag) and rebuilt
    * when `path`'s stamp changes. Throws `IllegalStateException` if a
    * second call site uses `tag`. */
  def memo[V](spark: SparkSession, path: String, tag: String)(build: => V): V = {
    claim(tag)
    hook(spark)
    val key = (spark, path, tag)
    val stamp = cacheStamp(spark, path)
    @tailrec def lookup(): Any = entries.get(key) match {
      case Some(e) if e.stamp == stamp => e.value
      case current =>
        val e = new Entry(stamp, s"$tag:$path", () => build)
        val won = current match {
          case Some(stale) => entries.replace(key, stale, e)
          case None        => entries.putIfAbsent(key, e).isEmpty
        }
        if (won) e.value else lookup()
    }
    lookup().asInstanceOf[V]
  }

  /** `.memoCheckpoint(spark, path, "tag")` — the session-memoized
    * replacement for a per-construction `.localCheckpoint(true)`. */
  implicit class MemoOps(private val df: DataFrame) extends AnyVal {
    def memoCheckpoint(spark: SparkSession, path: String, tag: String): DataFrame =
      memo(spark, path, tag)(df.localCheckpoint(true))
  }

  /** (mtime, type-affecting confs) of `path` — the validity stamp of the
    * memo entries over it, and of Tables' schema cache. */
  private[graft] def cacheStamp(spark: SparkSession, path: String): (Long, String) = {
    // Every conf that changes what parquet type inference PRODUCES keys
    // the cache (r17 advice: nanosAsLong/NTZ alone missed binaryAsString,
    // int96AsTimestamp, caseSensitive, mergeSchema).
    val confKey = Seq(
      "spark.sql.legacy.parquet.nanosAsLong" -> "false",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
      "spark.sql.timestampType" -> "TIMESTAMP_LTZ",
      "spark.sql.parquet.binaryAsString" -> "false",
      "spark.sql.parquet.int96AsTimestamp" -> "true",
      "spark.sql.caseSensitive" -> "false",
      "spark.sql.parquet.mergeSchema" -> "false")
      .map { case (k, d) => spark.conf.get(k, d) }.mkString("|")
    // Hadoop FileSystem mtime, not java.io.File (which returns 0 for any
    // non-local scheme — hdfs://, s3a:// — and would serve a stale schema
    // silently). For directory-style tables the newest mtime across the
    // directory and its direct children invalidates on in-place part-file
    // rewrites, which the directory's own mtime misses.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val mtime =
      if (st.isDirectory)
        (st.getModificationTime +: fs.listStatus(p).map(_.getModificationTime).toSeq).max
      else st.getModificationTime
    (mtime, confKey)
  }

  private val walker = StackWalker.getInstance()

  /** Records the calling site (file:line, outside this object) as the
    * owner of `tag`, or throws if another site owns it. Sites are static,
    * so one process-wide map serves every session. */
  private def claim(tag: String): Unit = {
    val here = walker.walk[java.util.Optional[StackWalker.StackFrame]](
        _.filter(f => !f.getClassName.startsWith("graft.ops.SessionCache")).findFirst())
      .map[String](f => s"${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})")
      .orElse("<unknown>")
    val owner = sites.putIfAbsent(tag, here).getOrElse(here)
    if (owner != here)
      throw new IllegalStateException(
        s"SessionCache tag collision: tag '$tag' is owned by $owner but was " +
        s"also requested from $here — distinct builds would silently " +
        "share one entry; pick a unique tag per call site")
  }

  /** Registers `spark`'s one stop listener, on its first lookup. */
  private def hook(spark: SparkSession): Unit =
    if (!hooked.contains(spark)) {
      val listener = new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          evict(spark)
      }
      if (hooked.putIfAbsent(spark, listener).isEmpty)
        try spark.sparkContext.addSparkListener(listener)
        catch { case _: IllegalStateException => () } // context already stopped
    }

  /** Drop every entry (and the stop hook) belonging to `spark`. */
  private def evict(spark: SparkSession): Unit = {
    entries.filterInPlace { case ((s, _, _), _) => s ne spark }
    hooked.remove(spark)
  }

  /** The (path, tag) of every entry `spark` holds. */
  private[graft] def sessionKeys(spark: SparkSession): Set[(String, String)] =
    entries.keys.collect { case (s, path, tag) if s eq spark => (path, tag) }.toSet

  private[graft] def listenerFor(spark: SparkSession): Option[SparkListener] =
    hooked.get(spark)

  private def recordBuild(label: String, secs: Double): Unit =
    builds.updateWith(label) {
      case Some(t) => Some(t + secs)
      case None    => Some(secs)
    }

  /** Per-label (`tag:path`) accumulated build self-seconds since process
    * start (or the last [[resetBuilds]]). */
  def buildSeconds: Map[String, Double] = builds.toMap

  private[graft] def resetBuilds(): Unit = builds.clear()
}
