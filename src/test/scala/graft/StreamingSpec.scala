package graft

import java.sql.{DriverManager, Timestamp}
import graft.sink.JdbcUpsert
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.KeyedValue
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowedStats: tumbling windows aggregate counts and sums") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.windowedStats(
        in.toDF().toDF("ts", "event_type", "value"), "ts", "event_type", "value")
      .writeStream.format("memory").queryName("winstats")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(
        (ts("2024-01-01 00:01:00"), "click", 1.0),
        (ts("2024-01-01 00:02:00"), "click", 2.0),
        (ts("2024-01-01 00:03:00"), "view", 5.0),
        (ts("2024-01-01 00:11:00"), "click", 7.0))
      q.processAllAvailable()
      val got = spark.table("winstats")
        .select("window_start", "event_type", "n_events", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect()
        .map { case (w, t, n, s) => (w.toString, t, n, s) }.sorted.toSeq
      assert(got == Seq(
        ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 00:00:00.0", "view", 1L, 5.0),
        ("2024-01-01 00:10:00.0", "click", 1L, 7.0)))
    } finally q.stop()
  }

  test("slidingStats: each event lands in windowLen/slide overlapping windows") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.slidingStats(
        in.toDF().toDF("ts", "event_type", "value"), "ts", "event_type", "value")
      .writeStream.format("memory").queryName("slide")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((ts("2024-01-01 00:07:00"), "click", 1.0))
      q.processAllAvailable()
      val got = spark.table("slide")
        .select("window_start", "n_events").as[(Timestamp, Long)]
        .collect().map(_._1.toString).sorted.toSeq
      // 10-min window / 5-min slide -> two windows contain 00:07
      assert(got == Seq("2024-01-01 00:00:00.0", "2024-01-01 00:05:00.0"))
    } finally q.stop()
  }

  test("sessionStats: events within the gap merge; sessions emit as the watermark closes them") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    // session windows only support Append: rows emit once the watermark
    // passes the session end, so later batches drive emission
    val q = StreamingOps.sessionStats(
        in.toDF().toDF("ts", "user_id"), "ts", "user_id", gap = "5 minutes")
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:03:00"), 1L),  // merges (gap < 5m)
        (ts("2024-01-01 00:20:00"), 1L))  // separate session
      q.processAllAvailable()             // watermark -> 00:15
      in.addData((ts("2024-01-01 01:00:00"), 2L)) // closes session A
      q.processAllAvailable()             // watermark -> 00:55
      in.addData((ts("2024-01-01 02:00:00"), 2L)) // closes session B
      q.processAllAvailable()
      val got = spark.table("sess")
        .select("session_start", "session_end", "n_events")
        .as[(Timestamp, Timestamp, Long)].collect()
        .map { case (s, e, n) => (s.toString, e.toString, n) }.sorted.toSeq
      // the 02:00 event advances the watermark to 01:55, which also closes
      // user 2's 01:00 session within the same processAllAvailable drain
      assert(got == Seq(
        ("2024-01-01 00:00:00.0", "2024-01-01 00:08:00.0", 2L),
        ("2024-01-01 00:20:00.0", "2024-01-01 00:25:00.0", 1L),
        ("2024-01-01 01:00:00.0", "2024-01-01 01:05:00.0", 1L)))
    } finally q.stop()
  }

  test("latestPerKey: stateful keep-latest across micro-batches, stale rows ignored") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[KeyedValue]
    val q = StreamingOps.latestPerKey(in.toDS())
      .toDF("key", "ts", "value")
      .writeStream.format("memory").queryName("latest")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(
        KeyedValue(1L, ts("2024-01-01 00:00:00"), 10.0),
        KeyedValue(2L, ts("2024-01-01 00:00:00"), 20.0))
      q.processAllAvailable()
      // batch 2: key 1 advances, key 2 gets a STALE (older) event -> no emit
      in.addData(
        KeyedValue(1L, ts("2024-01-02 00:00:00"), 11.0),
        KeyedValue(2L, ts("2023-12-31 00:00:00"), 99.0))
      q.processAllAvailable()
      val got = spark.table("latest").as[(Long, Timestamp, Double)].collect()
        .map { case (k, t, v) => (k, t.toString, v) }.sorted.toSeq
      assert(got == Seq(
        (1L, "2024-01-01 00:00:00.0", 10.0),
        (1L, "2024-01-02 00:00:00.0", 11.0),
        (2L, "2024-01-01 00:00:00.0", 20.0)))
    } finally q.stop()
  }

  test("applyChangelog: tombstones clear state and emit D; insert-after-delete re-seeds") {
    import graft.streaming.StreamingOps.CdcRow
    implicit val sc = spark.sqlContext
    val in = MemoryStream[CdcRow]
    val q = StreamingOps.applyChangelog(in.toDS())
      .toDF("key", "ts", "op", "value")
      .writeStream.format("memory").queryName("cdcapply")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(
        CdcRow(1L, ts("2024-01-01 00:00:00"), "U", 10.0),
        CdcRow(2L, ts("2024-01-01 00:00:00"), "U", 20.0))
      q.processAllAvailable()
      // batch 2: key 1 deleted; key 2 gets a stale row (ignored)
      in.addData(
        CdcRow(1L, ts("2024-01-02 00:00:00"), "D", 0.0),
        CdcRow(2L, ts("2023-12-31 00:00:00"), "U", 99.0))
      q.processAllAvailable()
      // batch 3: key 1 re-inserted AFTER its delete (fresh state), key 2 updates
      in.addData(
        CdcRow(1L, ts("2024-01-03 00:00:00"), "U", 12.0),
        CdcRow(2L, ts("2024-01-02 00:00:00"), "U", 21.0))
      q.processAllAvailable()
      val got = spark.table("cdcapply").as[(Long, Timestamp, String, Double)]
        .collect().map { case (k, t, o, v) => (k, t.toString, o, v) }.sorted.toSeq
      assert(got == Seq(
        (1L, "2024-01-01 00:00:00.0", "U", 10.0),
        (1L, "2024-01-02 00:00:00.0", "D", 0.0),
        (1L, "2024-01-03 00:00:00.0", "U", 12.0),
        (2L, "2024-01-01 00:00:00.0", "U", 20.0),
        (2L, "2024-01-02 00:00:00.0", "U", 21.0)))
    } finally q.stop()
  }

  test("applyChangelog: same-timestamp delete beats update — no resurrection") {
    import graft.streaming.StreamingOps.CdcRow
    implicit val sc = spark.sqlContext
    val in = MemoryStream[CdcRow]
    val q = StreamingOps.applyChangelog(in.toDS())
      .toDF("key", "ts", "op", "value")
      .writeStream.format("memory").queryName("cdctie")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(
        CdcRow(7L, ts("2024-01-01 00:00:00"), "U", 1.0),
        CdcRow(7L, ts("2024-01-01 00:00:00"), "D", 0.0))
      q.processAllAvailable()
      val got = spark.table("cdctie").as[(Long, Timestamp, String, Double)]
        .collect().map { case (k, t, o, v) => (k, o, v) }.toSeq
      assert(got == Seq((7L, "D", 0.0)))
    } finally q.stop()
  }

  test("nearDupFilter: repeated signatures drop, distinct docs and empties pass") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingOps.nearDupFilter(
        in.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts")
      .writeStream.format("memory").queryName("ndf")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (1L, "the quick brown fox jumps", ts("2024-01-01 00:00:00")),
        (2L, "quick the brown jumps fox", ts("2024-01-01 00:01:00")), // same token SET -> same sig
        (3L, "completely different words here", ts("2024-01-01 00:02:00")),
        (4L, "", ts("2024-01-01 00:03:00")),
        (5L, "   ", ts("2024-01-01 00:04:00")))
      q.processAllAvailable()
      val got = spark.table("ndf").select("doc_id").as[Long].collect().sorted.toSeq
      // one of {1,2} survives (same-batch winner is arbitrary), 3 passes,
      // both empty docs pass (empties are not near-dups of each other)
      assert(got.length == 4 && got.contains(3L) && got.contains(4L) && got.contains(5L))
      assert(got.contains(1L) || got.contains(2L))
    } finally q.stop()
  }

  test("intervalJoin: right rows match left rows of the same key within the lookback") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val views = MemoryStream[(Long, Timestamp)]
    val joined = StreamingOps.intervalJoin(
      clicks.toDF().toDF("user_id", "click_ts"),
      views.toDF().toDF("user_id", "view_ts"),
      "user_id", "click_ts", "view_ts", lookback = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ivj")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData(
        (1L, ts("2024-01-01 00:00:00")),  // in window for the 00:05 click
        (1L, ts("2024-01-01 00:04:00")),  // in window
        (2L, ts("2024-01-01 00:04:00")),  // wrong key
        (1L, ts("2024-01-01 00:06:00")))  // after the click -> excluded
      clicks.addData((1L, ts("2024-01-01 00:05:00")))
      q.processAllAvailable()
      val got = spark.table("ivj")
        .select("user_id", "view_ts").as[(Long, Timestamp)].collect()
        .map { case (u, v) => (u, v.toString) }.sorted.toSeq
      assert(got == Seq(
        (1L, "2024-01-01 00:00:00.0"),
        (1L, "2024-01-01 00:04:00.0")))
    } finally q.stop()
  }

  test("windowedStats: data later than the watermark is dropped, not aggregated") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.windowedStats(
        in.toDF().toDF("ts", "event_type", "value"), "ts", "event_type", "value",
        windowLen = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("latedrop")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((ts("2024-01-01 01:00:00"), "click", 1.0))
      q.processAllAvailable() // watermark -> 00:55
      // 00:10 is far behind the watermark: its window [00:10,00:20) is closed
      in.addData((ts("2024-01-01 00:10:00"), "click", 99.0))
      q.processAllAvailable()
      val windows = spark.table("latedrop")
        .select("window_start").as[Timestamp].collect().map(_.toString).toSeq
      assert(windows == Seq("2024-01-01 01:00:00.0")) // late row never surfaced
    } finally q.stop()
  }

  test("dedupWithinWatermark: repeats inside the horizon are dropped, state stays bounded") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Double)]
    val q = StreamingOps.dedupWithinWatermark(
        in.toDF().toDF("ts", "event_id", "value"), "ts", Seq("event_id"))
      .writeStream.format("memory").queryName("dedupw")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (ts("2024-01-01 00:00:00"), 1L, 1.0),
        (ts("2024-01-01 00:00:30"), 1L, 1.0), // duplicate within horizon
        (ts("2024-01-01 00:01:00"), 2L, 2.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 00:02:00"), 1L, 1.0)) // still within horizon
      q.processAllAvailable()
      val got = spark.table("dedupw").as[(Timestamp, Long, Double)]
        .collect().map(_._2).sorted.toSeq
      assert(got == Seq(1L, 2L)) // each key surfaced exactly once
    } finally q.stop()
  }

  test("stream-static join: streaming facts enrich against a static dimension") {
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("user_id", "amount")
      .join(dim, Seq("user_id"), "left") // static side: no state, re-read per batch
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, 10.0), (3L, 30.0))
      q.processAllAvailable()
      val got = spark.table("enriched")
        .as[(Long, Double, Option[String])].collect().sortBy(_._1).toSeq
      assert(got == Seq((1L, 10.0, Some("gold")), (3L, 30.0, None)))
    } finally q.stop()
  }

  test("upsertSink: micro-batches land as idempotent keyed upserts") {
    val url = "jdbc:derby:memory:streamsink;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      try conn.createStatement().execute("DROP TABLE latest_vals")
      catch { case _: java.sql.SQLException => () }
      conn.createStatement().execute(
        "CREATE TABLE latest_vals (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    } finally conn.close()

    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val ckpt = tmpDir("ckpt")
    in.addData((1L, 1.0), (2L, 2.0))
    val q1 = StreamingOps.upsertSink(in.toDF().toDF("k", "v"), url,
      "latest_vals", Seq("k"), JdbcUpsert.Dialect.Generic, ckpt)
    q1.awaitTermination()
    in.addData((2L, 22.0), (3L, 3.0)) // update + insert
    val q2 = StreamingOps.upsertSink(in.toDF().toDF("k", "v"), url,
      "latest_vals", Seq("k"), JdbcUpsert.Dialect.Generic, ckpt)
    q2.awaitTermination()

    val c2 = DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement().executeQuery("SELECT k, v FROM latest_vals ORDER BY k")
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      while (rs.next()) buf += ((rs.getLong(1), rs.getDouble(2)))
      assert(buf.toSeq == Seq((1L, 1.0), (2L, 22.0), (3L, 3.0)))
    } finally c2.close()
  }

  test("upsertSink: a batch whose commit was lost is replayed on restart with no effect twice") {
    // exactly-once-EFFECTIVE proof: foreachBatch is at-least-once (a crash
    // between the JDBC write and the checkpoint commit record re-runs the
    // batch), and the keyed upsert makes the replay converge instead of
    // duplicating — the streaming inheritance of the reference pipeline's
    // rerun-idempotence (run_pricenow.yml:5-16 reruns the whole load)
    val url = "jdbc:derby:memory:replaysink;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      try conn.createStatement().execute("DROP TABLE replay_vals")
      catch { case _: java.sql.SQLException => () }
      conn.createStatement().execute(
        "CREATE TABLE replay_vals (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    } finally conn.close()

    def tableRows(): Seq[(Long, Double)] = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery("SELECT k, v FROM replay_vals ORDER BY k")
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        while (rs.next()) buf += ((rs.getLong(1), rs.getDouble(2)))
        buf.toSeq
      } finally c.close()
    }

    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val ckpt = tmpDir("replayckpt")
    in.addData((1L, 1.0), (2L, 2.0))
    val q1 = StreamingOps.upsertSink(in.toDF().toDF("k", "v"), url,
      "replay_vals", Seq("k"), JdbcUpsert.Dialect.Generic, ckpt)
    q1.awaitTermination()
    assert(tableRows() == Seq((1L, 1.0), (2L, 2.0)))

    // simulate the crash window: the sink wrote, the commit record did not
    // (drop the Hadoop local-FS .crc sidecar too — a real crash leaves neither,
    // and a stale checksum fails the re-commit rename)
    val commit0 = java.nio.file.Paths.get(ckpt, "commits", "0")
    assert(java.nio.file.Files.deleteIfExists(commit0),
      s"expected a commit record at $commit0 — checkpoint layout changed?")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))

    val q2 = StreamingOps.upsertSink(in.toDF().toDF("k", "v"), url,
      "replay_vals", Seq("k"), JdbcUpsert.Dialect.Generic, ckpt)
    q2.awaitTermination()
    // the replay really happened (batch 0 re-ran with its recorded rows)...
    val replayed = q2.recentProgress.filter(_.numInputRows > 0)
    assert(replayed.nonEmpty && replayed.head.batchId == 0,
      s"restart did not replay the uncommitted batch: ${replayed.map(_.batchId).toSeq}")
    // ...and converged instead of duplicating or violating the PK
    assert(tableRows() == Seq((1L, 1.0), (2L, 2.0)))
    assert(java.nio.file.Files.exists(commit0), "replay must re-commit batch 0")

    // a normal post-recovery restart continues from the checkpoint:
    // overlapping key 2 converges last-write-wins, new key 3 lands once
    in.addData((2L, 22.0), (3L, 3.0))
    val q3 = StreamingOps.upsertSink(in.toDF().toDF("k", "v"), url,
      "replay_vals", Seq("k"), JdbcUpsert.Dialect.Generic, ckpt)
    q3.awaitTermination()
    assert(tableRows() == Seq((1L, 1.0), (2L, 22.0), (3L, 3.0)))
  }

  test("locfGridSink: streamed change points produce the exact batch dailyGrid (batch ≡ stream)") {
    implicit val sc = spark.sqlContext
    val base = tmpDir("locf-stream")
    val (log, grid, ckpt) = (s"$base/log", s"$base/grid", s"$base/ckpt")
    val in = MemoryStream[(Long, String, Double, Long)]
    def shaped(df: org.apache.spark.sql.DataFrame) = df
      .toDF("id", "day_s", "price", "seq")
      .select($"id", to_date($"day_s").as("day"), $"price", $"seq")
    val q = StreamingOps.locfGridSink(shaped(in.toDF()),
      "id", "day", "price", Seq("seq"), "2024-01-01", "2024-01-10",
      log, grid, ckpt, trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // batch 1: two ids start their histories
      in.addData((1L, "2024-01-02", 10.0, 1L), (2L, "2024-01-03", 5.0, 2L))
      q.processAllAvailable()
      // batch 2: same-day OVERRIDE for id 1 (seq tie-break must prefer 3)
      // plus a later change — exercises cross-batch tie-breaking
      in.addData((1L, "2024-01-02", 11.0, 3L), (1L, "2024-01-05", 20.0, 4L))
      q.processAllAvailable()
      // batch 3: a brand-new id; ids 1-2 untouched this round
      in.addData((3L, "2024-01-09", 7.0, 5L))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(grid)
      .select($"id", $"day".cast("string"), $"price")
      .as[(Long, String, Double)].collect().toSet
    val allChanges = Seq(
      (1L, "2024-01-02", 10.0, 1L), (2L, "2024-01-03", 5.0, 2L),
      (1L, "2024-01-02", 11.0, 3L), (1L, "2024-01-05", 20.0, 4L),
      (3L, "2024-01-09", 7.0, 5L))
      .toDF("id", "day_s", "price", "seq")
    val batch = graft.ops.ForwardFill.dailyGrid(shaped(allChanges),
        "id", "day", "price", Seq("seq"), "2024-01-01", "2024-01-10")
      .select($"id", $"day".cast("string"), $"price")
      .as[(Long, String, Double)].collect().toSet
    assert(streamed == batch,
      s"missing ${(batch -- streamed).take(5)}, extra ${(streamed -- batch).take(5)}")
    // spot-check the semantics actually exercised: same-day override won
    // (11.0 carried from Jan 2), and the later change steps the value
    assert(streamed((1L, "2024-01-03", 11.0)) && streamed((1L, "2024-01-06", 20.0)))
    assert(streamed.size == 9 + 8 + 2, s"dense grid size off: ${streamed.size}")
  }

  test("locfGridSink: a LATE change at date d corrects exactly the LOCF days in " +
      "[d, next change); untouched ids' partitions stay byte-identical") {
    implicit val sc = spark.sqlContext
    val base = tmpDir("locf-late")
    val (log, grid, ckpt) = (s"$base/log", s"$base/grid", s"$base/ckpt")
    val in = MemoryStream[(Long, String, Double, Long)]
    def shaped(df: org.apache.spark.sql.DataFrame) = df
      .toDF("id", "day_s", "price", "seq")
      .select($"id", to_date($"day_s").as("day"), $"price", $"seq")
    def idFiles(id: Long): Map[String, Seq[Byte]] = {
      val dir = java.nio.file.Paths.get(grid, s"id=$id")
      if (!java.nio.file.Files.exists(dir)) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(dir).iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p)
            && !p.getFileName.toString.endsWith(".crc"))
          .map(p => p.getFileName.toString ->
            java.nio.file.Files.readAllBytes(p).toSeq)
          .toMap
      }
    }
    def gridOf(id: Long): Map[String, Double] = spark.read.parquet(grid)
      .filter($"id" === id)
      .select($"day".cast("string"), $"price")
      .as[(String, Double)].collect().toMap
    val q = StreamingOps.locfGridSink(shaped(in.toDF()),
      "id", "day", "price", Seq("seq"), "2024-01-01", "2024-01-10",
      log, grid, ckpt, trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // in-order history for id 1 (Jan 2 → 10, Jan 8 → 30) + bystander id 2
      in.addData((1L, "2024-01-02", 10.0, 1L), (1L, "2024-01-08", 30.0, 2L),
        (2L, "2024-01-01", 5.0, 3L))
      q.processAllAvailable()
      val before = gridOf(1L)
      val bystanderBefore = idFiles(2L)
      assert(before("2024-01-05") == 10.0 && before("2024-01-09") == 30.0)

      // LATE change point: Jan 5 → 20 arrives AFTER Jan 8 was processed
      in.addData((1L, "2024-01-05", 20.0, 4L))
      q.processAllAvailable()
      val after = gridOf(1L)
      // days < d: identical values (fill looks backward, d can't reach them)
      for (day <- Seq("2024-01-02", "2024-01-03", "2024-01-04"))
        assert(after(day) == before(day), s"$day must be untouched by the late point")
      // [d, next change): exactly these flip to the late value
      for (day <- Seq("2024-01-05", "2024-01-06", "2024-01-07"))
        assert(after(day) == 20.0, s"$day must carry the late change")
      // >= next change: the Jan-8 step still wins
      for (day <- Seq("2024-01-08", "2024-01-09", "2024-01-10"))
        assert(after(day) == 30.0, s"$day must keep the later in-order change")
      assert(after.size == before.size, "late data must not grow the grid")
      // the untouched id's partition was never rewritten — same files, same bytes
      assert(idFiles(2L) == bystanderBefore,
        "dynamic partition overwrite rewrote a bystander id's files")
    } finally q.stop()
  }

  test("windowedDistinctKmv: exhaustive window is exact, saturated window estimates") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Long)]
    val q = StreamingOps.windowedDistinctKmv(
        in.toDF().toDF("ts", "event_type", "user_id"), "ts", "event_type", "user_id")
      .writeStream.format("memory").queryName("kmvwin")
      .outputMode(OutputMode.Update()).start()
    try {
      // window 1: 10 distinct users (< k = 64) with repeats — exhaustive
      val small = (1 to 30).map(i =>
        (ts(f"2024-01-01 00:0${i % 10}:00"), "click", (i % 10).toLong))
      // window 2: 500 distinct users (> k) — estimator regime, two batches
      // so streaming STATE must carry partial sketches across merges
      val big = (0 until 500).map(i =>
        (ts(s"2024-01-01 00:1${i % 10}:00"), "view", 1000L + i))
      in.addData(small ++ big.take(250): _*)
      q.processAllAvailable()
      in.addData(big.drop(250): _*)
      q.processAllAvailable()
      val got = spark.table("kmvwin")
        .select("window_start", "event_type", "n_rows", "k_used", "est_distinct")
        .as[(Timestamp, String, Long, Long, Long)].collect()
        .groupBy(r => (r._1.toString, r._2)).map { case (k, rs) =>
          // Update mode re-emits per batch; the last row is the final state
          k -> rs.maxBy(_._3)
        }
      val (_, _, nSmall, kSmall, estSmall) = got(("2024-01-01 00:00:00.0", "click"))
      assert(nSmall == 30L && kSmall == 10L && estSmall == 10L,
        "sub-k window must report the exact distinct count")
      val (_, _, nBig, kBig, estBig) = got(("2024-01-01 00:10:00.0", "view"))
      assert(nBig == 500L && kBig == 64L)
      assert(math.abs(estBig - 500L) <= 175L,
        s"saturated estimate $estBig outside the 35% KMV contract around 500")
      // streaming result == the batch twin on the same rows (state merged
      // across two micro-batches must equal one-shot aggregation)
      val batch = StreamingOps.windowedDistinctKmv(
          (small ++ big).toDF("ts", "event_type", "user_id"),
          "ts", "event_type", "user_id")
        .select("window_start", "event_type", "est_distinct")
        .as[(Timestamp, String, Long)].collect()
        .map(r => (r._1.toString, r._2) -> r._3).toMap
      assert(batch(("2024-01-01 00:00:00.0", "click")) == estSmall)
      assert(batch(("2024-01-01 00:10:00.0", "view")) == estBig)
    } finally q.stop()
  }

  test("windowedQuantileDd: 5% relative-error quantiles, state merges across batches") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingOps.windowedQuantileDd(
        in.toDF().toDF("ts", "event_type", "value"), "ts", "event_type", "value")
      .writeStream.format("memory").queryName("ddwin")
      .outputMode(OutputMode.Update()).start()
    try {
      // values 1..100 in one window, split across two micro-batches so the
      // bucket map must merge through streaming state; true p50 = 50
      // (rank 50 of 100), true p95 = 95
      val rows = (1 to 100).map(i =>
        (ts(f"2024-01-01 00:0${i % 10}:00"), "click", i.toDouble))
      in.addData(rows.take(60): _*)
      q.processAllAvailable()
      in.addData(rows.drop(60): _*)
      q.processAllAvailable()
      val got = spark.table("ddwin")
        .select("n_rows", "p50_est", "p95_est")
        .as[(Long, Double, Double)].collect().maxBy(_._1)
      assert(got._1 == 100L)
      assert(math.abs(got._2 - 50.0) / 50.0 <= 0.05,
        s"p50 estimate ${got._2} outside the 5% contract around 50")
      assert(math.abs(got._3 - 95.0) / 95.0 <= 0.05,
        s"p95 estimate ${got._3} outside the 5% contract around 95")
      // streaming state merged across batches == one-shot batch aggregation
      val batch = StreamingOps.windowedQuantileDd(
          rows.toDF("ts", "event_type", "value"), "ts", "event_type", "value")
        .select("n_rows", "p50_est", "p95_est")
        .as[(Long, Double, Double)].collect().head
      assert(batch == got, "streaming result must equal the batch twin")
    } finally q.stop()
  }

  test("ewmaAnomalyStream: state carries the smoother across batches; spikes flag 50% jumps") {
    implicit val sc = spark.sqlContext
    import graft.streaming.StreamingOps.DailyTotal
    def d(s: String) = java.sql.Date.valueOf(s)
    val in = MemoryStream[DailyTotal]
    val q = StreamingOps.ewmaAnomalyStream(in.toDS())
      .toDF("etype", "day", "total", "ewma", "spike")
      .writeStream.format("memory").queryName("ewmastream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        DailyTotal("click", d("2024-01-01"), 100.0),
        DailyTotal("click", d("2024-01-02"), 110.0),
        DailyTotal("view", d("2024-01-01"), 50.0))
      q.processAllAvailable()
      // batch 2 continues the same series — state must carry e across
      in.addData(
        DailyTotal("click", d("2024-01-03"), 300.0), // jump: |300-105| > 52.5
        DailyTotal("click", d("2024-01-04"), 210.0),
        DailyTotal("view", d("2024-01-02"), 55.0))
      q.processAllAvailable()
      val got = spark.table("ewmastream")
        .select("etype", "day", "ewma", "spike")
        .as[(String, java.sql.Date, Double, Boolean)].collect()
        .map(r => (r._1, r._2.toString) -> (r._3, r._4)).toMap
      // sequential replay: e1=100, e2=105, e3=(300+105)/2=202.5, e4=206.25
      assert(math.abs(got(("click", "2024-01-02"))._1 - 105.0) < 1e-9)
      assert(got(("click", "2024-01-02"))._2 === false)
      assert(math.abs(got(("click", "2024-01-03"))._1 - 202.5) < 1e-9)
      assert(got(("click", "2024-01-03"))._2 === true, "300 vs level 105 must spike")
      assert(math.abs(got(("click", "2024-01-04"))._1 - 206.25) < 1e-9)
      assert(got(("click", "2024-01-04"))._2 === false, "210 vs 202.5 is within 50%")
      assert(got(("view", "2024-01-02"))._2 === false)
      assert(math.abs(got(("view", "2024-01-02"))._1 - 52.5) < 1e-9)
    } finally q.stop()
  }
}
