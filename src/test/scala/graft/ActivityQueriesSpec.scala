package graft

import java.sql.Timestamp

/** Hand-built fixtures for the activity-analytics family (the round-10
  * additions the DuckDB oracle alone covered until now): streak
  * boundaries for gaps-and-islands, sparse-month stickiness arithmetic
  * for DAU/MAU, even/odd rolling-median frames, and NULL-value
  * exclusion for the daily grid.
  */
class ActivityQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDir(rows: Seq[(Long, String, String, java.lang.Double)]): String = {
    val dir = tmpDir("activity-fixture")
    rows.map { case (uid, day, typ, v) =>
      (uid, Timestamp.valueOf(s"$day 12:00:00"), typ, v, s"e$uid-$day-$typ")
    }.toDF("user_id", "ts", "event_type", "value", "event_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q_gaps_islands: streak boundaries, singletons dropped, multi-event days collapse") {
    val rows = Seq[(Long, String, String, java.lang.Double)](
      // user 1: days 1-3 consecutive, gap, days 5-6 — two streaks
      (1L, "2024-01-01", "view", 1.0), (1L, "2024-01-02", "view", 1.0),
      (1L, "2024-01-02", "click", 2.0), // same day twice — must not split the run
      (1L, "2024-01-03", "view", 1.0),
      (1L, "2024-01-05", "view", 1.0), (1L, "2024-01-06", "view", 1.0),
      // user 2: isolated days only — no streak >= 2, absent from output
      (2L, "2024-01-01", "view", 1.0), (2L, "2024-01-03", "view", 1.0),
      // user 3: exactly 2 consecutive days — the boundary case len == 2
      (3L, "2024-01-09", "view", 1.0), (3L, "2024-01-10", "view", 1.0))
    val got = SparkEntry.queries("q_gaps_islands")(spark, eventsDir(rows))
      .select("user_id", "streak_start", "streak_end", "len")
      .as[(Long, java.sql.Date, java.sql.Date, Long)].collect().toList
    assert(got == List(
      (1L, java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-03"), 3L),
      (1L, java.sql.Date.valueOf("2024-01-05"), java.sql.Date.valueOf("2024-01-06"), 2L),
      (3L, java.sql.Date.valueOf("2024-01-09"), java.sql.Date.valueOf("2024-01-10"), 2L)))
  }

  test("q_dau_mau: sparse-month stickiness uses ACTIVE days as denominator") {
    val rows = Seq[(Long, String, String, java.lang.Double)](
      // Jan: users 1,2 on day 1; user 1 on day 2 -> dau_sum=3, n_days=2, mau=2
      (1L, "2024-01-01", "view", 1.0), (2L, "2024-01-01", "view", 1.0),
      (1L, "2024-01-02", "view", 1.0),
      // Feb: one user, one day
      (3L, "2024-02-10", "view", 1.0))
    val got = SparkEntry.queries("q_dau_mau")(spark, eventsDir(rows))
      .select("month", "n_days", "dau_sum", "mau", "avg_dau", "stickiness")
      .as[(String, Long, Long, Long, Double, Double)].collect().toList
    assert(got == List(
      ("2024-01", 2L, 3L, 2L, 1.5, 0.75),
      ("2024-02", 1L, 1L, 1L, 1.0, 1.0)))
  }

  test("q_rolling_median: odd and even frames, and NULL values excluded") {
    val rows = Seq[(Long, String, String, java.lang.Double)](
      // type "a": daily totals 10, 20, 30, 40 -> frames grow 1..4
      (1L, "2024-01-01", "a", 10.0),
      (1L, "2024-01-02", "a", 20.0),
      (1L, "2024-01-03", "a", 30.0),
      (1L, "2024-01-04", "a", 40.0),
      // a NULL value on day 2 must be ignored, not shift the frame
      (2L, "2024-01-02", "a", null),
      // type "b": its only value is NULL -> the day must not appear at
      // all (an unfiltered plan would emit a NULL daily sum and diverge
      // from the oracle's frame arithmetic)
      (3L, "2024-01-01", "b", null))
    val all = SparkEntry.queries("q_rolling_median")(spark, eventsDir(rows))
    assert(all.filter(org.apache.spark.sql.functions.col("event_type") === "b").count() == 0)
    val got = all
      .select(org.apache.spark.sql.functions.col("day"),
        org.apache.spark.sql.functions.col("n_in_frame"),
        // emitted as exact scaled BIGINT since round 13 (the driver gate
        // cannot hash top-level DECIMAL columns)
        org.apache.spark.sql.functions.col("med7_e6"))
      .as[(java.sql.Date, Long, Long)].collect().toList
    assert(got == List(
      (java.sql.Date.valueOf("2024-01-01"), 1L, 10000000L), // odd frame of 1
      (java.sql.Date.valueOf("2024-01-02"), 2L, 15000000L), // even: avg(10,20)
      (java.sql.Date.valueOf("2024-01-03"), 3L, 20000000L), // odd: middle of 3
      (java.sql.Date.valueOf("2024-01-04"), 4L, 25000000L))) // even: avg(20,30)
  }
}
