package perfbench

import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ForwardFill

class LocfOracleSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "1").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def day(s: String) = LocalDate.parse(s).toEpochDay.toInt
  private val start = day("2025-12-13")
  private val end = day("2026-04-12")

  // product 1: pre-season seed, a change, a same-day tie (ord 4 wins though
  // listed first), a null price; product 2: late first change; product 3:
  // only a change after the season end
  private val changes = Seq(
    Change(1, Some(day("2025-12-01")), Some(5000), 1),
    Change(1, Some(day("2026-01-10")), Some(6500), 2),
    Change(1, Some(day("2026-02-01")), Some(7000), 4),
    Change(1, Some(day("2026-02-01")), Some(7100), 3),
    Change(1, Some(day("2026-03-01")), None, 5),
    Change(2, Some(day("2026-04-01")), Some(9000), 6),
    Change(3, Some(day("2026-04-20")), Some(100), 7))

  test("the oracle grid matches the hand-checked values") {
    val g = LocfOracle.grid(changes, start, end)
    val p1 = g.filter(_._1 == 1L).map(r => r._2 -> r._3).toMap
    assert(p1.size == 121)
    assert(p1(day("2025-12-13")) == 5000)
    assert(p1(day("2026-01-09")) == 5000)
    assert(p1(day("2026-01-10")) == 6500)
    assert(p1(day("2026-02-01")) == 7000)
    assert(p1(day("2026-03-01")) == 7000)
    assert(g.count(_._1 == 2L) == 12)
    assert(!g.exists(_._1 == 3L))
  }

  test("the oracle grid equals ForwardFill.dailyGrid on the same changes") {
    val dir = java.nio.file.Files.createTempDirectory("locf")
    Land.changes(spark, dir, changes)
    val engine = ForwardFill.dailyGrid(spark.read.parquet(dir.toString), "product_id", "valid_at", "price",
        tieBreak = Seq("ord"), start = "2025-12-13", end = "2026-04-12")
      .select(col("product_id"), col("valid_at").cast("string"), col("price"))
      .collect().map(r => (r.getLong(0), day(r.getString(1)), r.getInt(2))).toSet
    assert(engine == LocfOracle.grid(changes, start, end).toSet)
    Land.deleteTree(dir)
  }

  test("prices join the catalog, drop small_child and null durations make active null") {
    val defs = Seq(Definition(Some(1), "skitickets", "adult", "13d"),
      Definition(Some(2), "skitickets", "small_child", "1d"),
      Definition(Some(3), "parking", "adult", "xd"))
    val rows = LocfOracle.prices(defs, changes :+ Change(3, Some(day("2026-04-10")), Some(50), 8))
    assert(rows.map(_.productId).distinct.sorted == Seq(1L, 3L))
    assert(rows.filter(_.productId == 3L).forall(_.active.isEmpty))
    val p1 = rows.filter(_.productId == 1L).map(r => r.day -> r.active).toMap
    assert(p1(day("2025-12-13")) == Some(false)) // 2 days left
    assert(p1(day("2025-12-16")) == Some(false)) // closed week
    assert(p1(day("2026-03-31")) == Some(true))  // 13 days left
    assert(p1(day("2026-04-01")) == Some(false)) // 12 days left
  }
}
