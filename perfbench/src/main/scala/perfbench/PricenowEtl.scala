package perfbench

import java.nio.file.Files
import java.sql.{Connection, DriverManager, SQLException}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.PricenowPipeline
import graft.sink.JdbcUpsert

/** `pricenow_etl`: the reference job on generated inputs. Each iteration
  *
  *  1. runs `PricenowPipeline.run` into fresh in-memory Derby tables with
  *     the Generic dialect and one writer, as `PricenowPipelineSpec` does
  *     (the insert path, `cold_s`);
  *  2. reruns it after about 10% of the products are re-priced (the update
  *     path, `warm_s`);
  *  3. refreshes `2026-03` alone (`op_s`) with `refreshMonths` in a
  *     month-partitioned parquet directory that one `refreshMonths` call
  *     for all five season months filled before the first iteration.
  *
  * After every call the tables or the parquet are read back and compared
  * with [[LocfOracle]]; the one-month refresh must also leave the other
  * months' files byte-identical. The all-months call and a warm-up
  * iteration pay most of the JIT and code generation: they are checked
  * and counted, but their times are not samples and a traced run does not
  * trace them. [[Main.samples]] sampled iterations follow.
  */
final class PricenowEtl(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  val Products = 200
  val PageRows = 50
  val Months: Seq[String] = Seq("2025-12", "2026-01", "2026-02", "2026-03", "2026-04")
  val Month = "2026-03"
  /** Seconds a sampled iteration takes on a 4-vCPU box. */
  val IterationS = 5.0
  val FirstStamp = "2026-04-01 06:00:00"
  val RerunStamp = "2026-04-01 18:00:00"

  private val fact = ctx.work.resolve("etl/fact")
  private var files: PipelineFiles = _
  private var monthFiles = 0

  private def url(db: String) = s"jdbc:derby:memory:$db"

  def setup(rep: Int): Unit = {
    val f = new PipelineFiles(ctx.work.resolve(s"etl/rep$rep"),
      PipelineGen.generate(ctx.seed, Products, PageRows))
    f.land(spark)
    createTables(s"setup$rep")
    if (rep == 0) files = f
  }

  private def createTables(db: String): Unit = {
    val conn = DriverManager.getConnection(url(db) + ";create=true")
    try {
      conn.createStatement().execute(
        """CREATE TABLE pricenow_products (
          |  product_id BIGINT NOT NULL PRIMARY KEY, category VARCHAR(64),
          |  age VARCHAR(32), duration VARCHAR(8), updated_at TIMESTAMP)""".stripMargin)
      conn.createStatement().execute(
        """CREATE TABLE pricenow_prices (
          |  product_id BIGINT NOT NULL, valid_from DATE NOT NULL,
          |  price INT, active BOOLEAN, updated_at TIMESTAMP,
          |  PRIMARY KEY (product_id, valid_from))""".stripMargin)
    } finally conn.close()
  }

  private def drop(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true").close()
    catch { case _: SQLException => () } // Derby reports a successful drop as 08006

  private def query[T](db: String, sql: String)(row: java.sql.ResultSet => T): Seq[T] = {
    val conn: Connection = DriverManager.getConnection(url(db))
    try {
      val rs = conn.createStatement().executeQuery(sql)
      try Iterator.continually(rs).takeWhile(_.next()).map(row).toList
      finally rs.close()
    } finally conn.close()
  }

  private def checkTables(rec: Recorder, what: String, db: String,
      expected: Seq[PriceRow], stamp: String): Boolean = {
    val prices = query(db, "SELECT product_id, valid_from, price, active FROM pricenow_prices") { rs =>
      val a = rs.getBoolean(4)
      s"${rs.getLong(1)}|${rs.getString(2)}|${rs.getInt(3)}|${if (rs.wasNull) "null" else a.toString}"
    }
    val products = query(db, "SELECT product_id, category, age, duration FROM pricenow_products") { rs =>
      s"${rs.getLong(1)}|${rs.getString(2)}|${rs.getString(3)}|${rs.getString(4)}"
    }
    val stale = query(db, s"SELECT count(*) FROM pricenow_prices WHERE updated_at <> TIMESTAMP('$stamp')")(
      _.getLong(1)).head
    rec.expect(s"$what prices", Digest.of(expected.map(_.canonical)), Digest.of(prices)) &&
      rec.expect(s"$what products", Digest.of(files.catalog.map(LocfOracle.productCanonical)),
        Digest.of(products)) &&
      rec.expect(s"$what rows stamped before $stamp", 0L, stale)
  }

  private def monthOf(r: PriceRow) = java.time.LocalDate.ofEpochDay(r.day.toLong).toString.take(7)

  /** Canonical rows of the fact directory, optionally one month only. */
  private def readBack(month: Option[String]): Seq[String] = {
    val df = spark.read.parquet(fact.toString)
    month.fold(df)(m => df.filter(col("part_month") === m))
      .select(col("product_id"), col("valid_from").cast("string"), col("price"), col("active"))
      .collect().toSeq
      .map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getInt(2)}|" +
        (if (r.isNullAt(3)) "null" else r.getBoolean(3).toString))
  }

  /** MD5 of every data file outside the `month` partition. */
  private def otherMonths(month: String): Map[String, String] = {
    val s = Files.walk(fact)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .filterNot(_.getParent.getFileName.toString == s"part_month=$month")
      .map(p => fact.relativize(p).toString -> java.util.HexFormat.of().formatHex(
        java.security.MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))))
      .toMap
    finally s.close()
  }

  private def dataFiles(month: String): Int = {
    val d = fact.resolve(s"part_month=$month")
    if (!Files.isDirectory(d)) 0
    else { val s = Files.list(d); try s.iterator().asScala.count(_.toString.endsWith(".parquet")) finally s.close() }
  }

  /** One timed `refreshMonths` call. The change frame is read before the
    * operation, as for a load, so its schema inference is not timed. */
  private def refresh(rec: Recorder, tr: Tracer, span: String, months: Seq[String]): Option[Double] = {
    val changes = spark.read.parquet(files.changes)
    val cfg = PricenowPipeline.Config(updatedAt = FirstStamp, jdbcUrl = "")
    rec.op(s"refresh ${months.mkString(" ")}")(tr.span(span)(
      PricenowPipeline.refreshMonths(spark, files.pages, changes, cfg, fact.toString, months)))
  }

  /** One iteration; its times become samples only when `keep`. */
  private def iterate(rec: Recorder, tr: Tracer, keep: Boolean): Unit = {
    val db = s"run${rec.attempted}"
    def load(role: String, changes: String, stamp: String, expected: Seq[PriceRow]): Option[Double] = {
      val cfg = PricenowPipeline.Config(updatedAt = stamp, jdbcUrl = url(db),
        dialect = JdbcUpsert.Dialect.Generic, writePartitions = Some(1))
      materialize(tr, changes, cfg)
      val changesDf = spark.read.parquet(changes)
      rec.op(role)(tr.span(s"pipeline.$role")(PricenowPipeline.run(spark, files.pages, changesDf, cfg)))
        .filter(_ => checkTables(rec, role, db, expected, stamp) && keep)
    }
    createTables(db)
    load("first", files.changes, FirstStamp, files.first).foreach(rec.cold += _)
    load("rerun", files.rerunChanges, RerunStamp, files.rerun).foreach(rec.warm += _)
    drop(db)

    val others = otherMonths(Month)
    refresh(rec, tr, "refresh.month", Seq(Month))
      .filter(_ => rec.expect(s"refresh $Month rows",
          Digest.of(files.first.filter(monthOf(_) == Month).map(_.canonical)),
          Digest.of(readBack(Some(Month)))) &&
        rec.expect(s"refresh $Month other months' files", others, otherMonths(Month)) && keep)
      .foreach(rec.sample(s"refresh $Month", _))
    if (keep) monthFiles += dataFiles(Month)
  }

  def measure(seconds: Double, rec: Recorder, tr: Tracer): Unit = {
    (0 until Main.SetupReps).foreach(r => drop(s"setup$r"))
    (1 until Main.SetupReps).foreach(r => Land.deleteTree(ctx.work.resolve(s"etl/rep$r")))
    val full = tr.pause {
      val t = refresh(rec, tr, "refresh.full", Months)
        .filter(_ => rec.expect("refresh all months rows",
          Digest.of(files.first.map(_.canonical)), Digest.of(readBack(None))))
      iterate(rec, tr, keep = false)
      t
    }
    (1 to Main.samples(seconds, IterationS, 3)).foreach { _ =>
      iterate(rec, tr, keep = true)
      rec.iterations += 1
    }
    rec.rows = files.first.size + files.catalog.size
    rec.facts ++= Seq("products" -> Products, "price_rows_first" -> files.first.size,
      "price_rows_rerun" -> files.rerun.size, "catalog_rows" -> files.catalog.size,
      "month_rows" -> files.first.count(monthOf(_) == Month), "pages" -> files.input.pages.size,
      "changes" -> files.input.changes.size, "refresh_full_s" -> full)
  }

  /** In a traced run, standalone no-op writes of the catalog (EP1) and of
    * the dense price table (EP2) precede each load, outside the timed
    * operation, so the layers' own cost can be taken out of the sink's. */
  private def materialize(tr: Tracer, changesPath: String, cfg: PricenowPipeline.Config): Unit =
    if (tr.active) {
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      tr.span("sources.materialize")(noop(PricenowPipeline.products(spark, files.pages, cfg)))
      tr.span("ep2.materialize")(noop(PricenowPipeline.prices(
        spark.read.parquet(changesPath), PricenowPipeline.products(spark, files.pages, cfg), cfg)))
    }

  /** Per-layer metrics over the sampled iterations. Every count and
    * seconds figure comes from what the program ran, through the
    * listeners; only the useful-row numerator of the rerun comes from
    * [[LocfOracle]]. */
  def layers(tr: Tracer, rec: Recorder): Map[String, Double] = {
    val runs = rec.iterations.max(1).toDouble
    val loads = 2 * runs
    def both(site: Option[String]): Counts = {
      val c = tr.layer("pipeline.first", site)._2
      c += tr.layer("pipeline.rerun", site)._2
      c
    }
    val (ep1S, ep1) = tr.layer("sources.materialize")
    val (ep2S, ep2) = tr.layer("ep2.materialize")
    val jdbc = both(Some("JdbcUpsert.scala"))
    val rerunJdbc = tr.layer("pipeline.rerun", Some("JdbcUpsert.scala"))._2
    val valid = both(Some("Validation.scala"))
    val pipeline = both(None)
    val (_, recompute) = tr.layer("refresh.month", Some("PricenowPipeline.scala"))
    val (_, write) = tr.layer("refresh.month", Some("PartitionedParquet.scala"))
    val (_, month) = tr.layer("refresh.month")
    val before = files.first.map(r => (r.productId, r.day) -> r).toMap
    val changed = files.rerun.count(r => !before.get((r.productId, r.day)).contains(r))
    Map(
      "sources.catalog_pct" -> rec.pct(ep1S),
      "sources.catalog_rows" -> ep1.rows / loads,
      "sources.tasks" -> ep1.tasks / loads,
      "ep2.prices_pct" -> rec.pct(ep2S - ep1S),
      "ep2.grid_rows" -> ep2.rows / loads,
      "ep2.shuffle_bytes" -> ep2.shuffleWriteBytes / loads,
      "ep2.spill_bytes" -> ep2.spillBytes / loads,
      "ep2.tasks" -> ep2.tasks / loads,
      "jdbc.upsert_pct" -> rec.pct(jdbc.jobS),
      "jdbc.write_self_pct" -> rec.pct(jdbc.jobS - ep2S - ep1S),
      "jdbc.rows" -> jdbc.rows / loads,
      "jdbc.write_tasks" -> jdbc.resultTasks / loads,
      "jdbc.useful_write_ratio" -> (if (rerunJdbc.rows > 0) changed * runs / rerunJdbc.rows else 0.0),
      "validation_pct" -> rec.pct(valid.jobS),
      "validation.jobs" -> valid.jobs / loads,
      "pipeline.jobs" -> pipeline.jobs / loads,
      "pipeline.lineage_passes" -> pipeline.inputJobs / loads,
      "refresh.recompute_pct" -> rec.pct(recompute.jobS),
      "refresh.write_pct" -> rec.pct(write.jobS),
      "refresh.files_written" -> monthFiles / runs,
      "refresh.bytes_written" -> write.outputBytes / runs,
      "refresh.useful_row_ratio" -> (if (month.peakRows > 0) write.rows / runs / month.peakRows else 0.0))
  }
}
