package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Writing generated inputs where the program reads them. */
object Land {
  def pages(dir: Path, pages: Seq[String]): Unit = {
    Files.createDirectories(dir)
    pages.zipWithIndex.foreach { case (p, i) => Files.writeString(dir.resolve(f"page-$i%05d.json"), p) }
  }

  val ChangeSchema: StructType = StructType(Seq(
    StructField("product_id", LongType, nullable = false),
    StructField("valid_at", DateType),
    StructField("price", IntegerType),
    StructField("ord", IntegerType, nullable = false)))

  def changes(spark: SparkSession, dir: Path, cs: Seq[Change]): Unit = {
    val rows = cs.map(c => Row(c.productId,
      c.day.map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))).orNull,
      c.price.map(Int.box).orNull, c.ord))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ChangeSchema)
      .write.mode("overwrite").parquet(dir.toString)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Inputs of one pipeline workload on disk, and what the program must
  * produce from them. */
final class PipelineFiles(val dir: Path, val input: PipelineInput) {
  val pages: String = dir.resolve("pages").toString
  val changes: String = dir.resolve("changes").toString
  val rerunChanges: String = dir.resolve("changes_rerun").toString
  lazy val first: Seq[PriceRow] = LocfOracle.prices(input.defs, input.changes)
  lazy val rerun: Seq[PriceRow] = LocfOracle.prices(input.defs, input.rerunChanges)
  lazy val catalog: Seq[Definition] = LocfOracle.catalog(input.defs).values.toSeq

  def land(spark: SparkSession): Unit = {
    Land.pages(dir.resolve("pages"), input.pages)
    Land.changes(spark, dir.resolve("changes"), input.changes)
    Land.changes(spark, dir.resolve("changes_rerun"), input.rerunChanges)
  }
}
