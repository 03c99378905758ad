package graft.sources

import java.util
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** DataSource V2 scan for the Pricenow product catalog (SURVEY.md §2.1
  * S1/S5 + §2.2 T1/T2/T3/T5 fused at the source): each input partition is
  * one API page payload, parsed and flattened to catalog rows inside the
  * reader — so the double-UNNEST and enum filter never materialize the
  * nested JSON in the plan.
  *
  * `spark.read.format("graft.sources.PricenowCatalogSource")
  *    .option("path", "/dir/of/page/json/files").load()`
  * (`path` is a directory — every `*.json` inside becomes one partition —
  * or a single payload file.)
  *
  * Ingest is file-based: one JSON document per file, each the verbatim
  * body a `GET /api/products/admin/?page=N` returns (the CI environment has
  * zero egress; [[graft.sources.PricenowClient]] is the component that
  * would land these payloads). Envelope tolerance mirrors the reference's
  * `_extract_rows` (`scripts/pricenow_etl.py:153-161`): `data`/`items`/
  * `results` wrappers or a bare top-level array.
  *
  * Scale notes: pages are independent input partitions — a 1000-page
  * catalog scans with full parallelism, no driver bottleneck, and column
  * pruning is irrelevant (5 narrow columns). The reader is the Spark-native
  * replacement for the reference's driver-side sequential page loop (S3).
  */
class PricenowCatalogSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PricenowCatalogSource.Schema

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PricenowCatalogTable(properties.get("path"))
}

object PricenowCatalogSource {
  /** Flattened catalog row (SURVEY.md §1.1 pricenow_products minus the
    * run-stamp, plus the derived duration_days of T5). */
  val Schema: StructType = StructType(Seq(
    StructField("product_id", LongType, nullable = false),
    StructField("category", StringType),
    StructField("age", StringType),
    StructField("duration", StringType),
    StructField("duration_days", IntegerType)))

  /** `'4h'` counts as one day; otherwise remove ALL `d` characters and
    * parse — `replace("d", "")`, not a suffix strip, to stay
    * value-identical with the reference (`scripts/pricenow_etl.py:315-318`)
    * on every input including malformed ones. */
  def durationDays(duration: String): Option[Int] =
    if (duration == null) None
    else if (duration == "4h") Some(1)
    else scala.util.Try(duration.replace("d", "").toInt).toOption

  /** Envelope normalizer (S5): data/items/results wrapper or bare array. */
  def extractRows(root: JsonNode): Iterator[JsonNode] =
    if (root.isArray) root.elements().asScala
    else Seq("data", "items", "results").iterator
      .map(root.get).find(n => n != null && n.isArray)
      .map(_.elements().asScala).getOrElse(Iterator.empty)
}

private class PricenowCatalogTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"pricenow_catalog($path)"
  override def schema(): StructType = PricenowCatalogSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = PricenowCatalogSource.Schema
      override def toBatch: Batch = this

      override def planInputPartitions(): Array[InputPartition] = {
        val p = java.nio.file.Paths.get(path)
        val files: Seq[String] =
          if (java.nio.file.Files.isDirectory(p)) {
            val stream = java.nio.file.Files.list(p)
            try stream.iterator().asScala
              .filter(_.toString.endsWith(".json")).map(_.toString).toSeq.sorted
            finally stream.close()
          } else Seq(path)
        files.map(f => PricenowPagePartition(f): InputPartition).toArray
      }

      override def createReaderFactory(): PartitionReaderFactory =
        (partition: InputPartition) =>
          new PricenowPageReader(partition.asInstanceOf[PricenowPagePartition].file)
    }
}

private case class PricenowPagePartition(file: String) extends InputPartition

/** Parses one page payload and emits flattened, filtered catalog rows
  * (T1 explode ×2, T2 struct paths, T3 small_child filter, T5 duration).
  * A page that is not JSON, or is empty (a landed response is at least
  * `[]`, so an empty file is a truncated landing), fails the scan with
  * an error naming the page. */
private class PricenowPageReader(file: String) extends PartitionReader[InternalRow] {
  private val rows: Iterator[InternalRow] = {
    val root =
      try new ObjectMapper().readTree(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)))
      catch {
        case e: java.io.IOException =>
          throw new java.io.IOException(s"catalog page $file: ${e.getMessage}", e)
      }
    if (root.isMissingNode)
      throw new java.io.IOException(s"catalog page $file is empty")
    for {
      product <- PricenowCatalogSource.extractRows(root)
      category = Option(product.get("name")).map(_.asText()).orNull
      defs = Option(product.get("productDefinitions")).filter(_.isArray)
      pd <- defs.map(_.elements().asScala).getOrElse(Iterator.empty)
      if pd.hasNonNull("id")
      age = Option(pd.at("/attributes/age/value")).filter(!_.isMissingNode)
        .map(_.asText()).orNull
      if age != "small_child" // T3, ref :322
      duration = Option(pd.at("/attributes/duration/value"))
        .filter(!_.isMissingNode).map(_.asText()).orNull
    } yield InternalRow(
      pd.get("id").asLong(),
      UTF8String.fromString(category),
      UTF8String.fromString(age),
      UTF8String.fromString(duration),
      PricenowCatalogSource.durationDays(duration)
        .map(Int.box).orNull)
  }
  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
