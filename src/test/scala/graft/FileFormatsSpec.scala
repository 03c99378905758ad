package graft

import graft.ops.Tables
import org.apache.spark.sql.functions._

/** Source/sink format breadth beyond parquet: JSON-lines and CSV
  * round-trips preserve the data (schemas applied explicitly on read —
  * CSV/JSON carry no types at 100 TB either, so explicit schemas are the
  * rule, not inference).
  */
class FileFormatsSpec extends SparkSpec {

  test("documents round-trip through json-lines and csv with explicit schemas") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang", "n_chars", "text")
    val base = tmpDir("fmt")
    val expected = docs.orderBy("doc_id").collect().toSeq

    docs.write.mode("overwrite").json(s"$base/json")
    val viaJson = spark.read.schema(docs.schema).json(s"$base/json")
    assert(viaJson.orderBy("doc_id").collect().toSeq == expected)

    docs.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      .csv(s"$base/csv")
    val viaCsv = spark.read.schema(docs.schema)
      .option("header", "true").csv(s"$base/csv")
    assert(viaCsv.orderBy("doc_id").collect().toSeq == expected)
  }

  test("documents round-trip through orc with predicate pushdown intact") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang", "n_chars", "text")
    val base = tmpDir("fmt3")
    docs.write.mode("overwrite").orc(s"$base/orc")
    val viaOrc = spark.read.orc(s"$base/orc")
    assert(viaOrc.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
    // ORC scans push filters just like parquet (columnar, typed footers)
    val plan = viaOrc.filter(col("lang") === "de").select("doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"))
  }

  test("csv read pushes filters and prunes columns like any file scan") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang")
    val base = tmpDir("fmt2")
    docs.write.mode("overwrite").option("header", "true").csv(s"$base/c")
    val scan = spark.read.schema(docs.schema).option("header", "true")
      .csv(s"$base/c").filter(col("lang") === "de").select("doc_id")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["))
    assert(scan.count() > 0)
  }
}
