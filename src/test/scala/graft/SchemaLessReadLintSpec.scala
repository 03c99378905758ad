package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: no schema-less parquet read in `src/main` outside a
  * closed allowlist. A `read.parquet(path)` infers the schema from the
  * files' footers, which is one job per read, and types an inferred
  * partition column by what its directory names parse to. Everything
  * the engine writes itself is declared in [[graft.sink.Store]] and read
  * back with those types; only reads of data whose schema the engine
  * does not own may infer. Comments are not code: a scaladoc that names
  * the call does not count. */
class SchemaLessReadLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Files allowed schema-less reads: (sites, why). */
  private val allowlist: Map[String, (Int, String)] = Map(
    "graft/ops/Tables.scala" -> (1,
      "infers each input table's schema once per table stamp; every " +
        "read of the table then names that schema"),
    "graft/Bench.scala" -> (1,
      "the calibration scan warms the footer cache of the input " +
        "lineitem table before the timed passes"),
    "graft/sink/PartitionedParquet.scala" -> (1,
      "readMonth is a generic reader of a caller's month-partitioned " +
        "table; the caller owns its schema"))

  private val schemaLess = """read\s*\.\s*parquet\(""".r

  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  /** Schema-less read sites per file under `root`. */
  private def sites: Map[String, Int] = {
    val files = Files.walk(root)
    val scala =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally files.close()
    scala.map { (f: Path) =>
      root.relativize(f).toString -> schemaLess.findAllIn(code(Files.readString(f))).size
    }.filter(_._2 > 0).toMap
  }

  test("no schema-less parquet read of engine-written data in src/main") {
    val bad = sites.toSeq.sorted.filterNot { case (f, n) =>
      allowlist.get(f).exists(_._1 >= n)
    }
    assert(bad.isEmpty,
      s"schema-less read.parquet( outside the allowlist: ${bad.mkString("; ")} " +
        "— declare the store in graft.sink.Store and read it with Store.read")
  }

  test("allowlist stays closed: every entry still has its sites") {
    val found = sites
    val stale = allowlist.toSeq.sorted.collect {
      case (f, (n, _)) if found.getOrElse(f, 0) != n =>
        s"$f: allowed $n, found ${found.getOrElse(f, 0)}"
    }
    assert(stale.isEmpty, s"stale allowlist entries: ${stale.mkString("; ")}")
  }

  test("the detector counts code, not comments") {
    val src = "  /** `spark.read.parquet(p)` infers */\n" +
      "  // spark.read.parquet(p)\n" +
      "  val a = spark.read.parquet(p)\n" +
      "  val b = spark.read.schema(s).parquet(p)\n" +
      "  val c = spark.read\n    .parquet(p)\n"
    assert(schemaLess.findAllIn(code(src)).size == 2)
  }
}
