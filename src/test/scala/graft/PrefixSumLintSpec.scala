package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: one distributed running sum. Tagging rows with
  * `spark_partition_id()` is how a global prefix sum is split into
  * per-partition sums plus exclusive offsets; that round trip is written
  * once, in [[graft.ops.RobustStats.prefixSum]], which takes the range
  * keys, the per-partition total and the within-partition window
  * expression as arguments. Sequence packing, sorted-neighborhood ranks
  * and the concurrency sweep line all call it. A `spark_partition_id(`
  * anywhere else in src/main fails here. Comments are not code. */
class PrefixSumLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val helperFile = "graft/ops/RobustStats.scala"
  private val partitionId = """spark_partition_id\(""".r

  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  /** The body of `def prefixSum` in `src`: from its `def` to the next
    * member definition at the same indentation. */
  private def helperBody(src: String): String = {
    val start = src.indexOf("def prefixSum(")
    require(start >= 0, s"$helperFile has no def prefixSum")
    val next = """\n  (private\S* )?def """.r.findFirstMatchIn(src.substring(start))
    src.substring(start, next.map(start + _.start).getOrElse(src.length))
  }

  /** `spark_partition_id(` sites per file under `root`, not counting the
    * one inside the helper's body. */
  private def sites: Map[String, Int] = {
    val files = Files.walk(root)
    val scala =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally files.close()
    scala.map { (f: Path) =>
      val rel = root.relativize(f).toString
      val src = code(Files.readString(f))
      val n = partitionId.findAllIn(src).size
      rel -> (if (rel == helperFile) n - partitionId.findAllIn(helperBody(src)).size else n)
    }.filter(_._2 > 0).toMap
  }

  test("spark_partition_id only inside RobustStats.prefixSum") {
    val bad = sites.toSeq.sorted
    assert(bad.isEmpty,
      s"spark_partition_id outside the prefix-sum helper: ${bad.mkString("; ")} " +
        "— run the prefix sum through graft.ops.RobustStats.prefixSum")
  }

  test("the helper itself still tags partitions") {
    val src = code(Files.readString(root.resolve(helperFile)))
    assert(partitionId.findAllIn(helperBody(src)).size == 1)
  }

  test("the detector counts code, not comments") {
    val src = "  // .withColumn(\"__pid\", spark_partition_id())\n" +
      "  /** tag with spark_partition_id() */\n" +
      "  val p = df.withColumn(\"__pid\", spark_partition_id())\n" +
      "  val q = df.withColumn(\"__pid\",\n    functions.spark_partition_id())\n"
    assert(partitionId.findAllIn(code(src)).size == 2)
  }
}
