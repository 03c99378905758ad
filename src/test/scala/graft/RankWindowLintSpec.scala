package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: one rank stage. A per-key rank window ordered by a score
  * descending — `partitionBy(col("key")).orderBy(col("score").desc, …)`,
  * the top-k-per-key shape — is written once, in
  * [[graft.ops.Similarity.topK]], which takes the key, score and tie
  * columns as arguments. Every similarity-search, kNN-graph and ANN
  * re-rank operator calls it, so they all rank with one comparator. The
  * allowlist names the files that still write such a window inline, with
  * their site counts and why; it is closed and may only shrink. Comments
  * are not code. */
class RankWindowLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Files allowed inline rank windows: (sites, why). */
  private val allowlist: Map[String, (Int, String)] = Map(
    "graft/queries/AnalyticQueries.scala" ->
      (2, "relational top-k per priority and per segment (TPC-H shapes)"),
    "graft/queries/ClassifierQueries.scala" ->
      (6, "classifier argmax and top-2 per doc, decile offsets, top collocates"),
    "graft/queries/CoreQueries.scala" ->
      (2, "top brands by revenue; latest event per user (tie by id desc)"),
    "graft/queries/GraphQueries.scala" ->
      (1, "label-propagation vote argmax per node"),
    "graft/queries/RetrievalEvalQueries.scala" ->
      (3, "ideal and observed rankings per term for nDCG"),
    "graft/queries/WarehouseQueries.scala" ->
      (1, "latest event per user (tie by id desc)"))

  private val rankWindow =
    """partitionBy\(\s*col\("\w+"\)\s*\)\s*\.orderBy\(\s*col\("\w+"\)\.desc\b""".r

  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  /** Inline rank-window sites per file under `root`. */
  private def sites: Map[String, Int] = {
    val files = Files.walk(root)
    val scala =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally files.close()
    scala.map { (f: Path) =>
      root.relativize(f).toString -> rankWindow.findAllIn(code(Files.readString(f))).size
    }.filter(_._2 > 0).toMap
  }

  test("per-key rank windows by score desc only in the rank helper") {
    val bad = sites.toSeq.sorted.filterNot { case (f, n) =>
      allowlist.get(f).exists(_._1 >= n)
    }
    assert(bad.isEmpty,
      s"inline partitionBy(…).orderBy(score.desc, …) rank window outside the " +
        s"allowlist: ${bad.mkString("; ")} — rank through graft.ops.Similarity.topK")
  }

  test("allowlist stays closed: every entry still has its sites") {
    val found = sites
    val stale = allowlist.toSeq.sorted.collect {
      case (f, (n, _)) if found.getOrElse(f, 0) != n =>
        s"$f: allowed $n, found ${found.getOrElse(f, 0)}"
    }
    assert(stale.isEmpty, s"stale allowlist entries: ${stale.mkString("; ")}")
  }

  test("the detector counts code across lines, not comments") {
    val src = "  // Window.partitionBy(col(\"q\")).orderBy(col(\"cos\").desc)\n" +
      "  /** Window.partitionBy(col(\"q\")).orderBy(col(\"s\").desc) */\n" +
      "  val w = Window.partitionBy(col(\"query_id\"))\n" +
      "    .orderBy(col(\"cos\").desc, col(\"neighbor_id\").asc)\n" +
      "  org.apache.spark.sql.expressions.Window\n" +
      "    .partitionBy(col(\"query_id\"))\n" +
      "    .orderBy(col(\"adc\").desc, col(\"vec_id\").asc)\n" +
      "  Window.partitionBy(col(key)).orderBy(col(score).desc, col(tie).asc)\n" +
      "  Window.partitionBy(col(\"id\")).orderBy(col(\"pos\"))\n"
    assert(rankWindow.findAllIn(code(src)).size == 2)
  }
}
