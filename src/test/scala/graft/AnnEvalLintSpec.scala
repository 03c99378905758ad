package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: one ANN evaluation stage. Every recall gate counts its
  * hits through [[graft.ops.Similarity.hits]], so `as("n_truth")` is
  * written once, inside that helper. And every gate over the fixed 8
  * probes reads the one exact-truth memo
  * ([[graft.queries.ExtensionQueries.annTruth]]), so a brute-force top-k
  * under `queries/` is a closed allowlist of (file, enclosing member)
  * sites, each with its reason; a new site fails here, and an entry whose
  * site is gone fails too. Comments are not code. */
class AnnEvalLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val helperFile = "graft/ops/Similarity.scala"
  private val nTruth = """as\(\s*"n_truth"\s*\)""".r
  private val brute = """bruteForceTopK\(""".r

  /** (file under queries/, enclosing member) -> why it runs its own
    * brute-force top-k. */
  private val bruteAllowlist: Map[(String, String), String] = Map(
    ("graft/queries/ExtensionQueries.scala", "annTruth") ->
      "the one exact top-10 truth memo of the 8 probes",
    ("graft/queries/ExtensionQueries.scala", "hybridRrf") ->
      "the semantic ranking of one query vector fused with BM25",
    ("graft/queries/AnnEvalQueries.scala", "annFilteredTruth") ->
      "the filtered truth: the corpus is label <= 2, not the full corpus",
    ("graft/queries/AnnEvalQueries.scala", "embMatryoshka") ->
      "the prefix-dimension runs under evaluation, not a truth",
    ("graft/queries/KnnGraphQueries.scala", "graphAnnRecallQ") ->
      "the graph search's entry-only baseline over the entry block")

  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  private val member = """\n  (?:private\S* )?(?:lazy )?(?:val|def) (\w+)""".r

  /** The top-level member of an object whose body holds `pos`. */
  private def enclosing(src: String, pos: Int): String =
    member.findAllMatchIn(src.substring(0, pos)).toSeq.lastOption
      .map(_.group(1)).getOrElse("<none>")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val files = Files.walk(dir)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally files.close()
  }

  /** The body of `def hits` in `src`: from its `def` to the next member
    * definition at the same indentation. */
  private def helperBody(src: String): String = {
    val start = src.indexOf("def hits(")
    require(start >= 0, s"$helperFile has no def hits")
    val next = """\n  (private\S* )?def """.r.findFirstMatchIn(src.substring(start))
    src.substring(start, next.map(start + _.start).getOrElse(src.length))
  }

  /** `as("n_truth")` sites per file, not counting the helper's own. */
  private def nTruthSites: Map[String, Int] =
    scalaFiles(root).map { f =>
      val rel = root.relativize(f).toString
      val src = code(Files.readString(f))
      val n = nTruth.findAllIn(src).size
      rel -> (if (rel == helperFile) n - nTruth.findAllIn(helperBody(src)).size else n)
    }.filter(_._2 > 0).toMap

  /** Every `bruteForceTopK(` site under queries/, as (file, member). */
  private def bruteSites: Seq[(String, String)] =
    scalaFiles(root.resolve("graft/queries")).flatMap { f =>
      val src = code(Files.readString(f))
      brute.findAllMatchIn(src).map(m =>
        root.relativize(f).toString -> enclosing(src, m.start)).toSeq
    }

  test("n_truth is counted only inside Similarity.hits") {
    val bad = nTruthSites.toSeq.sorted
    assert(bad.isEmpty,
      s"as(\"n_truth\") outside the hits stage: ${bad.mkString("; ")} " +
        "— count recall hits through graft.ops.Similarity.hits")
  }

  test("the hits stage itself still names n_truth") {
    val src = code(Files.readString(root.resolve(helperFile)))
    assert(nTruth.findAllIn(helperBody(src)).size == 1)
  }

  test("bruteForceTopK under queries/ only at its allowlisted sites") {
    val bad = bruteSites.filterNot(bruteAllowlist.contains).sorted
    assert(bad.isEmpty,
      s"bruteForceTopK outside the allowlist: ${bad.mkString("; ")} — an exact " +
        "truth over the 8 probes is the rank <= k prefix of ExtensionQueries.annTruth")
  }

  test("brute-force allowlist stays closed: one site per entry") {
    val found = bruteSites.groupBy(identity).map { case (k, v) => k -> v.size }
    val stale = bruteAllowlist.keys.toSeq.sorted.collect {
      case k if found.getOrElse(k, 0) != 1 => s"$k: found ${found.getOrElse(k, 0)}"
    }
    assert(stale.isEmpty, s"stale allowlist entries: ${stale.mkString("; ")}")
  }

  test("the detectors count code, not comments, and name the enclosing member") {
    val src = "object Q {\n" +
      "  // .agg(count(lit(1)).as(\"n_truth\"))\n" +
      "  /** Similarity.bruteForceTopK(emb, q, \"vec_id\", \"e\", 5) */\n" +
      "  private def truthA(x: Int) = {\n" +
      "    val t = Similarity.bruteForceTopK(\n      emb, q, \"vec_id\", \"e\", 5)\n" +
      "    t.agg(count(lit(1)).as(\"n_truth\"))\n  }\n" +
      "  private val gateB = QueryDef(\n" +
      "    fn = (s, d) => Similarity.bruteForceTopK(e, q, \"id\", \"v\", 4))\n}\n"
    val c = code(src)
    assert(nTruth.findAllIn(c).size == 1)
    assert(brute.findAllMatchIn(c).map(m => enclosing(c, m.start)).toSeq ==
      Seq("truthA", "gateB"))
  }
}
