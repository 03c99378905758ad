package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: no hand-written Catalyst expression in `src/main`. A
  * native function is a plain kernel in [[graft.functions.Kernels]] bound
  * by a `StaticInvoke` ([[graft.functions.Native]]), which runs the
  * interpreted and the generated-code path from that one method. A custom
  * `Expression` writes the kernel twice — a `nullSafeEval` loop and a
  * Java string in `doGenCode` — and the two copies can drift apart. The
  * allowlist is empty and closed. Comments are not code. */
class NativeKernelLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Files allowed hand-written expressions: (sites, why). */
  private val allowlist: Map[String, (Int, String)] = Map.empty

  private val handWritten =
    """\bdoGenCode\b|\bnullSafeCodeGen\b|extends\s+(Unary|Binary)Expression\b""".r

  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  /** Hand-written expression sites per file under `root`. */
  private def sites: Map[String, Int] = {
    val files = Files.walk(root)
    val scala =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally files.close()
    scala.map { (f: Path) =>
      root.relativize(f).toString -> handWritten.findAllIn(code(Files.readString(f))).size
    }.filter(_._2 > 0).toMap
  }

  test("no hand-written Catalyst expression in src/main") {
    val bad = sites.toSeq.sorted.filterNot { case (f, n) =>
      allowlist.get(f).exists(_._1 >= n)
    }
    assert(bad.isEmpty,
      s"doGenCode / nullSafeCodeGen / (Unary|Binary)Expression outside the allowlist: " +
        s"${bad.mkString("; ")} — write the kernel in graft.functions.Kernels and " +
        "bind it in graft.functions.Native")
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
    val src = "  /** a case class X(c: Expression) extends UnaryExpression */\n" +
      "  // override def doGenCode(ctx, ev)\n" +
      "  case class A(child: Expression) extends UnaryExpression {\n" +
      "    override protected def doGenCode(ctx: C, ev: E): E =\n" +
      "      nullSafeCodeGen(ctx, ev, c => s\"\")\n" +
      "  case class B(left: Expression, right: Expression)\n" +
      "      extends BinaryExpression\n"
    assert(handWritten.findAllIn(code(src)).size == 4)
  }
}
