package graft

import java.nio.file.{Files, Paths}
import graft.sources.PricenowClient

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def writePages(pages: Seq[String]): String = {
    val dir = Paths.get(tmpDir("pricenow-pages"))
    pages.zipWithIndex.foreach { case (body, i) =>
      Files.writeString(dir.resolve(f"page-$i%03d.json"), body)
    }
    dir.toString
  }

  test("DSv2 catalog source: one partition per page, flatten+filter at the reader") {
    val dir = writePages(Seq(
      """{"data": [
        | {"name": "skitickets", "productDefinitions": [
        |   {"id": 101, "attributes": {"age": {"value": "adult"}, "duration": {"value": "1d"}}},
        |   {"id": 102, "attributes": {"age": {"value": "child"}, "duration": {"value": "4h"}}},
        |   {"id": 103, "attributes": {"age": {"value": "small_child"}, "duration": {"value": "1d"}}}]}]}""".stripMargin,
      """{"items": [
        | {"name": "wintercard", "productDefinitions": [
        |   {"id": 201, "attributes": {"age": {"value": "adult"}, "duration": {"value": "13d"}}}]}]}""".stripMargin,
      """[{"name": "summercard", "productDefinitions": [
        |   {"id": 301, "attributes": {"age": {"value": "child"}, "duration": {"value": "2d"}}}]}]""".stripMargin))
    val df = spark.read.format("graft.sources.PricenowCatalogSource")
      .option("path", dir).load()
    assert(df.rdd.getNumPartitions == 3) // one per page file
    val got = df.as[(Long, String, String, String, Option[Int])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (101L, "skitickets", "adult", "1d", Some(1)),
      (102L, "skitickets", "child", "4h", Some(1)), // 4h -> 1 day (ref :315-316)
      (201L, "wintercard", "adult", "13d", Some(13)),
      (301L, "summercard", "child", "2d", Some(2))))
    // small_child (103) filtered at the source (ref :322)
    assert(!got.exists(_._1 == 103L))
    // an empty catalog, an empty envelope and an envelope whose `data` is
    // not an array are pages without products, not errors
    val empty = spark.read.format("graft.sources.PricenowCatalogSource")
      .option("path", writePages(Seq("{}", "[]", """{"data": "oops-not-an-array"}""")))
      .load()
    assert(empty.rdd.getNumPartitions == 3 && empty.count() == 0)
  }

  test("DSv2 catalog source: a page that is not JSON, or is empty, fails naming the page") {
    Seq("garbage{{{", "").foreach { body =>
      val dir = writePages(Seq("[]", body))
      val err = intercept[Exception](
        spark.read.format("graft.sources.PricenowCatalogSource")
          .option("path", dir).load().collect())
      val msgs = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).mkString("\n")
      assert(msgs.contains(s"catalog page $dir/page-001.json"),
        s"the error must name the page: $msgs")
    }
  }

  test("client: token cached in memory, disk, refreshed inside the 60s margin") {
    var now = 1000L
    var fetches = 0
    val cache = Paths.get(tmpDir("tok"), "token.json")
    def mkClient() = new PricenowClient(
      transport = (_, _, tok) => (200, s"""{"data": ["$tok"]}"""),
      fetchToken = () => { fetches += 1; (s"tok$fetches", 300L) },
      cachePath = Some(cache), clock = () => now)

    val c1 = mkClient()
    assert(c1.getToken() == "tok1")
    assert(c1.getToken() == "tok1" && fetches == 1) // memoized
    val c2 = mkClient()
    assert(c2.getToken() == "tok1" && fetches == 1) // disk cache survives restart
    now = 1000 + 300 - 59 // inside the 60s early-refresh margin
    assert(c2.getToken() == "tok2" && fetches == 2) // early refresh
  }

  test("client: a token holding a quote and a backslash survives a restart without a refetch") {
    var fetches = 0
    val cache = Paths.get(tmpDir("tok"), "token.json")
    def mkClient() = new PricenowClient(
      transport = (_, _, _) => (200, "[]"),
      fetchToken = () => { fetches += 1; ("a\"b\\c", 300L) },
      cachePath = Some(cache), clock = () => 1000L)
    assert(mkClient().getToken() == "a\"b\\c" && fetches == 1)
    assert(mkClient().getToken() == "a\"b\\c", "the cached token reads back intact")
    assert(fetches == 1, "a readable cache means no second fetch")
    // the write went through a sibling temp file that is gone afterwards
    assert(cache.getParent.toFile.list().toSeq == Seq("token.json"))
  }

  test("client: 401 forces one refresh and retry (ref :80-84)") {
    var fetches = 0
    var calls = 0
    val client = new PricenowClient(
      transport = (_, _, tok) => { calls += 1; if (tok == "tok1") (401, "") else (200, """[]""") },
      fetchToken = () => { fetches += 1; (s"tok$fetches", 3600L) })
    assert(client.authedGet("/x") == "[]")
    assert(fetches == 2 && calls == 2)
  }

  test("client: pagination stops on short page; maxPages caps runaway (ref :179-190)") {
    var pagesServed = List.empty[Int]
    def pageBody(n: Int): String =
      "[" + (0 until n).map(i => s"""{"r": $i}""").mkString(",") + "]"
    val client = new PricenowClient(
      transport = (_, params, _) => {
        val p = params("page").toInt
        pagesServed ::= p
        (200, if (p < 2) pageBody(3) else pageBody(1)) // short page at p=2
      },
      fetchToken = () => ("t", 3600L))
    val rows = client.getPricesAll(Seq(1L), "2025-12-13", "2026-04-12", pageSize = 3)
    assert(rows.size == 7 && pagesServed.sorted == List(0, 1, 2))

    val capped = new PricenowClient(
      transport = (_, _, _) => (200, pageBody(3)), // never short
      fetchToken = () => ("t", 3600L))
    // five full pages and no short one: rows may remain, so no silent truncation
    val err = intercept[IllegalStateException](
      capped.getPricesAll(Seq(1L), "a", "b", pageSize = 3, maxPages = 5))
    assert(err.getMessage.contains("maxPages = 5"), err.getMessage)
    // a short page on the last allowed fetch is a complete result
    val exact = new PricenowClient(
      transport = (_, params, _) => (200, pageBody(if (params("page").toInt < 4) 3 else 2)),
      fetchToken = () => ("t", 3600L))
    assert(exact.getPricesAll(Seq(1L), "a", "b", pageSize = 3, maxPages = 5).size == 14)
  }

  test("S1 getProducts sends page/orderBy/orderDirection with reference defaults (ref :115-121)") {
    var seen: (String, Map[String, String]) = null
    val client = new PricenowClient(
      transport = (url, params, _) => {
        seen = (url, params); (200, """{"data": [{"id": 1}, {"id": 2}]}""")
      },
      fetchToken = () => ("t", 3600L))
    val rows = client.getProducts()
    assert(seen._1 == "/api/products/admin/")
    assert(seen._2 == Map("page" -> "0", "orderBy" -> "name", "orderDirection" -> "asc"))
    assert(rows == Seq("""{"id":1}""", """{"id":2}"""), s"envelope rows: $rows")
    client.getProducts(page = 2, orderBy = "price", orderDirection = "desc")
    assert(seen._2 ==
      Map("page" -> "2", "orderBy" -> "price", "orderDirection" -> "desc"))
  }
}
