package graft


/** Hand-built fixtures for the round-11 sampling family: allocation
  * conservation + variance-seeking for Neyman, budget-threshold
  * invariants for the token fill, and an exact closed-form Flesch score.
  */
class SamplingQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String, String, Long)]): String = {
    val dir = tmpDir("sampling-fixture")
    rows.toDF("doc_id", "text", "source", "lang", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q_neyman_allocation: sums to the budget, all of it to the varying stratum") {
    // stratum A alternates 100/200 chars (sigma > 0); stratum B is
    // constant 150 (sigma = 0) -> Neyman sends the whole budget to A,
    // while the proportional floor splits 500/500
    val rows =
      (1L to 10L).map(i => (i, s"doc $i", "A", "en", if (i % 2 == 0) 200L else 100L)) ++
      (11L to 20L).map(i => (i, s"doc $i", "B", "en", 150L))
    val got = SparkEntry.queries("q_neyman_allocation")(spark, docsDir(rows))
      .select("source", "n_docs", "n_neyman", "n_prop_floor")
      .as[(String, Long, Long, Long)].collect()
      .map { case (s, n, ny, np) => s -> ((n, ny, np)) }.toMap
    assert(got("A") == ((10L, 1000L, 500L)))
    assert(got("B") == ((10L, 0L, 500L)))
  }

  test("q_token_budget_fill: high-quality level fills first, budget respected") {
    // 4 high-quality docs (stopword-rich English, ~10 tokens each) and
    // 4 junk docs; the junk half must fall below the cutoff
    val good = "the cat and the dog ran to the old house"
    val junk = ";;; !!! ??? ,,, ... ;;; !!! ??? ,,, ..."
    val rows =
      (1L to 4L).map(i => (i, good, "A", "en", good.length.toLong)) ++
      (5L to 8L).map(i => (i, junk, "A", "en", junk.length.toLong))
    val r = SparkEntry.queries("q_token_budget_fill")(spark, docsDir(rows))
      .select("total_tokens", "budget", "n_selected", "tokens_selected",
        "within_budget", "all_fit")
      .as[(Long, Long, Long, Long, Boolean, Boolean)].collect().head
    val (total, budget, nSel, tokSel, within, allFit) = r
    assert(total == 80L && budget == 40L)
    assert(nSel == 4L && tokSel == 40L, "exactly the 4 good docs fit the half budget")
    assert(within && !allFit)
  }

  test("q_readability: closed-form Flesch on a one-sentence doc") {
    // "the cat sat." -> words 3, sentences 1, vowel groups 3:
    // 206.835 - 1.015*3 - 84.6*1 = 119.19
    val rows = Seq((1L, "the cat sat.", "A", "en", 12L))
    val r = SparkEntry.queries("q_readability")(spark, docsDir(rows))
      .select("n_docs", "avg_flesch", "n_easy", "easy_share")
      .as[(Long, Double, Long, Double)].collect().head
    assert(r == ((1L, 119.19, 1L, 1.0)))
  }
}
