package graft


/** Semantic invariants for the corpus-model family (ClassifierQueries):
  * hand-computed Laplace weights on a literal fixture, end-to-end
  * classification of signature-token docs, prior-only fallback for empty
  * docs, and an exact PMI value under min-support pruning. (Value
  * correctness at data scale is DuckDB-oracle-gated; these pin the
  * STATISTICS to the textbook definitions.)
  */
class ClassifierQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureDir(tables: (String, org.apache.spark.sql.DataFrame)*): String = {
    val dir = tmpDir("clf-fixture")
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  test("q_nb_train: Laplace weights and priors match hand computation") {
    // corpus: lang aa = {"x x y", "x"}, bb = {"z z"}
    //   vocab = {x, y, z} (all, V small); c(aa,x)=3, c(aa,y)=1, c(bb,z)=2
    //   n_aa=4, n_bb=2, |V|=3, d_aa=2, d_bb=1, D=3
    val docs = Seq(
      (1L, "x x y", "aa"), (2L, "x", "aa"), (3L, "z z", "bb"))
      .toDF("doc_id", "text", "lang")
    val dir = fixtureDir("documents" -> docs)
    val w = SparkEntry.queries("q_nb_train")(spark, dir)
      .select("lang", "token", "c", "w", "prior")
      .as[(String, String, Long, Double, Double)].collect()
      .map { case (l, t, c, wv, p) => (l, t) -> ((c, wv, p)) }.toMap
    assert(w.size == 6, "full 2x3 class-vocab grid expected")
    def ln6(x: Double) = math.floor(math.log(x) * 1e6 + 0.5) / 1e6
    val (cAx, wAx, pA) = w(("aa", "x"))
    assert(cAx == 3L)
    assert(math.abs(wAx - ln6(4.0 / 7.0)) < 2e-6, s"w(aa,x)=$wAx")
    assert(math.abs(pA - ln6(2.0 / 3.0)) < 2e-6, s"prior(aa)=$pA")
    val (cBx, wBx, pB) = w(("bb", "x"))
    assert(cBx == 0L, "zero-count cell still present (smoothed)")
    assert(math.abs(wBx - ln6(1.0 / 5.0)) < 2e-6, s"w(bb,x)=$wBx")
    assert(math.abs(pB - ln6(1.0 / 3.0)) < 2e-6)
  }

  test("q_nb_score: signature tokens classify; empty doc falls back to prior") {
    val docs = Seq(
      (1L, "x x y", "aa"), (2L, "x y x", "aa"), (3L, "x", "aa"),
      (4L, "z z", "bb"), (5L, "z z z", "bb"),
      (6L, "", "bb")) // no tokens: score = prior only -> majority class aa
      .toDF("doc_id", "text", "lang")
    val dir = fixtureDir("documents" -> docs)
    val got = SparkEntry.queries("q_nb_score")(spark, dir)
      .select("doc_id", "pred", "correct")
      .as[(Long, String, Boolean)].collect()
      .map { case (d, p, c) => d -> ((p, c)) }.toMap
    assert(got.size == 6)
    Seq(1L, 2L, 3L).foreach(d => assert(got(d) == (("aa", true)), s"doc $d"))
    Seq(4L, 5L).foreach(d => assert(got(d) == (("bb", true)), s"doc $d"))
    assert(got(6L) == (("aa", false)),
      "empty doc must take the majority prior, flagged incorrect")
  }

  test("q_token_pmi: min-support prunes singletons; pmi = ln(n_xy*N/(nx*ny)) exactly") {
    // each doc contributes bigrams (f_ia,new),(new,york),(york,f_ib):
    // only (new,york) reaches support 5; N=18, nx(new)=6, ny(york)=6
    val docs = (1 to 6).map(i => (i.toLong, s"f${i}a new york f${i}b", "en"))
      .toDF("doc_id", "text", "lang")
    val dir = fixtureDir("documents" -> docs)
    val rows = SparkEntry.queries("q_token_pmi")(spark, dir)
      .select("tok_a", "tok_b", "n_xy", "pmi")
      .as[(String, String, Long, Double)].collect()
    assert(rows.length == 1, s"support cut should leave one pair: ${rows.toSeq}")
    val (a, b, n, pmi) = rows.head
    assert((a, b, n) == (("new", "york", 6L)))
    val expect = math.floor(math.log(6.0 * 18 / (6 * 6)) * 1e6 + 0.5) / 1e6
    assert(math.abs(pmi - expect) < 1e-9, s"pmi=$pmi expect=$expect")
  }

  test("q_nb_calibration: margin buckets partition the corpus; accuracy is exact") {
    // strongly-separated docs (many signature tokens -> big margin) and a
    // prior-only empty doc (margin = prior gap, lands in a low bucket)
    val docs = Seq(
      (1L, "x x x x x x x x", "aa"), (2L, "x x x x x x", "aa"),
      (3L, "x x x x", "aa"), (4L, "z z z z z z z z", "bb"),
      (5L, "", "bb")) // prior-only: aa majority (3/5) wins -> incorrect
      .toDF("doc_id", "text", "lang")
    val dir = fixtureDir("documents" -> docs)
    val rows = SparkEntry.queries("q_nb_calibration")(spark, dir)
      .select("bucket", "n_docs", "n_correct")
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._2).sum == 5L, "buckets must partition all docs")
    val low = rows.filter(_._1 <= 1).map(r => (r._2, r._3))
    assert(low.map(_._1).sum >= 1L, "the prior-only doc must land in a low bucket")
    // every miss (exactly one: the empty doc) sits in a low-margin bucket;
    // all high-margin buckets are perfectly accurate
    rows.filter(_._1 >= 2).foreach { case (b, n, ok) =>
      assert(n == ok, s"bucket $b must be fully correct, got $ok/$n")
    }
    assert(rows.map(r => r._2 - r._3).sum == 1L, "exactly one miss corpus-wide")
  }

  test("q_langid_ece: density buckets, exact gap arithmetic, zero-token docs excluded") {
    val docs = Seq(
      // 8 tokens, 4 'the' hits -> conf 0.5, bucket 5, pred en, correct
      (1L, "the the the the x y z w", "en"),
      // 10 tokens, 1 'der' hit -> conf 0.1, bucket 1, pred de, WRONG label
      (2L, "der a1 b2 c3 d4 e5 f6 g7 h8 i9", "en"),
      // zero tokens -> excluded
      (3L, "", "en"))
      .toDF("doc_id", "text", "lang")
    val dir = fixtureDir("documents" -> docs)
    val rows = SparkEntry.queries("q_langid_ece")(spark, dir)
      .select("bucket", "n_docs", "n_correct", "conf_sum_e9", "gap_e9", "ece_e6")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._2).sum == 2L, "the empty doc must be excluded")
    // doc 2: 'a' is an es-list stopword hit too? no — all filler tokens
    // are unique non-stopwords, so bucket 1 holds the wrong-label doc
    val b1 = rows.find(_._1 == 1L).get
    assert(b1._2 == 1L && b1._3 == 0L)
    assert(b1._4 == 100000000L, "conf_sum_e9 of one 0.1-conf doc")
    assert(b1._5 == 100000000L, "gap = |0 - 0.1| in e9")
    val b5 = rows.find(_._1 == 5L).get
    assert(b5._2 == 1L && b5._3 == 1L)
    assert(b5._4 == 500000000L)
    assert(b5._5 == 500000000L, "gap = |1 - 0.5| in e9")
    // ECE = (0.1 + 0.5)/2 = 0.3
    assert(rows.head._6 == 300000L)
  }

  test("q_bigram_next: exact conditional probabilities, deterministic cuts") {
    val docs = Seq(
      (1L, "a b a b a c", "en"), // bigrams: ab ba ab ba ac
      (2L, "a b d d", "en"))     // bigrams: ab bd dd
      .toDF("doc_id", "text", "lang")
    val dir = fixtureDir("documents" -> docs)
    val rows = SparkEntry.queries("q_bigram_next")(spark, dir)
      .select("tok", "rank", "next_tok", "n_ab", "n_a", "p_e6")
      .as[(String, Long, String, Long, Long, Long)].collect()
    val a = rows.filter(_._1 == "a").sortBy(_._2)
    // from 'a': b x3, c x1 -> n_a = 4
    assert(a.map(r => (r._3, r._4, r._5, r._6)).toSeq ==
      Seq(("b", 3L, 4L, 750000L), ("c", 1L, 4L, 250000L)))
    val b = rows.filter(_._1 == "b").sortBy(_._2)
    // from 'b': a x2, d x1
    assert(b.map(r => (r._3, r._4, r._6)).toSeq ==
      Seq(("a", 2L, 666666L), ("d", 1L, 333333L)))
  }
}
