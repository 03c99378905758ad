package graft

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    Seq(1).toDF("x").select(c.as("r")).collect().head.getAs[T]("r")

  private def oneSeq(c: org.apache.spark.sql.Column): Seq[String] =
    Seq(1).toDF("x").select(c.as("r")).collect().head
      .getAs[scala.collection.Seq[String]]("r").toSeq

  test("tokens: lower-cases, splits on runs of whitespace, drops empties") {
    val got = oneSeq(TextAnalysis.tokens(lit("  Hello\t WORLD  x ")))
    assert(got == Seq("hello", "world", "x"))
  }

  test("tokenHash32 equals the md5-prefix reference value") {
    // md5("tok") = 60ae136e... -> 0x60ae136e = 1622020974
    assert(one[Long](TextAnalysis.tokenHash32(lit("tok"))) == 1622020974L)
  }

  test("native TokenHash32Expr equals the conv(substring(md5)) form on real tokens") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
    val diff = toks.filter(
      TextAnalysis.tokenHash32(col("t")) =!= TextAnalysis.tokenHash32Sql(col("t")))
    assert(diff.count() == 0)
    // edge inputs: the empty token (md5("") = d41d8cd9...) and NULL
    val edges = Seq[(Int, String)]((1, ""), (2, null)).toDF("id", "t")
    val viaCol = edges.orderBy("id").select(TextAnalysis.tokenHash32(col("t")),
      TextAnalysis.tokenHash32Sql(col("t"))).collect()
    assert(viaCol(0).getLong(0) == 3558706393L && viaCol(0).getLong(1) == 3558706393L)
    assert(viaCol(1).isNullAt(0) && viaCol(1).isNullAt(1))
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT token_hash32(''), token_hash32(CAST(NULL AS STRING))").collect().head
    assert(viaSql.getLong(0) == 3558706393L && viaSql.isNullAt(1))
  }

  test("shingles: n-grams in order; short input yields empty") {
    assert(oneSeq(TextAnalysis.shingles(lit("a b c d"), 3)) ==
      Seq("a b c", "b c d"))
    assert(oneSeq(TextAnalysis.shingles(lit("a b"), 3)).isEmpty)
  }

  test("fingerprint: rolling 31-polynomial mod 2^31-1") {
    // "ab": ((0*31+97)*31 + 98) mod p = 3105
    assert(one[Long](TextAnalysis.fingerprint(lit("ab"))) == 3105L)
  }

  test("langId picks the max-hit language; ties go to first list order") {
    val de = one[org.apache.spark.sql.Row](TextAnalysis.langId(lit("der hund und die katze")))
    assert(de.getAs[String]("lang_pred") == "de" && de.getAs[Int]("lang_score") == 3)
    // no hits anywhere -> all scores 0 -> first language in list order
    val none = one[org.apache.spark.sql.Row](TextAnalysis.langId(lit("xyzzy quux")))
    assert(none.getAs[String]("lang_pred") ==
      TextAnalysis.StopwordLists.head._1 && none.getAs[Int]("lang_score") == 0)
  }

  test("q_phrase_search fixture: adjacency required, occurrences counted, scattered words ignored") {
    val dir = tmpDir("phrase")
    Seq(
      (1L, "big order scan then big order scan again", "en", "s", 10L), // 2 hits
      (2L, "big BIG order scan", "en", "s", 10L),                       // case-folded, 1 hit
      (3L, "big scan order big scan", "en", "s", 10L),                  // scattered: none
      (4L, "nothing here", "en", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_phrase_search")(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 2L, 2L -> 1L), s"got $got")
  }

  test("nearDupPrefixJoin: output-identical to brute force at several thresholds") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter($"doc_id" % 5 === 0)
    val sets = docs
      .select($"doc_id".as("id"), TextAnalysis.tokenSet($"text").as("toks"))
      .filter(size($"toks") > 0)
    for (t <- Seq(0.3, 0.5, 0.8)) {
      // brute twin mirrors the operator's contract: threshold on the
      // UNROUNDED Jaccard, display rounded
      val brute = sets.as("a").crossJoin(sets.as("b"))
        .filter($"a.id" < $"b.id")
        .select($"a.id".as("id_a"), $"b.id".as("id_b"),
          Dedup.jaccardSortedRaw($"a.toks", $"b.toks").as("jraw"))
        .filter($"jraw" >= t)
        .select($"id_a", $"id_b",
          graft.ops.TextAnalysis.round6($"jraw").as("jaccard"))
        .as[(Long, Long, Double)].collect().toSet
      val pruned = Dedup.nearDupPrefixJoin(docs, "doc_id", "text", minJaccard = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pruned == brute,
        s"t=$t: missing ${(brute -- pruned).take(3)}, extra ${(pruned -- brute).take(3)}")
    }
  }

  test("q_dedup_containment fixture: subset doc flagged at jaccard Jaccard misses") {
    val dir = tmpDir("contain")
    val big = (1 to 40).map(i => s"w$i").mkString(" ")      // 40-token vocab
    val small = (1 to 10).map(i => s"w$i").mkString(" ")    // strict subset
    Seq(
      (10L, big, "en", "s", 100L),
      (20L, small, "en", "s", 25L),
      (30L, "x y z", "en", "s", 5L)                          // disjoint
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_dedup_containment")(spark, dir)
      .select($"id_a", $"id_b", $"containment", $"jaccard")
      .as[(Long, Long, Double, Double)].collect().toSeq
    // the subset pair: containment exactly 1.0, jaccard only 10/40 = 0.25
    assert(rows == Seq((10L, 20L, 1.0, 0.25)), s"got $rows")
  }

  test("containmentPrefixJoin: output-identical to brute force at several thresholds") {
    // two corpora: the 31-token synthetic docs (dense postings — the
    // degenerate case) and a 120-token-vocabulary fixture with strict
    // subset structure (the case the prefix bound is built for)
    val synth = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter($"doc_id" % 5 === 0)
    val wide = (1 to 30).map { i =>
      // doc i holds tokens w(4i mod 120) .. w(4i mod 120 + 20): overlapping
      // runs, deterministic, sizes 21
      (i.toLong, ((4 * i % 120) to (4 * i % 120 + 20)).map(j => s"w$j").mkString(" "),
        "en", "s", 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    for (docs <- Seq(synth, wide); t <- Seq(0.7, 0.9)) {
      val sets = docs
        .select($"doc_id".as("id"), TextAnalysis.tokenSet($"text").as("toks"))
        .filter(size($"toks") > 0)
        .withColumn("sz", size($"toks"))
      val brute = sets.as("a").crossJoin(sets.as("b"))
        .filter($"a.id" < $"b.id")
        .withColumn("ni", graft.functions.Native
          .intersectCount(longSets = false)($"a.toks", $"b.toks").cast("long"))
        .filter($"ni".cast("double") / least($"a.sz", $"b.sz") >= t)
        .select($"a.id", $"b.id", $"ni")
        .as[(Long, Long, Long)].collect().toSet
      val pruned = Dedup.containmentPrefixJoin(docs, "doc_id", "text", t)
        .select($"id_a", $"id_b", $"ni")
        .as[(Long, Long, Long)].collect().toSet
      assert(pruned == brute,
        s"t=$t: missing ${(brute -- pruned).take(3)}, extra ${(pruned -- brute).take(3)}")
    }
  }

  test("containmentPrefixJoinSets on bigint shingle sets: equals brute force; " +
      "candidates stay far below the pair space on clustered vocabularies") {
    // 4 disjoint 30-token vocabulary clusters × 10 docs: cross-cluster
    // pairs share NO token, so a sound prefix index must never pair them —
    // candidates ≤ within-cluster pairs (4 · C(10,2) = 180) ≪ C(40,2) = 780
    val docs = (0 until 40).map { i =>
      val c = i % 4
      val off = (i / 4) % 7
      (i.toLong, (off to off + 13).map(j => s"c${c}tok$j").mkString(" "))
    }.toDF("doc_id", "text")
    val sets = docs.select($"doc_id".as("id"),
      array_sort(array_distinct(TextAnalysis.shingleHashesFromHashes(
        Dedup.tokenHashes(TextAnalysis.tokens($"text")), 3))).as("gs"))
    val t = 0.8
    val szd = sets.withColumn("sz", size($"gs")).filter($"sz" > 0)
    val brute = szd.as("a").crossJoin(szd.as("b"))
      .filter($"a.id" < $"b.id")
      .withColumn("ni", graft.functions.Native
        .intersectCount(longSets = true)($"a.gs", $"b.gs").cast("long"))
      .filter($"ni".cast("double") / least($"a.sz", $"b.sz") >= t)
      .select($"a.id", $"b.id", $"ni")
      .as[(Long, Long, Long)].collect().toSet
    val pruned = Dedup.containmentPrefixJoinSets(sets, "id", "gs", t)
      .select($"id_a", $"id_b", $"ni")
      .as[(Long, Long, Long)].collect().toSet
    assert(pruned == brute,
      s"missing ${(brute -- pruned).take(3)}, extra ${(pruned -- brute).take(3)}")
    assert(brute.nonEmpty, "fixture produced no qualifying pairs")
    val cands = Dedup.containmentPrefixCandidates(
      sets.select($"id", $"gs".as("toks")), t).count()
    val n = 40L
    assert(cands <= 4 * 45, s"cross-cluster candidates leaked: $cands")
    assert(cands < n * (n - 1) / 2 / 3, s"candidates $cands not ≪ n²/2")
  }

  test("containmentBitmapPairs: identical to the prefix join and to brute force") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter($"doc_id" % 5 === 0)
    val bitmap = Dedup.containmentBitmapPairs(docs, "doc_id", "text", 0.9)
      .select($"id_a", $"id_b", $"ni", $"containment", $"jaccard")
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    val prefix = Dedup.containmentPrefixJoin(docs, "doc_id", "text", 0.9)
      .select($"id_a", $"id_b", $"ni", $"containment", $"jaccard")
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    assert(bitmap == prefix,
      s"missing ${(prefix -- bitmap).take(3)}, extra ${(bitmap -- prefix).take(3)}")
    assert(bitmap.nonEmpty, "fixture produced no qualifying pairs")
  }

  test("containmentBitmapPairs fails fast past the 64-token vocabulary bound") {
    val wide = (1 to 5).map(i =>
      (i.toLong, (1 to 100).map(j => s"w${i}_$j").mkString(" "), "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[IllegalArgumentException] {
      Dedup.containmentBitmapPairs(wide, "doc_id", "text", 0.9)
    }
    assert(e.getMessage.contains("containmentPrefixJoin"))
  }

  test("nearDupPrefixJoin subsumes verified minhash pairs (LSH can only miss)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter($"doc_id" % 10 === 0)
    val exact = Dedup.nearDupPrefixJoin(docs, "doc_id", "text", minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.nearDupMinhash(docs, "doc_id", "text",
        k = 16, bands = 4, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"verified LSH pairs not in exact set: ${(lsh -- exact).take(3)}")
  }

  test("exactKeepFirst keeps exactly one row per key, first by order") {
    val df = Seq(("a", 2, "x2"), ("a", 1, "x1"), ("b", 5, "y5"))
      .toDF("k", "ord", "payload")
    val got = Dedup.exactKeepFirst(df, Seq("k"), Seq("ord"))
      .select("k", "payload").as[(String, String)].collect().sorted
    assert(got.toSeq == Seq(("a", "x1"), ("b", "y5")))
  }

  test("minhash: identical token sets get identical signatures; signature is k long") {
    val df = Seq("b a c", "a b c", "a b x").toDF("text")
      .select(Dedup.minhashSignature(TextAnalysis.tokenSet(col("text")), 16).as("sig"))
    val sigs = df.as[Seq[Long]].collect()
    assert(sigs.forall(_.length == 16))
    assert(sigs(0) == sigs(1)) // order-insensitive
    assert(sigs(0) != sigs(2))
    assert(sigs.flatten.forall(v => v >= 0 && v < Dedup.P))
  }

  test("minhash similarity tracks jaccard (statistical sanity)") {
    val near = Seq(("a b c d e f g h", "a b c d e f g x"))
      .toDF("t1", "t2")
      .select(
        Dedup.minhashSignature(TextAnalysis.tokenSet(col("t1")), 64).as("s1"),
        Dedup.minhashSignature(TextAnalysis.tokenSet(col("t2")), 64).as("s2"))
      .as[(Seq[Long], Seq[Long])].collect().head
    val agree = near._1.zip(near._2).count { case (a, b) => a == b } / 64.0
    // true jaccard = 7/9 ≈ 0.78; 64 permutations -> agreement within ~0.25
    assert(agree > 0.5, s"agreement $agree")
  }

  test("empty documents are not near-duplicates of each other (0/0 is null, not NaN)") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "real words here")).toDF("doc_id", "text")
    val pairs = Dedup.nearDupMinhash(docs, "doc_id", "text", 16, 4, 0.1)
    assert(pairs.count() == 0)
    // and bad banding parameters are rejected, not silently degenerate
    intercept[IllegalArgumentException] {
      Dedup.nearDupMinhash(docs, "doc_id", "text", k = 16, bands = 20)
    }
  }

  test("nearDupMinhash finds the duplicate pair and reports exact jaccard") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now")).toDF("doc_id", "text")
    val got = Dedup.nearDupMinhash(docs, "doc_id", "text", k = 16, bands = 4,
        minJaccard = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(got.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    // token sets: {the,quick,brown,fox,jumps,over,lazy,dog|cat}: 7 shared / 9
    assert(math.abs(got.head._3 - 0.777778) < 1e-6)
  }

  test("simhash: equal multisets equal sigs; near docs have small hamming") {
    val sigs = Seq((1L, "a b c d e f g h"), (2L, "h g f e d c b a"),
        (3L, "a b c d e f g h"), (4L, "p q r s t u v w"))
      .toDF("id", "text")
      .select(col("id"), Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("hs"))
      .select(col("id"), Dedup.simhash32(col("hs")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L) && sigs(1L) == sigs(3L))
    assert(sigs(1L) != sigs(4L))
    assert(sigs.values.forall(s => s >= 0 && s <= 0xFFFFFFFFL))
  }

  test("fused SimHash32Expr is bit-identical to the HOF form on real docs") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val both = docs
      .select(Dedup.tokenHashes(TextAnalysis.tokens(col("text"))).as("hs"))
      .select(Dedup.simhash32(col("hs")).as("fused"),
        Dedup.simhash32Hof(col("hs")).as("hof"))
    assert(both.filter(col("fused") =!= col("hof")).count() == 0)
    assert(both.count() == 500)
    // edge inputs: an empty array signs to 0, a null element counts as
    // hash 0 and a NULL array is NULL, in both forms
    val edges = Seq[(Int, Seq[Option[Long]])](
      (1, null), (2, Seq()), (3, Seq(Some(5L), None)), (4, Seq(Some(5L), Some(0L))))
      .toDF("id", "hs")
    val viaCol = edges.orderBy("id")
      .select(Dedup.simhash32(col("hs")), Dedup.simhash32Hof(col("hs"))).collect()
    assert(viaCol(0).isNullAt(0) && viaCol(0).isNullAt(1), viaCol.toSeq)
    assert(viaCol.drop(1).forall(r => r.getLong(0) == r.getLong(1)), viaCol.toSeq)
    assert(viaCol(1).getLong(0) == 0L && viaCol(2).getLong(0) == viaCol(3).getLong(0))
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      """SELECT simhash32(CAST(NULL AS ARRAY<BIGINT>)),
        |       simhash32(CAST(array() AS ARRAY<BIGINT>)),
        |       simhash32(array(CAST(5 AS BIGINT), CAST(NULL AS BIGINT)))""".stripMargin)
      .collect().head
    assert(viaSql.isNullAt(0) && viaSql.getLong(1) == 0L &&
      viaSql.getLong(2) == viaCol(2).getLong(0))
  }

  test("TokenHash64: high word is tokenHash32, low word folds md5 chars 9-16") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
    val h64 = graft.functions.Native.tokenHash64(col("t"))
    val composed = shiftleft(TextAnalysis.tokenHash32(col("t")), 32)
      .bitwiseOR(conv(substring(md5(col("t")), 9, 8), 16, 10).cast("long"))
    assert(toks.filter(h64 =!= composed).count() == 0)
  }

  test("fused SimHash64Expr equals the two-half simhash32 composition on real docs") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val both = docs
      .select(Dedup.tokenHashes64(TextAnalysis.tokens(col("text"))).as("hs"))
      .select(Dedup.simhash64(col("hs")).as("fused"),
        Dedup.simhash64FromHalves(col("hs")).as("halves"))
    assert(both.filter(col("fused") =!= col("halves")).count() == 0)
    assert(both.count() == 500)
  }

  test("banded 64-bit simhash pairs are output-identical to the quadratic twin") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val quad = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val banded = Dedup.simhashPairsBanded(docs, "doc_id", "text", maxHamming = 7)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(quad.nonEmpty, "fixture has no near-dup pairs — test is vacuous")
    assert(banded == quad)
    // and each pair arrives exactly once (the lowest-band filter replaces
    // the distinct — a regression here would double-count, not just reorder)
    assert(banded.distinct.size == banded.size)
    // banding parameters that would make chunks narrower than 8 bits are
    // rejected (that regime was measured slower than brute force)
    intercept[IllegalArgumentException] {
      Dedup.simhashPairsBanded(docs, "doc_id", "text", maxHamming = 10)
    }
  }

  test("banded maxHamming=0 uses a full 64-bit band key (exact-match join, not key 0)") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val quad = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val banded = Dedup.simhashPairsBanded(docs, "doc_id", "text", maxHamming = 0)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(banded == quad)
    // pin the mask math itself: a width-64 chunk must mask to all-ones,
    // not to 0 as `(1L << 64) - 1` does (JVM long shifts are mod 64) —
    // with the buggy mask every row lands on band key 0 and the "banded"
    // join silently degenerates to the full O(n^2) pair space
    assert((-1L >>> (64 - 64)) == -1L)
    assert(((1L << 64) - 1) == 0L, "JVM shift-mod-64 premise changed?")
  }

  test("banded maxHamming=3 (the 16-bit-chunk scale operating point) matches quadratic") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val quad = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val banded = Dedup.simhashPairsBanded(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(quad.nonEmpty, "fixture has no pairs at hamming<=3 — test is vacuous")
    assert(banded == quad)
  }

  test("fused SortedIntersectCount equals array_intersect jaccard on real docs") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = docs.as("x").join(docs.as("y"),
        col("x.doc_id") % 3 === 0 && col("y.doc_id") % 5 === 0)
      .select(TextAnalysis.tokenSet(col("x.text")).as("a"),
        TextAnalysis.tokenSet(col("y.text")).as("b"))
      .select(Dedup.jaccard(col("a"), col("b")).as("ref"),
        Dedup.jaccardSorted(col("a"), col("b")).as("fused"))
    assert(pairs.filter(not(col("ref") <=> col("fused"))).count() == 0)
    assert(pairs.count() > 100)
    // edge inputs of the merge walk: a NULL set is NULL, empty sets share
    // nothing, a null element never matches
    val edges = Seq[(Int, Seq[String], Seq[String])](
      (1, null, Seq("a")), (2, Seq(), Seq()), (3, Seq("a", null), Seq("a", "b")))
      .toDF("id", "a", "b")
    val counts = edges.orderBy("id").select(
        graft.functions.Native.intersectCount(longSets = false)(col("a"), col("b")),
        size(array_intersect(col("a"), col("b"))))
      .collect()
    assert(counts(0).isNullAt(0))
    assert(counts.drop(1).forall(r => r.getInt(0) == r.getInt(1)), counts.toSeq)
    assert(counts(1).getInt(0) == 0 && counts(2).getInt(0) == 1)
    // empty-vs-empty stays NULL (the NaN guard) in the fused path too
    val empty = Seq(("", "")).toDF("ta", "tb")
      .select(Dedup.jaccardSorted(
        TextAnalysis.tokenSet(col("ta")), TextAnalysis.tokenSet(col("tb"))).as("j"))
      .collect().head
    assert(empty.isNullAt(0))
  }

  test("chunks: sliding token windows with overlap; short and empty docs behave") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                   // shorter than a chunk
      (3L, ""))                                        // no tokens -> no chunks
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        posexplode(TextAnalysis.chunks(col("text"), chunkTokens = 4, overlap = 1)))
      .select(col("doc_id"), col("col.chunk_idx"), col("col.chunk_text"))
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 0, "t1 t2 t3 t4"),   // starts advance by 3 (= 4 - 1 overlap)
      (1L, 1, "t4 t5 t6 t7"),
      (1L, 2, "t7 t8 t9 t10"),
      (1L, 3, "t10"),           // tail window, shorter
      (2L, 0, "a b c")))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunks(col("text"), chunkTokens = 4, overlap = 4)
    }
  }

  test("packBins: distributed prefix-sum packing equals the sequential definition") {
    // 100 docs with varying token counts over many partitions
    val docs = spark.range(0, 100).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 30).map(i =>
        when(col("id") % 3 >= i % 3, lit(s"w$i"))): _*).as("text"))
      .repartition(7)
    val got = TextAnalysis.packBins(docs, "text", "doc_id", budgetTokens = 64)
      .select("doc_id", "n_tokens", "bin")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // sequential reference: exclusive running sum / budget
    var acc = 0L
    val expected = got.map { case (id, n, _) =>
      val bin = acc / 64; acc += n; (id, n, bin)
    }
    assert(got == expected)
    // bins are contiguous in doc order and respect the budget boundary
    assert(got.map(_._3).distinct.sorted == got.map(_._3).distinct,
      "bins must be assigned in nondecreasing order")
  }

  test("repetitionStats: run-walk counts match hand-computed n-gram fractions") {
    val docs = Seq(
      (1L, "a b a b a b"),      // 2-grams: ab,ba,ab,ba,ab -> top 3/5, dup 5/5
      (2L, "a b c d"),          // all distinct -> top 1/3, dup 0
      (3L, "x"),                // fewer tokens than n -> zero grams -> 0.0
      (4L, "")                  // empty doc
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextAnalysis.repetitionStats(col("text"), 2).as("r2"),
        TextAnalysis.repetitionStats(col("text"), 3).as("r3"))
      .select(col("doc_id"), col("r2.top_frac"), col("r2.dup_frac"),
        col("r3.top_frac"), col("r3.dup_frac"))
      .as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 0.6, 1.0, 0.5, 1.0))) // 3-grams: aba,bab,aba,bab
    assert(got(1)._2 == 0.333333 && got(1)._3 == 0.0)
    assert(got(2) == ((3L, 0.0, 0.0, 0.0, 0.0)))
    assert(got(3) == ((4L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("packBins: invariants hold on tie-heavy order keys (property, seeded)") {
    // with massive orderCol ties the engine picks the intra-tie order, so
    // exact bin ids are not portable across runs — but these properties
    // hold for EVERY legal tie resolution of the global prefix sum:
    //   (1) rows and token totals are preserved,
    //   (2) bin ids are contiguous from 0,
    //   (3) capacity: a bin never exceeds budget + its own largest item
    //       (every row STARTS strictly inside its bin's token range),
    //   (4) fill: every non-last bin holds at least budget - maxTok + 1
    //       tokens (the boundary-crossing row carries at most maxTok),
    //   (5) bins are monotone in the order key: ties may straddle a bin
    //       boundary, but max(order) of bin b never exceeds min(order) of
    //       bin b+1.
    for (seed <- 1 to 5; budget <- Seq(16, 64)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 200).map { i =>
        val nTok = rnd.nextInt(10) // includes zero-token rows
        (i.toLong, i % 3L, (0 until nTok).map(j => s"t$j").mkString(" "))
      }
      val df = rows.toDF("doc_id", "ord_key", "text").repartition(7)
      val got = TextAnalysis.packBins(df, "text", "ord_key", budget)
        .select("doc_id", "ord_key", "n_tokens", "bin")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val label = s"seed=$seed budget=$budget"
      assert(got.map(_._1).sorted == rows.map(_._1), label) // (1) rows
      assert(got.map(_._3).sum == rows.map(_._3.split(" ").count(_.nonEmpty).toLong).sum,
        s"$label token totals")
      val bins = got.groupBy(_._4)
      val maxBin = bins.keys.max
      assert(bins.keys.toSeq.sorted == (0L to maxBin), s"$label (2) contiguous bins")
      val maxTok = got.map(_._3).max
      bins.foreach { case (b, rs) =>
        val total = rs.map(_._3).sum
        assert(total <= budget + rs.map(_._3).max, s"$label (3) bin $b over capacity: $total")
        if (b < maxBin)
          assert(total >= budget - maxTok + 1, s"$label (4) bin $b underfilled: $total")
      }
      (0L until maxBin).foreach { b =>
        assert(bins(b).map(_._2).max <= bins(b + 1).map(_._2).min,
          s"$label (5) bin $b not monotone in the order key")
      }
    }
  }

  test("hot-bucket cap drops template-cluster pairs, keeps small-bucket pairs") {
    // 40 near-identical "template" docs (one giant bucket in every band)
    // plus one small near-dup pair with distinct vocabulary
    val template = (0 until 40).map(i => (i.toLong, s"the quick brown fox jumps over the lazy dog number $i"))
    val smallPair = Seq(
      (100L, "completely different vocabulary alpha beta gamma delta epsilon"),
      (101L, "completely different vocabulary alpha beta gamma delta zeta"))
    val docs = (template ++ smallPair).toDF("doc_id", "text")
    val uncapped = Dedup.nearDupMinhash(docs, "doc_id", "text",
        k = 16, bands = 4, minJaccard = 0.3)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    val capped = Dedup.nearDupMinhash(docs, "doc_id", "text",
        k = 16, bands = 4, minJaccard = 0.3, maxBucket = Some(10))
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(uncapped.contains((100L, 101L)) && capped.contains((100L, 101L)),
      "small-bucket pair must survive the cap")
    assert(uncapped.exists(p => p._1 < 40 && p._2 < 40),
      "fixture template cluster produced no pairs — test is vacuous")
    assert(!capped.exists(p => p._1 < 40 && p._2 < 40),
      "capped run must drop the hot template bucket's pairs")
    assert(capped.subsetOf(uncapped))
  }

  test("incremental minhash pairs new×new and new×corpus but never corpus×corpus") {
    // corpus docs 1,2 are near-dups of each other AND of new doc 10;
    // corpus pair (1,2) must NOT re-emit, mixed pairs must, oriented least/greatest
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "entirely unrelated vocabulary lives in this document")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "entirely unrelated vocabulary lives in that document")).toDF("doc_id", "text")
    val got = Dedup.nearDupMinhashFromState(
        Dedup.minhashPrepared(fresh, "doc_id", "text"),
        Dedup.minhashPrepared(corpus, "doc_id", "text"),
        k = 16, bands = 4, minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(got == Set((1L, 10L), (2L, 10L), (3L, 11L)),
      s"expected mixed pairs only, oriented (least, greatest): $got")
  }

  test("incremental minhash == batch pairs restricted to pairs touching a new doc") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val fresh = docs.filter(col("doc_id") % 20 === 0)
    val corpus = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 20 =!= 0)
    val incr = Dedup.nearDupMinhashFromState(
      Dedup.minhashPrepared(fresh, "doc_id", "text"),
      Dedup.minhashPrepared(corpus, "doc_id", "text"),
      k = 16, bands = 4, minJaccard = 0.5)
    val batchRestricted = Dedup.nearDupMinhash(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        k = 16, bands = 4, minJaccard = 0.5)
      .filter(col("id_a") % 20 === 0 || col("id_b") % 20 === 0)
    assert(incr.count() > 0, "fixture produced no new-touching pairs — test is vacuous")
    assert(incr.exceptAll(batchRestricted).count() == 0 &&
      batchRestricted.exceptAll(incr).count() == 0,
      "incremental output must equal the batch pair set filtered to new-touching pairs")
  }

  test("zero-token docs get signature 0 and pair with each other (oracle parity)") {
    // the DuckDB oracle LEFT JOINs sig-less docs back in with COALESCE(sig, 0);
    // this pins the Spark behavior that COALESCE mirrors
    val docs = Seq((1L, ""), (2L, "   "), (3L, "real words here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 0)),
      s"empty and whitespace-only docs must both fold to sig 0: $pairs")
    val banded = Dedup.simhashPairsBanded(docs, "doc_id", "text", maxHamming = 0)
      .as[(Long, Long, Int)].collect().toSeq
    assert(banded == pairs)
  }

  test("fused MinHashSigExpr is value-identical to the HOF form on real docs") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val both = docs
      .select(TextAnalysis.tokenSet(col("text")).as("toks"))
      .select(Dedup.minhashSignature(col("toks"), 16).as("fused"),
        Dedup.minhashSignatureHof(col("toks"), 16).as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.length == 500)
    both.foreach { case (f, h) => assert(f == h) }
    // empty token set: fused yields null signature (HOF yields k nulls) —
    // neither can band-match, so pair semantics are unchanged
    val empty = Seq("").toDF("text")
      .select(Dedup.minhashSignature(TextAnalysis.tokenSet(col("text")), 16).as("sig"))
      .collect().head
    assert(empty.isNullAt(0))
    // null slots in the hash array are skipped (array_min semantics), and
    // an all-null array degrades to the null signature like empty input
    val coefs = Dedup.coefficients(4)
    val mixed = Seq(1).toDF("x").select(
      graft.functions.Native.minhash(
        expr("array(CAST(7 AS BIGINT), CAST(null AS BIGINT), CAST(11 AS BIGINT))"), coefs).as("m"),
      graft.functions.Native.minhash(
        expr("array(CAST(7 AS BIGINT), CAST(11 AS BIGINT))"), coefs).as("nn"),
      graft.functions.Native.minhash(
        expr("array(CAST(null AS BIGINT))"), coefs).as("an"))
      .collect().head
    assert(mixed.getSeq[Long](0) == mixed.getSeq[Long](1))
    assert(mixed.isNullAt(2))
    // the same edge inputs as a column and through the SQL surface: a
    // NULL array, an empty one and an all-null one give a NULL signature
    val edges = Seq[(Int, Seq[Option[Long]])](
      (1, null), (2, Seq()), (3, Seq(None)), (4, Seq(Some(7L), None, Some(11L))))
      .toDF("id", "hs")
    val viaCol = edges.orderBy("id")
      .select(graft.functions.Native.minhash(col("hs"), coefs)).collect()
    assert(viaCol.take(3).forall(_.isNullAt(0)) &&
      viaCol(3).getSeq[Long](0) == mixed.getSeq[Long](1), viaCol.toSeq)
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      """SELECT minhash_sig(CAST(NULL AS ARRAY<BIGINT>), 4),
        |       minhash_sig(CAST(array() AS ARRAY<BIGINT>), 4),
        |       minhash_sig(array(CAST(NULL AS BIGINT)), 4),
        |       minhash_sig(array(CAST(7 AS BIGINT), CAST(NULL AS BIGINT),
        |                         CAST(11 AS BIGINT)), 4)""".stripMargin)
      .collect().head
    assert(viaSql.isNullAt(0) && viaSql.isNullAt(1) && viaSql.isNullAt(2) &&
      viaSql.getSeq[Long](3) == mixed.getSeq[Long](1))
  }

  test("connectedComponents labels transitive clusters; survivors keep cluster minima") {
    // clusters: {1,2,3} (chain), {5,6}; 9 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))

    val docs = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val kept = Dedup.survivors(docs, "doc_id", pairs, "id_a", "id_b")
      .as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 5L, 9L)) // cluster minima + the unpaired doc
  }

  test("connectedComponents converges on a 200-node chain (worst-case diameter)") {
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain, "id_a", "id_b")
      .as[(Long, Long)].collect()
    assert(comps.length == 200)
    assert(comps.forall(_._2 == 1L), "every chain node must label to the minimum")
  }

  test("jaccardPairs (inverted index) matches the brute-force definition") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"), (3L, "a x y z w")).toDF("id", "text")
    val got = Dedup.jaccardPairs(docs, "id", "text", n = 1, minJaccard = 0.05)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    // sets: 12 share 4/6, 13 share 1/9, 23 share 1/9
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(math.abs(got(0)._3 - 4.0 / 6.0) < 1e-5)
    assert(math.abs(got(1)._3 - 1.0 / 9.0) < 1e-5)
  }

  test("tokenHash32Words: word 0 is tokenHash32; all words match the conv(substr(md5)) form") {
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
    val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
    val cols = Seq(
      TextAnalysis.tokenHash32Words(col("t")).as("ws"),
      TextAnalysis.tokenHash32(col("t")).as("w0")) ++
      (0 until 4).map(k =>
        conv(substring(md5(col("t")), 1 + 8 * k, 8), 16, 10).cast("long")
          .as(s"ref$k"))
    val checked = toks.select(cols: _*)
    val bad = checked.filter(
      element_at(col("ws"), 1) =!= col("w0") ||
        (1 to 4).map(k => element_at(col("ws"), k) =!= col(s"ref${k - 1}"))
          .reduce(_ || _))
    assert(bad.count() == 0)
  }

  test("editDistanceJoin covers substitute/insert/delete/equal; no false negatives") {
    // cat~bat (substitute), cat~cats (insert), cats~cat (delete, same pair),
    // dog=dog (equal twice), cat vs dog (far), ab vs ba (shared deletion
    // variant 'a' but edit distance 2 — candidate must be REJECTED)
    val rows = Seq(
      (1L, "cat"), (2L, "bat"), (3L, "cats"), (4L, "dog"),
      (5L, "dog"), (6L, "ab"), (7L, "ba"), (8L, "")).toDF("id", "s")
    val got = Dedup.editDistanceJoin(rows, "id", "s")
      .as[(Long, Long, Int)].collect().sortBy(p => (p._1, p._2)).toSeq
    val brute = (for {
      a <- rows.as[(Long, String)].collect(); b <- rows.as[(Long, String)].collect()
      if a._1 < b._1
      d = {
        val (x, y) = (a._2, b._2)
        val dp = Array.tabulate(x.length + 1)(i => Array.tabulate(y.length + 1)(j =>
          if (i == 0) j else if (j == 0) i else 0))
        for (i <- 1 to x.length; j <- 1 to y.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
            dp(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
        dp(x.length)(y.length)
      }
      if d <= 1
    } yield (a._1, b._1, d)).sortBy(p => (p._1, p._2)).toSeq
    assert(got == brute)
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 1)) &&
      got.contains((4L, 5L, 0)))
    assert(!got.exists(p => p._1 == 6L && p._2 == 7L), "ab~ba is distance 2")
  }
}
