package graft

import graft.ops.{Dedup, Multimodal, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The multimodal perceptual near-dup chain (round-14 verdict task 3):
  * dHash signature semantics, the dhash64 kernel against a reference fold,
  * and the banded-≡-quadratic output identity that lets the equi-join
  * scale path replace the all-pairs baseline at 100 TB.
  */
class MultimodalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def sigsOf(df: DataFrame): DataFrame =
    Multimodal.dhashSigs(
      Multimodal.withPayload(df, "doc_id", "text")
        .select(col("doc_id"), col("payload"),
          col("media_meta.width").as("w"), col("media_meta.height").as("h")),
      "doc_id", "payload", "w", "h")

  test("dHash semantics: gradient bits over the 9x8 thumbnail; empty -> 0") {
    // a payload whose 9x8 thumbnail is byte-identity (72 chars, w=72%64+1
    // is NOT 9 — so exercise through the expression directly instead)
    val grid = Array.tabulate[Byte](72)(i => if (i % 9 < 4) 2 else 1)
    val got = Seq((1L, grid), (2L, Array.emptyByteArray), (3L, grid.take(71)))
      .toDF("id", "g")
      .select(col("id"), graft.functions.Native.dhash64(col("g")).as("s"))
      .as[(Long, Long)].collect().sortBy(_._1)
    // columns 0..3 hold 2, columns 4..8 hold 1: within a row the only
    // descending step is c=3 (2 > 1), so bit (r*8 + 3) fires for all 8 rows
    val expect = (0 until 8).map(r => 1L << (r * 8 + 3)).reduce(_ | _)
    assert(got(0)._2 == expect)
    assert(got(1)._2 == 0L, "empty payload must sign to 0")
    assert(got(2)._2 == 0L, "a payload shorter than the 72-byte grid signs to 0")
    val nullSig = Seq[(Long, Array[Byte])]((4L, null)).toDF("id", "g")
      .select(graft.functions.Native.dhash64(col("g"))).collect().head
    assert(nullSig.isNullAt(0), "a NULL payload has no signature")
  }

  test("DHash64Expr: interpreted eval equals the column (codegen) path") {
    val rnd = new scala.util.Random(11)
    val rows = (1L to 50L).map(i => (i, Array.fill[Byte](72)(rnd.nextInt(256).toByte)))
    val viaCol = rows.toDF("id", "g")
      .select(col("id"), graft.functions.Native.dhash64(col("g")).as("s"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (i, g) =>
      var sig = 0L
      for (r <- 0 until 8; c <- 0 until 8)
        if ((g(r * 9 + c) & 0xff) > (g(r * 9 + c + 1) & 0xff))
          sig |= 1L << (r * 8 + c)
      assert(viaCol(i) == sig, s"row $i")
    }
  }

  test("banded dHash pairs are output-identical to the quadratic twin") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sigs = sigsOf(docs)
    def pairs(df: DataFrame) = df
      .select(col("id_a"), col("id_b"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet
    val quad = pairs(Dedup.pairsFromSigs(sigs, maxHamming = 3))
    val banded = pairs(Dedup.bandedPairsFromSigs(sigs, maxHamming = 3))
    assert(banded == quad)
    assert(quad.nonEmpty, "fixture near-dups must produce dHash pairs")
    // emitted exactly once per pair (the first-matching-band discipline)
    val b2 = Dedup.bandedPairsFromSigs(sigs, maxHamming = 3)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSeq
    assert(b2.distinct.size == b2.size)
  }

  test("exact duplicates sign identically (hamming 0 pairs exist)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with other characters here now"))
      .toDF("doc_id", "text")
    val got = Dedup.pairsFromSigs(sigsOf(docs), maxHamming = 0)
      .as[(Long, Long, Int)].collect().toSet
    assert(got.contains((1L, 2L, 0)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  // ---- frame-level dedup (round-15 verdict task 5) ----

  private def frameSigsOf(df: DataFrame): DataFrame = {
    val frames = Multimodal.frameSample(
      Multimodal.withPayload(df, "doc_id", "text"),
      "doc_id", "payload", frameBytes = 128, stride = 96)
    Multimodal.dhashSigs(
      frames.select((col("doc_id") * 1024 + col("frame_idx")).as("fid"),
        col("frame"), lit(16).as("w"), lit(8).as("h")),
      "fid", "frame", "w", "h")
  }

  test("frame sigs: banded pairs equal the quadratic twin on frame input") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") % 5 === 0)
    val sigs = frameSigsOf(docs).localCheckpoint(true)
    def key(df: DataFrame) = df.select(col("id_a"), col("id_b"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet
    assert(key(Dedup.bandedPairsFromSigs(sigs, maxHamming = 3))
      == key(Dedup.pairsFromSigs(sigs, maxHamming = 3)),
      "pigeonhole banding must be exact on frame signatures too")
  }

  test("frame containment: bounds and coverage algebra hold") {
    val rows = graft.SparkEntry.queries("q_frame_containment")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty, "template corpus must produce cross-clip matches")
    rows.foreach { r =>
      val (na, nb) = (r.getAs[Long]("n_frames_a"), r.getAs[Long]("n_frames_b"))
      val (ma, mb) = (r.getAs[Long]("matched_a"), r.getAs[Long]("matched_b"))
      val c = r.getAs[Long]("containment_e6")
      assert(ma >= 1 && mb >= 1 && ma <= na && mb <= nb)
      assert(c == math.max(ma * 1000000L / na, mb * 1000000L / nb))
      assert(c > 0 && c <= 1000000L)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("within-clip frame pairs are excluded from the cross-clip twin") {
    val rows = graft.SparkEntry.queries("q_frame_phash_pairs")(
      spark, "/root/testdata/sf0.001").collect()
    rows.foreach(r => assert(
      r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"),
      "overlapping windows of one payload must never pair"))
  }

  // ---- product quantization (round-15 verdict task 4) ----

  test("PQ: training is deterministic, codes are in range, ADC matches reconstruction") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(23)
    val emb = (0L until 120L).map(i =>
        (i, Seq.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val cb1 = Similarity.pqTrainCodebook(emb, "vec_id", "embedding", 8, 8)
    val cb2 = Similarity.pqTrainCodebook(emb, "vec_id", "embedding", 8, 8)
    assert(cb1 == cb2, "codebook training must be deterministic")
    assert(cb1.forall { case (s, j, c) =>
      s >= 0 && s < 8 && j >= 0 && j < 16 && c.length == 8 })
    val coded = emb.select(col("vec_id"), col("embedding"),
        Similarity.pqCodesExpr(col("embedding"), cb1, 8, 8).as("codes"))
      .localCheckpoint(true)
    val codes = coded.select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.size == 120 && codes.values.forall(cs =>
      cs.length == 8 && cs.forall(j => j >= 0 && j < 16)))
    // ADC against a query vector equals the cosine of the query with the
    // driver-side sub-centroid concatenation (the x-hat definition)
    val q = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val byKey = cb1.map(e => (e._1, e._2) -> e._3).toMap
    def floor6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val got = coded
      .select(col("vec_id"),
        Similarity.pqAdcCosine(typedlit(q), col("codes"), cb1, 8, 8).as("adc"))
      .as[(Long, Double)].collect().toMap
    codes.foreach { case (vid, cs) =>
      val xhat = (0 until 8).flatMap(s => byKey((s, cs(s))))
      val dot = (0 until 64).map(i => q(i).toDouble * xhat(i)).sum
      val nq = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
      val nx = math.sqrt(xhat.map(x => x * x).sum)
      assert(got(vid) == floor6(dot / (nq * nx)),
        s"ADC mismatch for vec $vid")
    }
  }

  test("PQ: LUT-based ADC equals the reconstruction form after rounding") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(41)
    val emb = (0L until 150L).map(i =>
        (i, Seq.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding", 8, 8)
    val coded = emb.select(col("vec_id"),
        Similarity.pqCodesExpr(col("embedding"), cb, 8, 8).as("codes"))
      .localCheckpoint(true)
    // one query column per row pairing (every vector scores every code row
    // through a small cross of 5 queries × 150 candidates)
    val qs = (200L until 205L).map(i =>
      (i, Seq.fill(64)(rnd.nextFloat() - 0.5f))).toDF("query_id", "qv")
    val both = coded.crossJoin(
        qs.withColumn("lut", Similarity.pqQueryLut(col("qv"), cb, 8, 8))
          .withColumn("qnorm", Similarity.norm(col("qv"))))
      .select(col("query_id"), col("vec_id"),
        Similarity.pqAdcCosine(col("qv"), col("codes"), cb, 8, 8).as("ref"),
        Similarity.pqAdcCosineLut(col("lut"), col("qnorm"), col("codes"),
          cb, 8, 8).as("lut_adc"))
      .collect()
    assert(both.length == 750)
    both.foreach { r =>
      // the LUT form sums per-subspace partials (grouping differs from
      // the flat 64-term fold by ~1 ulp pre-rounding); post-round6 the
      // two scorers must agree — this is the pin the q_ivf_pq_* oracle
      // rewrite to LUT order relies on
      assert(r.getAs[Double]("ref") == r.getAs[Double]("lut_adc"),
        s"LUT/reconstruction ADC divergence at ${r.getAs[Long]("query_id")}/" +
          s"${r.getAs[Long]("vec_id")}")
    }
  }

  test("PQ: residual coding is deterministic and ADC matches cent+rhat reconstruction") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(59)
    // two synthetic cells with DISTINCT means so residuals differ from raw
    val cents: Map[Int, Seq[Double]] =
      Map(0 -> Seq.fill(64)(0.25), 1 -> Seq.fill(64)(-0.25))
    val emb = (0L until 100L).map { i =>
      val cell = (i % 2).toInt
      (i, cell, Seq.fill(64)(rnd.nextFloat() - 0.5f + cents(cell)(0).toFloat))
    }.toDF("vec_id", "cell", "embedding")
    val centLits = array(Seq(0, 1).map(c => typedlit(cents(c))): _*)
    val withRes = emb
      .withColumn("centroid", element_at(centLits, col("cell") + 1))
      .withColumn("resid",
        Similarity.pqResidual(col("embedding"), col("centroid")))
      .localCheckpoint(true)
    // residual formation: exact IEEE per-dim subtraction
    withRes.select(col("embedding"), col("cell"), col("resid"))
      .collect().foreach { r =>
        val x = r.getSeq[Float](0); val c = cents(r.getInt(1))
        val got = r.getSeq[Double](2)
        (0 until 64).foreach(i =>
          assert(got(i) == x(i).toDouble - c(i), s"residual dim $i"))
      }
    // training on residuals is deterministic; codes are in range
    val cb1 = Similarity.pqTrainCodebook(withRes, "vec_id", "resid", 16, 4)
    val cb2 = Similarity.pqTrainCodebook(withRes, "vec_id", "resid", 16, 4)
    assert(cb1 == cb2, "residual codebook training must be deterministic")
    assert(cb1.forall { case (s, j, c) =>
      s >= 0 && s < 16 && j >= 0 && j < 16 && c.length == 4 })
    val coded = withRes.select(col("vec_id"), col("cell"), col("centroid"),
        Similarity.pqCodesExpr(col("resid"), cb1, 16, 4).as("codes"))
      .localCheckpoint(true)
    // residual ADC equals the driver-side x-hat = centroid + concat(sc)
    val q = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val byKey = cb1.map(e => (e._1, e._2) -> e._3).toMap
    def floor6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val got = coded.select(col("vec_id"),
        Similarity.pqAdcCosineResidual(typedlit(q), col("centroid"),
          col("codes"), cb1, 16, 4).as("adc"))
      .as[(Long, Double)].collect().toMap
    coded.select(col("vec_id"), col("cell"), col("codes"))
      .as[(Long, Int, Seq[Int])].collect().foreach { case (vid, cell, cs) =>
        val rhat = (0 until 16).flatMap(s => byKey((s, cs(s))))
        val xhat = (0 until 64).map(i => cents(cell)(i) + rhat(i))
        val dot = (0 until 64).map(i => q(i).toDouble * xhat(i)).sum
        val nq = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
        val nx = math.sqrt(xhat.map(x => x * x).sum)
        assert(got(vid) == floor6(dot / (nq * nx)),
          s"residual ADC mismatch for vec $vid")
      }
  }

  test("PQ: LUT ADC raises on a codebook hole instead of mis-ranking") {
    import graft.ops.Similarity
    val rnd = new scala.util.Random(43)
    val emb = (0L until 40L).map(i =>
        (i, Seq.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrainCodebook(emb, "vec_id", "embedding", 8, 8)
    val coded = emb.select(col("vec_id"),
        Similarity.pqCodesExpr(col("embedding"), cb, 8, 8).as("codes"))
      .localCheckpoint(true)
    // a codebook missing some (s, j) entries the codes actually use
    val usedJ = coded.select(explode(col("codes"))).distinct()
      .as[Int].collect().max
    val holed = cb.filterNot { case (s, j, _) => s == 0 && j == usedJ }
    val q = Seq.fill(64)(rnd.nextFloat() - 0.5f)
    val ex = intercept[Exception] {
      coded.select(Similarity.pqAdcCosineLut(
        Similarity.pqQueryLut(typedlit(q), holed, 8, 8),
        lit(math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)),
        col("codes"), holed, 8, 8).as("adc")).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("codebook hole"),
      s"expected the stale-codebook guard, got: ${ex.getMessage}")
  }

}
