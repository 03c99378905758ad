package graft

import graft.ops.{Similarity, Tables}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, Array(1f, 0f, 0f)),
    (2L, Array(0.9f, 0.1f, 0f)),
    (3L, Array(0f, 1f, 0f)),
    (4L, Array(-1f, 0f, 0f)),
    (5L, Array(0.8f, 0.2f, 0f))).toDF("vec_id", "embedding")

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f, 3f), Array(3f, -1.5f, 0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("same"),
      Similarity.cosine(col("a"), col("c")).as("orth"),
      Similarity.cosine(col("a"), expr("transform(a, x -> -x)")).as("opp"))
      .collect().head
    assert(r.getAs[Double]("same") == 1.0)
    assert(r.getAs[Double]("orth") == 0.0)
    assert(r.getAs[Double]("opp") == -1.0)
  }

  test("fused native CosineSimilarity expression is bit-identical to the HOF form") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val both = emb.as("x").join(emb.as("y"),
        col("x.vec_id") % 7 === 0 && col("y.vec_id") % 11 === 0)
      .select(
        Similarity.cosine(col("x.embedding"), col("y.embedding")).as("fused"),
        Similarity.cosineHof(col("x.embedding"), col("y.embedding")).as("hof"))
    assert(both.filter(col("fused") =!= col("hof")).count() == 0)
    assert(both.count() > 1000)
    // edge inputs: a NULL column, empty arrays (0/0), a null element and
    // a length mismatch are all NULL in both forms; the raw SQL function
    // keeps the empty pair's NaN
    val edges = Seq[(Int, Seq[Option[Float]], Seq[Option[Float]])](
      (1, null, Seq(Some(1f), Some(0f))),
      (2, Seq(), Seq()),
      (3, Seq(Some(1f), None), Seq(Some(1f), Some(1f))),
      (4, Seq(Some(1f), Some(2f)), Seq(Some(1f), Some(2f), Some(3f))))
      .toDF("id", "a", "b")
    val viaCol = edges.orderBy("id").select(
        Similarity.cosine(col("a"), col("b")),
        Similarity.cosineHof(col("a"), col("b")))
      .collect()
    assert(viaCol.forall(r => r.isNullAt(0) && r.isNullAt(1)), viaCol.toSeq)
    GraftExtensions.register(spark)
    edges.createOrReplaceTempView("cos_edges")
    val viaSql = spark.sql(
      "SELECT cosine_similarity(a, b) FROM cos_edges ORDER BY id").collect()
    assert(viaSql(0).isNullAt(0) && viaSql(1).getDouble(0).isNaN &&
      viaSql(2).isNullAt(0) && viaSql(3).isNullAt(0), viaSql.toSeq)
  }

  test("bruteForceTopK ranks by cosine desc, excludes self, k rows per query") {
    val got = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 1),
        "vec_id", "embedding", k = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(got.map(_._2).toSeq == Seq(2L, 5L, 3L)) // 0.994, 0.970, 0.0
    assert(got.map(_._4).toSeq == Seq(1, 2, 3))
    assert(got.forall(_._1 == 1L))
  }

  test("a smaller-k brute-force top-k is the rank prefix of the top-10, ties and zero norm included") {
    // three copies of one vector and two of another give exact cosine
    // ties; vec 12 has zero norm (NULL cosine: no one's neighbor)
    val tied = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0.9f, 0.1f, 0f)), (4L, Array(0.9f, 0.1f, 0f)),
      (5L, Array(0f, 1f, 0f)), (6L, Array(0f, 1f, 0f)),
      (7L, Array(-1f, 0f, 0f)), (8L, Array(0.5f, 0.5f, 0.1f)),
      (9L, Array(0.2f, 0.3f, 0.9f)), (10L, Array(0.7f, -0.2f, 0.1f)),
      (11L, Array(0.1f, 0.9f, 0.1f)), (12L, Array(0f, 0f, 0f)),
      (13L, Array(0.3f, 0.3f, 0.3f)), (14L, Array(-0.2f, 0.8f, 0.4f)))
      .toDF("vec_id", "embedding")
    val probes = tied.filter(col("vec_id") <= 6 || col("vec_id") === 12)
    def top(k: Int) = Similarity.bruteForceTopK(tied, probes, "vec_id", "embedding", k)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
    val top10 = top(10)
    val all = rows(top10)
    assert(all.groupBy(r => (r._1, r._3)).exists(_._2.size > 1), "fixture must hold ties")
    assert(!all.exists(r => r._1 == 12L || r._2 == 12L), "zero-norm vector ranks nowhere")
    for (k <- Seq(4, 5)) {
      val want = rows(top(k))
      assert(want.nonEmpty && want.forall(_._4 <= k))
      assert(rows(top10.filter(col("rank") <= k)) == want, s"k=$k")
    }
  }

  test("hits counts each named result's truth rows; an empty result counts 0") {
    val truth = Seq((1L, 2L, 0.9, 1), (1L, 3L, 0.8, 2), (1L, 4L, 0.7, 3),
      (2L, 1L, 0.9, 1), (2L, 5L, 0.6, 2))
      .toDF("query_id", "neighbor_id", "cos", "rank")
    // 2 of a's 4 rows are in the truth: (1,3) and (2,5)
    val a = Seq((1L, 3L), (1L, 9L), (2L, 5L), (3L, 2L)).toDF("query_id", "neighbor_id")
    val empty = a.filter(lit(false))
    val got = Similarity.hits(truth, "a_hits" -> a, "none_hits" -> empty)
    assert(got.columns.toSeq == Seq("n_truth", "a_hits", "none_hits"))
    val r = got.withColumn("recall_e6", Similarity.recallE6("a_hits"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((5L, 2L, 0L, 400000L)))
  }

  test("signBucket packs sign bits of leading dims") {
    val got = Seq((Array(1f, -1f, 1f, -1f)))
      .toDF("v").select(Similarity.signBucket(col("v"), 4).as("b"))
      .as[Long].collect().head
    assert(got == (1 | 4)) // bits 0 and 2 set
  }

  test("lshTopK only pairs within a bucket; results are a subset of brute force") {
    val brute = Similarity.bruteForceTopK(corpus, corpus, "vec_id", "embedding", 3)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    val lsh = Similarity.lshTopKSelf(corpus, lit(true), "vec_id", "embedding", 3, nBits = 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(lsh.nonEmpty)
    assert(lsh.map(r => (r._1, r._2)).toSet.subsetOf(brute))
    // vec 4 (negative x) sits alone in its bucket -> no neighbors
    assert(!lsh.exists(_._1 == 4L))
  }

  test("AND-OR amplification: 16x4-bit tables recover the recall one table cannot") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = emb.filter(col("vec_id") < 8)
    val truth = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def hits(tables: Int, nBits: Int): Int =
      Similarity.lshTopKSelf(emb, col("vec_id") < 8, "vec_id", "embedding", 5,
          nBits = nBits, tables = tables)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
        .intersect(truth).size
    val one = hits(tables = 1, nBits = 4)
    val amplified = hits(tables = 16, nBits = 4)
    // measured on this fixture: single 4-bit table well below the floor,
    // the 16-table OR family at 39/40 — the floor q_ann_recall asserts
    assert(amplified >= math.ceil(truth.size * 0.8).toInt,
      s"amplified recall $amplified/${truth.size} under the 0.8 floor")
    assert(amplified > one,
      s"amplification gained nothing: tables=16 -> $amplified, tables=1 -> $one")
  }

  test("lshTopK rejects vectors narrower than tables*nBits per row") {
    val ex = intercept[Exception] {
      Similarity.lshTopKSelf(corpus, lit(true), "vec_id", "embedding", 3,
        nBits = 4, tables = 2).collect() // 3-dim vectors, 8 sign dims needed
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null &&
      m.contains("tables*nBits = 8 sign dims but vector has 3")))
  }

  test("ivfTopK: centroids are per-cell means; probing all cells equals brute force") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.centroids(emb, "label", "embedding")
    val nCells = cents.count().toInt
    assert(nCells > 1)
    // with nprobe = all cells, IVF degenerates to exact brute force
    val ivf = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
        cents, "vec_id", "embedding", "label", k = 3, nprobe = nCells)
      .as[(Long, Long, Double, Int)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(ivf == brute)
    // with nprobe = 1, results are a (possibly strict) subset per query
    val ivf1 = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
        cents, "vec_id", "embedding", "label", k = 3, nprobe = 1)
      .as[(Long, Long, Double, Int)].collect()
    assert(ivf1.nonEmpty)
  }

  test("kmeansAssign: one Lloyd step raises mean vector-to-own-centroid cosine") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def quality(assigned: org.apache.spark.sql.DataFrame): Double = {
      val cents = Similarity.centroids(assigned, "label", "embedding")
        .withColumnRenamed("label", "__c")
      assigned.join(cents, col("label") === col("__c"))
        .select(avg(
          Similarity.dot(col("embedding"), col("centroid").cast("array<float>"))
            / (Similarity.norm(col("embedding"))
              * Similarity.norm(col("centroid").cast("array<float>")))).as("q"))
        .collect().head.getDouble(0)
    }
    val before = quality(emb)
    val step1 = Similarity.kmeansAssign(emb,
      Similarity.centroids(emb, "label", "embedding"), "vec_id", "embedding", "label")
    assert(step1.count() == emb.count(), "every vector must get exactly one cell")
    val after = quality(step1)
    assert(after > before,
      s"Lloyd step must not worsen clustering: before=$before after=$after")
    // and the retrained cells compose with ivfTopK unchanged
    val ivf = Similarity.ivfTopK(step1, step1.filter(col("vec_id") < 3),
      Similarity.centroids(step1, "label", "embedding"),
      "vec_id", "embedding", "label", k = 3, nprobe = 2)
    assert(ivf.count() > 0)
  }

  test("zero vectors never rank as neighbors and never pass near-dup thresholds") {
    val withZero = corpus.union(
      Seq((99L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val top = Similarity.bruteForceTopK(withZero,
        withZero.filter(col("vec_id") === 1), "vec_id", "embedding", 5)
      .as[(Long, Long, Double, Int)].collect()
    assert(!top.exists(_._2 == 99L), "zero vector must not be a neighbor")
    val pairs = Similarity.cosineNearDupPairs(withZero, "vec_id", "embedding", 0.1)
      .as[(Long, Long, Double)].collect()
    assert(!pairs.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("fused cosine yields NULL on length mismatch, like the HOF twin") {
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f))).toDF("a", "b")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("fused"),
      Similarity.cosineHof(col("a"), col("b")).as("hof")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("silhouetteMargin: separated clusters yield positive margins; own/other correct") {
    val clustered = Seq(
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(0.9f, 0.1f, 0f), 0),
      (3L, Array(0f, 1f, 0f), 1),
      (4L, Array(0.1f, 0.9f, 0f), 1)).toDF("vec_id", "embedding", "cell")
    val cents = Similarity.centroidsLiteral(clustered, "cell", "embedding")
    val got = Similarity.silhouetteMargin(clustered, cents, "embedding", "cell")
      .select(col("vec_id"), col("cos_own"), col("cos_other"))
      .as[(Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got.size == 4)
    // every vector sits with its own cluster: cos_own > cos_other, both in [-1, 1]
    got.foreach { case (id, own, other) =>
      assert(own > other, s"vec $id: own $own <= other $other")
      assert(own <= 1.0 && own >= -1.0 && other <= 1.0 && other >= -1.0)
    }
    // vec 1 vs its own centroid (0.95, 0.05, 0) is near-parallel
    assert(got.head._2 > 0.99)
  }

  test("silhouetteMargin rejects a single-cell centroid set") {
    val one = Seq((1L, Array(1f, 0f), 0), (2L, Array(0.9f, 0.1f), 0))
      .toDF("vec_id", "embedding", "cell")
    val cents = Similarity.centroidsLiteral(one, "cell", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.silhouetteMargin(one, cents, "embedding", "cell")
    }
  }

  test("cosineNearDupPairs returns ordered pairs above threshold") {
    val got = Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding", 0.95)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    // cos(1,2)=0.994, cos(1,5)=0.970, cos(2,5)=0.991 — all >= 0.95
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 5L), (2L, 5L)))
    assert(got.forall(p => p._1 < p._2 && p._3 >= 0.95))
  }
}
