package graft

import graft.sink.Store
import org.apache.spark.sql.functions._

/** The persisted-index production contract (round-13 order #5): index
  * state written through [[graft.sink.Store]] in the layouts the index
  * builds use, and reloaded with its declared types in a FRESH
  * session must drive maintained-state queries byte-identically to a
  * from-scratch rebuild — for both incrementally-maintained states (the
  * IVF sufficient statistics and the MinHash near-dup pair memo). Also
  * pins the read path's layout contract: a cell-filtered state read must
  * partition-prune.
  */
class IndexStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def nano(c: org.apache.spark.sql.Column) =
    floor(c.cast("double") * 1e9 + 0.5).cast("long")

  private def ivfState(s: org.apache.spark.sql.SparkSession) =
    graft.ops.Tables.embeddings(s, dir)
      .select(col("label").as("cell"),
        posexplode(col("embedding")).as(Seq("pos0", "v")))
      .groupBy(col("cell"), col("pos0"))
      .agg(sum(nano(col("v"))).as("s"), count(lit(1)).as("n"))
      .select(col("cell"), (col("pos0") + 1).cast("long").as("pos"),
        col("s"), col("n"))

  test("IVF state: fresh-session reload is row-identical to a rebuild") {
    val path = tmpDir("ivf")
    Store.ivfState.write(ivfState(spark), path, Store.byCell("pos"))
    val fresh = spark.newSession()
    val reloaded = Store.ivfState.read(fresh, path)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val rebuilt = ivfState(fresh)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(reloaded == rebuilt)
    assert(reloaded.nonEmpty)
  }

  test("IVF state: a consumer query over reloaded state equals rebuilt state") {
    val path = tmpDir("ivf2")
    Store.ivfState.write(ivfState(spark), path, Store.byCell("pos"))
    // consumer = the centroid derivation every probe path runs:
    // m = s/1e9/n per (cell, pos) — two IEEE ops, byte-comparable
    def centroids(state: org.apache.spark.sql.DataFrame) = state
      .select(col("cell"), col("pos"),
        (col("s").cast("double") / 1e9 / col("n")).as("m"))
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val fromDisk = centroids(Store.ivfState.read(spark, path))
    val fromScratch = centroids(ivfState(spark))
    assert(fromDisk.keySet == fromScratch.keySet)
    for ((k, m) <- fromScratch)
      assert(java.lang.Double.doubleToLongBits(fromDisk(k)) ==
        java.lang.Double.doubleToLongBits(m),
        s"centroid coord $k must be BYTE-identical after the disk round trip")
  }

  test("IVF state: cell-filtered read partition-prunes") {
    val path = tmpDir("ivf3")
    Store.ivfState.write(ivfState(spark), path, Store.byCell("pos"))
    val probed = Store.ivfState.read(spark, path).filter(col("cell").isin(3, 7))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"),
      s"cell filter must land in PartitionFilters, got:\n$plan")
    assert(probed.select("cell").distinct().collect()
      .map(_.getInt(0)).toSet == Set(3, 7))
  }

  test("MinHash pair memo: fresh-session reload ≡ rebuild, and survivors agree") {
    val docs = graft.ops.Tables.documents(spark, dir)
    val pairs = graft.ops.Dedup.nearDupMinhash(docs, "doc_id", "text",
      k = 16, bands = 4, minJaccard = 0.5)
    val path = tmpDir("minhash")
    Store.pairs.write(pairs, path, Store.clustered("id_a", "id_b"))
    val fresh = spark.newSession()
    val reloaded = Store.pairs.read(fresh, path)
    val freshDocs = graft.ops.Tables.documents(fresh, dir)
    val rebuilt = graft.ops.Dedup.nearDupMinhash(freshDocs, "doc_id", "text",
      k = 16, bands = 4, minJaccard = 0.5)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toMap
    val a = keyed(reloaded)
    val b = keyed(rebuilt)
    assert(a == b, "persisted pair memo must be byte-identical to rebuild")
    assert(a.nonEmpty)
    // maintained-state consumer: dedup survivors over the RELOADED memo
    // must equal survivors over the rebuilt one
    def survivorIds(p: org.apache.spark.sql.DataFrame,
        d: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.survivors(d.select("doc_id"), "doc_id",
          p.select("id_a", "id_b"), "id_a", "id_b")
        .collect().map(_.getLong(0)).toSet
    assert(survivorIds(reloaded, freshDocs) == survivorIds(rebuilt, freshDocs))
  }

  // ---- PQ store (round-16: the compressed ANN deployment artifact) ----

  test("PQ store: codebook doubles and code table survive the disk round trip bit-exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val emb = (0L until 80L).map(i =>
        (i, Seq.fill(64)(rnd.nextFloat() - 0.5f), (i % 5).toInt))
      .toDF("vec_id", "embedding", "cell")
    val cb = graft.ops.Similarity.pqTrainCodebook(emb, "vec_id", "embedding", 8, 8)
    val cbPath = tmpDir("pqcb")
    Store.pqCodebook.write(cb.toDF("s", "j", "centroid"), cbPath,
      Store.clustered("s", "j"))
    val back = Store.pqCodebook.read(spark, cbPath)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).toMap
    assert(back.keySet == cb.map(e => (e._1, e._2)).toSet)
    cb.foreach { case (si, j, c) =>
      val rb = back((si, j))
      assert(rb.length == c.length)
      c.indices.foreach(i => assert(
        java.lang.Double.doubleToLongBits(rb(i)) ==
          java.lang.Double.doubleToLongBits(c(i)),
        s"codebook coord ($si,$j,$i) must be BYTE-identical after the round trip"))
    }
    val codes = emb.select(col("vec_id"), col("cell"),
      graft.ops.Similarity.pqCodesExpr(col("embedding"), cb, 8, 8).as("codes"))
    val codesPath = tmpDir("pqcodes")
    Store.pqCodes.write(codes, codesPath, Store.byCell("vec_id"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(key(Store.pqCodes.read(spark, codesPath)) == key(codes))
  }

  test("PQ store: probed-cell read partition-prunes") {
    import spark.implicits._
    val emb = (0L until 60L).map(i =>
        (i, Seq.fill(64)((i % 7).toFloat / 7f), (i % 5).toInt))
      .toDF("vec_id", "embedding", "cell")
    val cb = graft.ops.Similarity.pqTrainCodebook(emb, "vec_id", "embedding", 8, 8)
    val path = tmpDir("pqprune")
    Store.pqCodes.write(
      emb.select(col("vec_id"), col("cell"),
        graft.ops.Similarity.pqCodesExpr(col("embedding"), cb, 8, 8).as("codes")),
      path, Store.byCell("vec_id"))
    val probed = Store.pqCodes.read(spark, path).filter(col("cell").isin(1, 4))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"),
      s"cell filter must land in PartitionFilters, got:\n$plan")
    assert(probed.select("cell").distinct().collect()
      .map(_.getInt(0)).toSet == Set(1, 4))
  }

}
