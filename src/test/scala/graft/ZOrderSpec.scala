package graft


import graft.sink.ZOrder
import org.apache.spark.sql.functions._

/** Z-order layout proofs: the interleave is a bijection with exact
  * inverses, and sorting by it bounds every written file's min/max
  * envelope on BOTH dimensions — the multi-dimensional locality a
  * lexicographic sort cannot give (its trailing key spans the full domain
  * in every file). Parquet row-group pruning on either dimension follows
  * directly from the tight envelopes.
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  // the full 8-bit × 8-bit key grid, one row per (x, y)
  private def grid = spark.range(65536).select(
    (col("id") % 256).as("x"), shiftright(col("id"), 8).as("y"))

  test("zValue is a bijection on the 16-bit grid with exact inverses") {
    val z = grid.select($"x", $"y", ZOrder.zValue($"x", $"y", 8).as("z")).cache()
    try {
      val bad = z.filter(
        ZOrder.deinterleaveEven($"z", 8) =!= $"x" ||
        ZOrder.deinterleaveOdd($"z", 8) =!= $"y").count()
      assert(bad == 0, "deinterleave does not invert zValue")
      val (n, lo, hi) = z.agg(countDistinct($"z"), min($"z"), max($"z"))
        .as[(Long, Long, Long)].head()
      assert((n, lo, hi) == ((65536L, 0L, 65535L)), "z is not a bijection onto [0, 2^16)")
    } finally z.unpersist()
  }

  test("contiguous z-chunks are 64x64 squares; lex chunks span the full trailing domain") {
    // 16 equal contiguous chunks of the z-ordered grid (4096 = 4^6 keys
    // each -> exactly one aligned 64x64 square per chunk)
    val zSpans = grid
      .select($"x", $"y", shiftright(ZOrder.zValue($"x", $"y", 8), 12).as("chunk"))
      .groupBy($"chunk")
      .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
      .select(max($"xs"), max($"ys")).as[(Long, Long)].head()
    assert(zSpans == ((63L, 63L)), s"z-chunk envelopes not 64x64: $zSpans")

    // same chunking on the lexicographic (x, y) order: x-slabs — tight on
    // x (span 15) but every chunk spans the whole y domain
    val lexSpans = grid
      .select($"x", $"y", shiftright($"x" * 256 + $"y", 12).as("chunk"))
      .groupBy($"chunk")
      .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
      .select(max($"xs"), min($"ys")).as[(Long, Long)].head()
    assert(lexSpans == ((15L, 255L)),
      s"lex chunks should be x-tight but y-unbounded: $lexSpans")
  }

  test("written z-layout files carry the bounded envelopes (input_file_name readback)") {
    val dir = tmpDir("zorder")
    grid.select($"x", $"y", shiftright(ZOrder.zValue($"x", $"y", 8), 12).as("zchunk"))
      .repartition($"zchunk")
      .write.mode("overwrite").partitionBy("zchunk").parquet(dir)
    val spans = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
      .groupBy($"f")
      .agg((max($"x") - min($"x")).as("xs"), (max($"y") - min($"y")).as("ys"))
      .select(max($"xs"), max($"ys")).as[(Long, Long)].head()
    assert(spans._1 <= 63L && spans._2 <= 63L,
      s"per-file envelopes exceed the 64x64 square: $spans")
  }
}
