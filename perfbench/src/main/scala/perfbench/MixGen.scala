package perfbench

import java.nio.file.Path
import java.time.LocalDate

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the harness tables the operator mix reads
  * (`lineitem events documents embeddings`, one parquet each), with the
  * schemas and value domains of the engine's TPC-H-ish test data at its
  * smallest scale. Timestamps are written without a time zone, and
  * `events.ts` as TIMESTAMP(NANOS), as in that data. It uses Spark and
  * parquet-mr only to write parquet and never calls into the engine.
  */
object MixGen {
  val Vocabulary: Seq[String] = Seq("scan", "column", "window", "order", "sort", "part",
    "agg", "value", "line", "key", "join", "merge", "group", "query", "a", "vector",
    "hash", "slow", "stream", "filter", "fast", "the", "batch", "spark", "table",
    "small", "data", "big", "customer", "row")

  /** A two-decimal amount in [lo, hi). */
  private def money(r: scala.util.Random, lo: Int, hi: Int): Double =
    (lo * 100 + r.nextInt((hi - lo) * 100)) / 100.0

  private def day(r: scala.util.Random, from: String, to: String): LocalDate = {
    val a = LocalDate.parse(from).toEpochDay
    LocalDate.ofEpochDay(a + r.nextInt((LocalDate.parse(to).toEpochDay - a).toInt + 1))
  }

  /** Writes every table under `dir`, each from its own stream of `seed`. */
  def write(spark: SparkSession, dir: Path, seed: Long): Unit = {
    def table(name: String, fields: Seq[(String, DataType)])(rows: scala.util.Random => Seq[Row]): Unit =
      spark.createDataFrame(
          java.util.Arrays.asList(rows(new scala.util.Random(seed * 1000003L + name.hashCode)): _*),
          StructType(fields.map { case (n, t) => StructField(n, t) }))
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

    // TPC-H-like retail prices of the 200 parts the lineitems reference
    val retail = (0 until 200).map(i => (90000 + i * 10) / 100.0)
    table("lineitem", Seq("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType))(r =>
      (0 until 6000).map { _ =>
        val part = r.nextInt(200)
        val qty = 1 + r.nextInt(50)
        Row(r.nextInt(1500).toLong, part.toLong, r.nextInt(10).toLong, 1 + r.nextInt(7), qty.toDouble,
          math.round(qty * retail(part) * 100) / 100.0, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          day(r, "1995-01-02", "2001-11-04").atStartOfDay())
      })

    events(spark, dir.resolve("events.parquet"), new scala.util.Random(seed * 1000003L + "events".hashCode))

    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    table("documents", Seq("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType)) { r =>
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      (0 until 500).foreach { i =>
        texts += (
          if (i > 20 && r.nextDouble() < 0.03) texts(r.nextInt(i))          // exact duplicate
          else if (i > 20 && r.nextDouble() < 0.06) {                       // near duplicate
            val words = texts(r.nextInt(i)).split(" ").toBuffer
            words(r.nextInt(words.size)) = Vocabulary(r.nextInt(Vocabulary.size))
            (words :+ "dup").mkString(" ")
          } else Seq.fill(20 + r.nextInt(60))(Vocabulary(r.nextInt(Vocabulary.size))).mkString(" "))
      }
      texts.toSeq.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, langs(r.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
      }
    }

    table("embeddings", Seq("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "label" -> IntegerType)) { r =>
      val centers = Seq.fill(10)(Array.fill(64)(r.nextGaussian()))
      (0 until 500).map { i =>
        val label = r.nextInt(10)
        val v = centers(label).map(_ + 0.8 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      }
    }
  }

  /** `events`, written with parquet-mr because Spark cannot write a
    * TIMESTAMP(NANOS) column. */
  private def events(spark: SparkSession, dir: Path, r: scala.util.Random): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val kinds = Seq("click", "error", "purchase", "signup", "view")
    val t0Ns = LocalDate.parse("2024-01-01").toEpochDay * 86400L * 1000000000L
    Land.deleteTree(dir)
    val file = new HPath(dir.resolve("part-00000.parquet").toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf)).withConf(conf)
      .withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      Seq.fill(1000)(r.nextLong(30L * 86400L * 1000000L)).sorted.zipWithIndex.foreach { case (us, i) =>
        w.write(groups.newGroup().append("event_id", i.toLong).append("ts", t0Ns + us * 1000)
          .append("user_id", r.nextInt(15).toLong).append("event_type", kinds(r.nextInt(5)))
          .append("value", money(r, 0, 330)).append("props", s"""{"k": ${r.nextInt(100)}}"""))
      }
    } finally w.close()
  }
}
