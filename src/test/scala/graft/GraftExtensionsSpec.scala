package graft

import org.apache.spark.sql.SparkSessionExtensions

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("register exposes the native expressions to spark.sql") {
    GraftExtensions.register(spark)
    val h = spark.sql("SELECT token_hash32('tok') AS h").as[Long].collect().head
    assert(h == 1622020974L) // md5("tok") prefix

    Seq((Array(1f, 0f), Array(1f, 0f))).toDF("a", "b").createOrReplaceTempView("v")
    val cos = spark.sql("SELECT cosine_similarity(a, b) AS c FROM v")
      .as[Double].collect().head
    assert(cos == 1.0)

    val sig = spark.sql(
      "SELECT simhash32(transform(array('a','b'), t -> token_hash32(t))) AS s")
      .as[Long].collect().head
    val viaColumn = Seq("a b").toDF("text")
      .select(graft.ops.Dedup.tokenHashes(graft.ops.TextAnalysis.tokens($"text")).as("hs"))
      .select(graft.ops.Dedup.simhash32($"hs"))
      .as[Long].collect().head
    assert(sig == viaColumn)

    val mh = spark.sql(
      "SELECT minhash_sig(transform(array('a','b'), t -> token_hash32(t)), 16) AS s")
      .as[Seq[Long]].collect().head
    val mhColumn = Seq("a b").toDF("text")
      .select(graft.ops.Dedup.minhashSignature(
        graft.ops.TextAnalysis.tokenSet($"text"), 16).as("s"))
      .as[Seq[Long]].collect().head
    assert(mh == mhColumn && mh.length == 16)
  }

  test("the extensions class injects without error (spark.sql.extensions path)") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // would throw on malformed descriptors
  }

  test("config-path install: a session built with spark.sql.extensions gets functions AND the optimizer rule") {
    import org.apache.spark.sql.SparkSession
    // spark.sql.extensions is STATIC conf read from the SparkContext at
    // build, so the shared test context cannot opt in via builder options;
    // Bridge constructs the session the way getOrCreate would after
    // loading the configured classes
    SparkSession.clearActiveSession()
    val viaExt = org.apache.spark.sql.graftbridge.Bridge
      .sessionWithExtensions(spark.sparkContext, new GraftExtensions().apply)
    try {
      val h = viaExt.sql("SELECT token_hash32('tok') AS h")
        .collect().head.getLong(0)
      assert(h == 1622020974L, "injected function not visible via config path")
      // …and the rule: a pure range join rewrites once the conf is set
      viaExt.conf.set(graft.plans.BinnedRangeJoinRule.BinSizeConf, "4")
      import viaExt.implicits._
      val p = Seq((1L, 3L)).toDF("pid", "p")
      val iv = Seq((10L, 0L, 4L)).toDF("iid", "lo", "hi")
      val plan = p.join(iv, $"p" >= $"lo" && $"p" <= $"hi")
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("__graft_bin"),
        s"optimizer rule not active through spark.sql.extensions:\n$plan")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("jaro_winkler: textbook values, SQL surface, NULL propagation") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val got = spark.sql(
      """SELECT jaro_winkler('MARTHA', 'MARHTA') AS a,
        |       jaro_winkler('DWAYNE', 'DUANE') AS b,
        |       jaro_winkler('DIXON', 'DICKSONX') AS c,
        |       jaro_winkler('abc', 'abc') AS d,
        |       jaro_winkler('abc', 'xyz') AS e,
        |       jaro_winkler(CAST(NULL AS STRING), 'x') AS f,
        |       jaro_winkler('a', 'a') AS g,
        |       jaro_winkler('a', 'b') AS h""".stripMargin)
      .collect().head
    assert(math.abs(got.getDouble(0) - 0.9611111111111111) < 1e-15)
    // 0.84 up to the same last-ulp composition DuckDB's builtin produces —
    // the == below pins bit-identity with the oracle engine's value
    assert(got.getDouble(1) == 0.8400000000000001)
    assert(math.abs(got.getDouble(2) - 0.8133333333333332) < 1e-15)
    assert(got.getDouble(3) == 1.0 && got.getDouble(4) == 0.0)
    assert(got.isNullAt(5), "NULL input must propagate")
    // single-char pair: the unclamped window max(1,1)/2 - 1 = -1 used to
    // skip the match loop and score identical 1-char strings 0.0; DuckDB's
    // jaro_winkler_similarity('a','a') is 1.0
    assert(got.getDouble(6) == 1.0, "jaro_winkler('a','a') must be 1.0")
    assert(got.getDouble(7) == 0.0)
    // codegen and interpreted paths agree on a real column pair
    val df = Seq(("JELLYFISH", "SMELLYFISH"), ("CRANE", "CRATE"))
      .toDF("a", "b")
      .select(graft.functions.Native.jaroWinkler(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("s"))
    val fromCodegen = df.collect().map(_.getDouble(0)).toSeq
    val interp = Seq(("JELLYFISH", "SMELLYFISH"), ("CRANE", "CRATE")).map {
      case (a, b) => graft.functions.Kernels.jaroWinkler(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
    }
    assert(fromCodegen == interp)
    // empty strings: two empties are identical, one empty matches nothing
    assert(spark.sql("SELECT jaro_winkler('', ''), jaro_winkler('', 'x')")
      .as[(Double, Double)].collect().head == ((1.0, 0.0)))
    val edges = Seq[(Int, String, String)]((1, "", ""), (2, null, "x"))
      .toDF("id", "a", "b").orderBy("id")
      .select(graft.functions.Native.jaroWinkler(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"))).collect()
    assert(edges(0).getDouble(0) == 1.0 && edges(1).isNullAt(0))
  }

  test("registered functions reject wrong arity with a named error, not IndexOutOfBounds") {
    GraftExtensions.register(spark)
    for (bad <- Seq("jaro_winkler('x')", "cosine_similarity(array(1.0))",
                    "simhash32(1, 2)", "token_hash32()")) {
      val e = intercept[Exception] { spark.sql(s"SELECT $bad").collect() }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      val msgs = chain(e).map(t => s"${t.getClass.getName}: ${t.getMessage}")
      assert(!msgs.exists(_.contains("IndexOutOfBounds")),
        s"$bad must not surface IndexOutOfBounds: $msgs")
      assert(msgs.exists(m => m.contains("expects") || m.contains("argument")),
        s"$bad must name the arity problem: $msgs")
    }
  }

  test("registered functions reject a wrong-typed argument at analysis instead of casting it") {
    GraftExtensions.register(spark)
    for ((bad, want) <- Seq(
        "cosine_similarity(array(1.0D), array(1.0D))" -> "array<float>",
        "simhash32(array(1, 2))" -> "array<bigint>",
        "minhash_sig(array(1, 2), 4)" -> "array<bigint>",
        "token_hash32(1)" -> "string",
        "token_hash32(NULL)" -> "string",
        "jaro_winkler(1, 'x')" -> "string")) {
      val outcome = scala.util.Try(spark.sql(s"SELECT $bad").collect().toSeq)
      assert(outcome.failed.toOption.exists { e =>
        e.isInstanceOf[org.apache.spark.sql.AnalysisException] &&
          e.getMessage.toLowerCase.contains(want)
      }, s"$bad must fail analysis naming $want: $outcome")
    }
    // the Column entry points check the same way
    val doubles = Seq((Array(1.0), Array(1.0))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      doubles.select(graft.ops.Similarity.cosine($"a", $"b")).collect()
    }
  }
}
