package graft

import graft.functions.GraftFunctions._
import graft.operators.{Dedup, Geo}
import org.apache.spark.sql.functions._

/** Native expression kernels: haversine, rolling hash, cosine. */
class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  test("haversine: zero for identical points, ~111.19 km per equatorial degree") {
    val out = Seq((0.0, 0.0, 0.0, 1.0)).toDF("lat1", "lon1", "lat2", "lon2")
      .select(
        haversine_km(col("lat1"), col("lon1"), col("lat1"), col("lon1")).as("zero"),
        haversine_km(col("lat1"), col("lon1"), col("lat2"), col("lon2")).as("deg1"))
      .head()
    assert(out.getDouble(0) === 0.0)
    assert(math.abs(out.getDouble(1) - 111.1950) < 0.01)
  }

  test("haversine: symmetric, non-negative, null-propagating") {
    val df = Seq((48.8566, 2.3522, 40.7128, -74.0060)).toDF("a", "b", "c", "d")
    val r = df.select(
      haversine_km(col("a"), col("b"), col("c"), col("d")).as("fwd"),
      haversine_km(col("c"), col("d"), col("a"), col("b")).as("rev")).head()
    assert(r.getDouble(0) === r.getDouble(1))
    assert(math.abs(r.getDouble(0) - 5837.0) < 10) // Paris -> NYC ~5837 km
    val n = df.select(haversine_km(lit(null).cast("double"), col("b"), col("c"), col("d"))).head()
    assert(n.isNullAt(0))
  }

  test("euclideanDeg is the reference's metric: zero iff identical") {
    val r = Seq((1.0, 2.0, 4.0, 6.0)).toDF("a", "b", "c", "d")
      .select(Geo.euclideanDeg(col("a"), col("b"), col("c"), col("d"))).head()
    assert(r.getDouble(0) === 5.0) // 3-4-5 triangle
  }

  test("rolling_hash native kernel == pure-SQL HOF fold (oracle parity)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val cmp = docs.select(
      rolling_hash(col("text")).as("native"),
      expr(Dedup.sqlHashFrag("text")).as("sqlfold"))
    assert(cmp.where(col("native") =!= col("sqlfold")).count() === 0)
  }

  test("rolling_hash: known value and empty string") {
    // "ab" -> ((0*31+97) % p)*31 + 98 = 3105
    val r = Seq(("ab", "")).toDF("s", "e")
      .select(rolling_hash(col("s")), rolling_hash(col("e"))).head()
    assert(r.getLong(0) === 97L * 31 + 98)
    assert(r.getLong(1) === 0L)
  }

  test("cosine_similarity: orthogonal 0, identical 1, opposite -1") {
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 2f), Array(1f, 2f)),
      (Array(1f, 0f), Array(-1f, 0f))).toDF("a", "b")
      .select(cosine_similarity(col("a"), col("b")).as("cos"))
    val vals = df.as[Double].collect()
    assert(math.abs(vals(0)) < 1e-15)
    assert(math.abs(vals(1) - 1.0) < 1e-12)
    assert(math.abs(vals(2) + 1.0) < 1e-15)
  }

  test("cosine_similarity handles zero vectors and double arrays") {
    val z = Seq((Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
      .select(cosine_similarity(col("a"), col("b"))).head()
    assert(z.getDouble(0) === 0.0)
    val d = Seq((Array(1.0, 2.0), Array(2.0, 4.0))).toDF("a", "b")
      .select(cosine_similarity(col("a"), col("b"))).head()
    assert(math.abs(d.getDouble(0) - 1.0) < 1e-12)
  }

  test("minhash_sig fused kernel == SQL HOF composition (oracle parity)") {
    graft.functions.GraftFunctions.registerAll(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(30)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("_toks"))
    val cmp = docs.select(
      minhash_sig(col("text")).as("native"),
      expr(Dedup.minhashFrag(Dedup.shingleHashesOverToks("_toks", "text"))).as("sqlform"))
    assert(cmp.where(col("native") =!= col("sqlform")).count() === 0)
    // short-text guard: <3 tokens hashes the whole text
    val short = Seq("one two").toDF("text")
      .select(minhash_sig(col("text")).as("s"), expr(
        s"transform(sequence(0,15), i -> ((2*i+3)*${Dedup.hashFrag("text")} + (7*i+1)) % ${Dedup.Mod})").as("e"))
    assert(short.where(col("s") =!= col("e")).count() === 0)
  }

  test("simhash fused kernel == SQL HOF composition (oracle parity)") {
    graft.functions.GraftFunctions.registerAll(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(30)
      .select(col("doc_id"), col("text"),
        expr(s"transform(split(text, ' '), s -> ${Dedup.hashFrag("s")})").as("hs"))
    val cmp = docs.select(
      simhash16(col("text")).as("native"),
      expr(Dedup.simhashFrag("hs")).as("sqlform"))
    assert(cmp.where(col("native") =!= col("sqlform")).count() === 0)
  }

  test("expressions work from SQL after registerAll, with input coercion") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT rolling_hash('ab') h, haversine_km(0, 0, 0, 0) km, " +
        "size(minhash_sig('a b c d', 8)) k8, size(minhash_sig('a b c d')) k16, " +
        "rolling_hash(42) hn").head()
    assert(r.getLong(0) === 3105L)
    assert(r.getDouble(1) === 0.0) // int args coerced to double
    assert(r.getInt(2) === 8)      // explicit k literal honored
    assert(r.getInt(3) === 16)
    assert(r.getLong(4) === graft.functions.RollingHash.kernel(
      org.apache.spark.unsafe.types.UTF8String.fromString("42")))
  }

  test("registerAll is quiet on a repeat call and still replaces a user function of the same name") {
    import graft.functions.GraftFunctions
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.spark.sql.GraftSqlBridge
    def graftBuildersRegistered(): Boolean = GraftFunctions.sqlBuilders.forall {
      case (name, b) => GraftSqlBridge.registeredFunction(spark, name).exists(_ eq b)
    }
    val replaced = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-register-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("replaced a previously registered function")) replaced.add(msg)
      }
    }
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    capture.start()
    root.addAppender(capture)
    try {
      GraftFunctions.registerAll(spark)
      assert(graftBuildersRegistered())
      replaced.clear()
      GraftFunctions.registerAll(spark)
      assert(graftBuildersRegistered())
      assert(replaced.isEmpty, s"repeat registerAll logged: ${replaced.toArray.mkString("; ")}")
      // a user function under one of graft's names is still replaced
      spark.udf.register("rolling_hash", (_: String) => -1L)
      assert(!GraftSqlBridge.registeredFunction(spark, "rolling_hash")
        .exists(_ eq GraftFunctions.sqlBuilders.toMap.apply("rolling_hash")))
      GraftFunctions.registerAll(spark)
      assert(graftBuildersRegistered())
      assert(spark.sql("SELECT rolling_hash('ab')").head().getLong(0) === 3105L)
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
  }

  test("aggregate functions work from SQL after registerAll") {
    graft.functions.GraftFunctions.registerAll(spark)
    Seq(("a", Array(1.0f, 3.0f), 5.0, 1L), ("a", Array(3.0f, 5.0f), 9.0, 2L))
      .toDF("g", "v", "score", "id").createOrReplaceTempView("agg_in")
    val r = spark.sql(
      "SELECT vector_avg(v) AS c, topk_by_score(score, id, 1) AS t " +
        "FROM agg_in GROUP BY g").head()
    assert(r.getSeq[Double](0) === Seq(2.0, 4.0))
    val top = r.getSeq[org.apache.spark.sql.Row](1)
    assert(top.map(x => (x.getDouble(0), x.getLong(1))) === Seq((9.0, 2L)))
  }

  test("topk_by_score: bigint k beyond Int range fails analysis, in-range bigint works") {
    graft.functions.GraftFunctions.registerAll(spark)
    Seq((5.0, 1L), (9.0, 2L)).toDF("score", "id").createOrReplaceTempView("topk_in")
    // 3e9 parses as a BIGINT literal; it must be rejected loudly, not
    // truncated to a wrapped-around Int buffer size
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT topk_by_score(score, id, 3000000000) FROM topk_in").collect()
    }
    assert(e.getMessage.contains("positive integer constant"))
    val ok = spark.sql("SELECT topk_by_score(score, id, CAST(1 AS BIGINT)) AS t FROM topk_in")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(ok.map(x => (x.getDouble(0), x.getLong(1))) === Seq((9.0, 2L)))
  }

  test("augment coin mixes the seed (different-parity AND same-parity seeds diverge)") {
    // regression: hashCode*31+seed collapsed to XOR of parity bits
    val entries = (0 until 64).map(i => s"img_$i.png")
    def coins(seed: Long) = entries.map(e =>
      (scala.util.hashing.MurmurHash3.stringHash(e, seed.toInt) & 1) == 0)
    assert(coins(7) !== coins(9))   // same parity, must still differ
    assert(coins(7) !== coins(8))
    assert(coins(7) === coins(7))   // deterministic
  }

  // ---- bloom filter build/probe ----------------------------------------

  private def buildBloom(keys: Seq[Long], numBits: Int = 1 << 16,
                         numHashes: Int = 6, parts: Int = 1): Array[Byte] =
    keys.toDF("k").repartition(parts)
      .agg(bloom_agg(col("k"), numBits, numHashes).as("f"))
      .head().getAs[Array[Byte]](0)

  test("bloom round trip: every inserted key probes true (no false negatives)") {
    val keys = (0L until 1000L).map(k => k * 7919L + 13L)
    val bytes = buildBloom(keys)
    val hits = keys.toDF("k")
      .where(bloom_might_contain(col("k"), bytes, 6))
      .count()
    assert(hits === 1000L, "bloom filters must never produce false negatives")
  }

  test("bloom false-positive rate on absent keys stays near the configured bound") {
    // m/n = 65536/1000 ≈ 65 bits/key at k=6 -> fpp well under 1%
    val present = (0L until 1000L).map(k => k * 7919L + 13L)
    val bytes = buildBloom(present)
    val absent = (0L until 20000L).map(k => k * 104729L + 7L)
      .filterNot(present.toSet)
    val fp = absent.toDF("k").where(bloom_might_contain(col("k"), bytes, 6)).count()
    assert(fp.toDouble / absent.size < 0.01,
      s"false-positive rate ${fp.toDouble / absent.size} exceeds 1% at 65 bits/key")
  }

  test("bloom merge is commutative: partial-per-partition build == single-partition build") {
    val keys = (0L until 500L).map(k => k * 31337L)
    val one = buildBloom(keys, parts = 1)
    val eight = buildBloom(keys, parts = 8)
    assert(java.util.Arrays.equals(one, eight),
      "bitwise-OR merge must make the filter independent of partitioning")
  }

  test("bloom SQL surface: registration, optional args, hex-literal probe") {
    graft.functions.GraftFunctions.registerAll(spark)
    (0L until 100L).toDF("k").createOrReplaceTempView("bloom_in")
    // defaults (numBits=1<<20, numHashes=6) match the Column API
    val viaSql = spark.sql("SELECT bloom_agg(k) FROM bloom_in").head().getAs[Array[Byte]](0)
    val viaCol = (0L until 100L).toDF("k").agg(bloom_agg(col("k")).as("f"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaSql, viaCol))
    // probe through SQL with the filter as a binary literal
    val hex = viaSql.map(b => f"$b%02X").mkString
    val probed = spark.sql(
      s"SELECT count(*) FROM bloom_in WHERE bloom_might_contain(k, X'$hex')")
      .head().getLong(0)
    assert(probed === 100L)
    // explicit numBits/numHashes through SQL agree with the Column API
    val viaSql2 = spark.sql("SELECT bloom_agg(k, 65536, 4) FROM bloom_in")
      .head().getAs[Array[Byte]](0)
    val viaCol2 = (0L until 100L).toDF("k").agg(bloom_agg(col("k"), 65536, 4).as("f"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaSql2, viaCol2))
  }

  test("bloom SQL surface rejects bad shapes with descriptive errors") {
    graft.functions.GraftFunctions.registerAll(spark)
    (0L until 10L).toDF("k").createOrReplaceTempView("bloom_err_in")
    def fails(sql: String, needle: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      assert(e.getMessage.contains(needle),
        s"expected '$needle' in: ${e.getMessage.take(300)}")
    }
    fails("SELECT bloom_agg() FROM bloom_err_in", "expects (key[, numBits[, numHashes]])")
    fails("SELECT bloom_might_contain(k) FROM bloom_err_in",
      "expects (key, filter[, numHashes])")
    fails("SELECT bloom_might_contain(k, CAST(NULL AS BINARY)) FROM bloom_err_in",
      "non-null BINARY constant")
    fails("SELECT bloom_might_contain(k, 42) FROM bloom_err_in", "BINARY constant")
    fails("SELECT bloom_might_contain(k, k) FROM bloom_err_in", "must be a constant")
  }

  test("nfc_normalize: composes combining marks, idempotent, null-propagating") {
    import graft.functions.GraftFunctions.nfc_normalize
    val df = Seq(
      ("é"),        // e + combining acute -> precomposed U+00E9
      ("café"),      // already NFC: unchanged
      ("über x"),   // u + combining diaeresis
      ("plain ascii")).toDF("s")
    val out = df.select(nfc_normalize(col("s")).as("n")).as[String].collect()
    assert(out === Array("é", "café", "über x", "plain ascii"))
    // idempotent: normalizing twice is the identity on the first pass
    val twice = df.select(nfc_normalize(nfc_normalize(col("s"))).as("n"))
      .as[String].collect()
    assert(twice === out)
    // code-point counts shrink exactly by the composed pairs
    assert(df.select(length(nfc_normalize(col("s"))).as("l")).as[Int].collect()
      === Array(1, 4, 6, 11))
    assert(Seq(Option.empty[String]).toDF("s")
      .select(nfc_normalize(col("s"))).head().isNullAt(0))
  }

  test("BloomMightContain compares by filter CONTENT (canonicalization-safe)") {
    import graft.functions.BloomMightContain
    import org.apache.spark.sql.catalyst.expressions.Literal
    val a = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    val p1 = BloomMightContain(Literal(7L), a, 6)
    val p2 = BloomMightContain(Literal(7L), a.clone(), 6)
    assert(p1 === p2 && p1.hashCode === p2.hashCode)
    assert(p1 !== BloomMightContain(Literal(7L), Array[Byte](9, 9, 9, 9, 9, 9, 9, 9), 6))
    assert(p1 !== BloomMightContain(Literal(7L), a, 5))
  }

  test("deflate_ratio: repetition << prose << noise; empty = 1.0; SQL + null") {
    val prose = "The quick brown fox jumped over the lazy dog while the " +
      "farmer watched from the porch and wondered about the coming harvest " +
      "season with its long days and short tempers in the market town."
    val repeated = "all work and no play makes jack a dull boy " * 20
    // xorshift-mixed full-byte-range chars: incompressible (binary spill
    // posing as text — hex/base64 alone would still huffman-compress)
    val noise = {
      val sb = new StringBuilder; var x = 0x9E3779B97F4A7C15L
      while (sb.length < 800) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        var i = 0
        while (i < 8) { sb.append(((x >>> (8 * i)) & 0xFF).toChar); i += 1 }
      }
      sb.toString
    }
    val out = Seq((1L, repeated), (2L, prose), (3L, noise), (4L, ""))
      .toDF("doc_id", "text")
    val r = graft.operators.TextAnalysis
      .compressionQuality(out, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getBoolean(2)))).toMap
    assert(r(1L)._1 < 0.1 && !r(1L)._2, s"repetition must gate out: ${r(1L)}")
    assert(r(2L)._1 > 0.3 && r(2L)._1 < 0.75 && r(2L)._2, s"prose keeps: ${r(2L)}")
    assert(r(3L)._1 > 0.75 && !r(3L)._2, s"noise must gate out high: ${r(3L)}")
    assert(r(1L)._1 < r(2L)._1 && r(2L)._1 < r(3L)._1, "ordering contract")
    assert(r(4L)._1 === 1.0, "empty compresses to itself by contract")
    // deterministic across evaluations (the rows-only check's foundation)
    val twice = Seq(prose, prose).toDF("text")
      .select(deflate_ratio(col("text")).as("r")).as[Double].collect()
    assert(twice(0) === twice(1))
    // SQL registration + null propagation
    graft.functions.GraftFunctions.registerAll(spark)
    val viaSql = spark.sql(
      s"SELECT deflate_ratio('$repeated'), deflate_ratio(CAST(NULL AS STRING))").head()
    assert(math.abs(viaSql.getDouble(0) - r(1L)._1) < 1e-6)
    assert(viaSql.isNullAt(1))
    // zero-shuffle projection
    val plan = graft.operators.TextAnalysis
      .compressionQuality(out, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"must be map-only:\n$plan")
  }

  test("round-13 kernels are callable from SQL (registerAll)") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT char_entropy('abab').entropy AS e,
        |       size(char_trigrams('abcd')) AS nt,
        |       nfc_normalize('é') AS nfc""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - math.log(2.0)) < 1e-12)
    assert(r.getInt(1) === 2)
    assert(r.getString(2) === "é")
    val p = spark.sql(
      "SELECT exact_percentiles(x, array(0.0, 0.5, 1.0)) FROM VALUES " +
        "(1.0), (2.0), (10.0) AS t(x)").head().getSeq[Double](0)
    assert(p === Seq(1.0, 2.0, 10.0))
    val bad = intercept[Exception](spark.sql(
      "SELECT exact_percentiles(x, x) FROM VALUES (1.0) AS t(x)").head())
    assert(bad.getMessage.contains("constant"))
  }

  test("exact_percentiles matches SQL percentile bit-for-bit incl. nulls and edges") {
    import graft.functions.GraftFunctions.exact_percentiles
    val rnd = new scala.util.Random(11)
    // 3 uneven groups, ~15% nulls, duplicate values, 7 partitions so
    // partial-buffer merges really happen; one single-row and one
    // all-null group for the edges
    val rows = (0 until 3000).map { i =>
      val g = if (i % 17 == 0) "b" else if (i % 3 == 0) "a" else "c"
      val v: java.lang.Double =
        if (i % 7 == 3) null else math.rint(rnd.nextDouble() * 500) / 10.0
      (g, v)
    } :+ (("solo", java.lang.Double.valueOf(42.0))) :+ (("allnull", null: java.lang.Double))
    val df = spark.createDataFrame(rows).toDF("g", "x").repartition(7)
    val ps = Seq(0.0, 0.05, 0.25, 0.5, 0.9, 0.95, 1.0)
    val got = df.groupBy("g")
      .agg(exact_percentiles(col("x"), ps).as("p"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    val exp = df.groupBy("g")
      .agg(expr(s"percentile(x, array(${ps.mkString(",")}))").as("p"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
    assert(got.keySet === exp.keySet)
    for (g <- exp.keys) assert(got(g) === exp(g), s"group $g")
    assert(got("allnull") === null, "all-null group yields null like percentile()")
    assert(got("solo") === Seq.fill(ps.length)(42.0))
    intercept[IllegalArgumentException](
      df.groupBy("g").agg(exact_percentiles(col("x"), Seq(1.5))))
  }
}
