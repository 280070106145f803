package graft

import org.apache.spark.sql.functions._

import graft.sources.Clustering

/** Z-order clustering: key arithmetic, layout write, and the pruning
  * claim the layout exists for. */
class ClusteringSpec extends SparkSuite {
  import spark.implicits._

  test("equiWidthBucket is an exact int64 quotient across the full range") {
    // epoch-microsecond-scale values whose (x - mn) * 2^bits exceeds 2^53:
    // a double round-trip would misbucket near-boundary points.
    val mn = 1700000000000000L
    val mx = mn + 31557600000000L // ~1 year of micros
    val span1 = mx - mn + 1L
    val bucketOf = (x: Long) => ((x - mn) * 1024L) / span1
    // straddle a bucket boundary exactly
    val edge = mn + (span1 / 1024L) * 513L
    val xs = Seq(mn, mx, edge - 1, edge, edge + 1, mn + 12345678901L)
    val got = xs.toDF("x")
      .select(Clustering.equiWidthBucket(col("x"), lit(mn), lit(mx), 10).as("b"))
      .as[Long].collect().toSeq
    assert(got === xs.map(bucketOf))
    assert(got.head === 0L && got(1) === 1023L)
  }

  test("zValue interleaves bits with the first column most significant") {
    // 2-bit example: a=0b10, b=0b01 -> key bits a1 b1 a0 b0 = 0b1001 = 9
    val got = Seq((2L, 1L)).toDF("a", "b")
      .select(Clustering.zValue(Seq(col("a"), col("b")), 2).as("z"))
      .as[Long].head()
    assert(got === 9L)
    // exhaustive 3-bit x 3-bit grid against a reference interleave
    def ref(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i => (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))).sum
    val grid = for (a <- 0L until 8L; b <- 0L until 8L) yield (a, b)
    val zs = grid.toDF("a", "b")
      .select(col("a"), col("b"), Clustering.zValue(Seq(col("a"), col("b")), 3).as("z"))
      .as[(Long, Long, Long)].collect()
    zs.foreach { case (a, b, z) => assert(z === ref(a, b, 3), s"($a, $b)") }
    // the z-curve is a bijection on the grid
    assert(zs.map(_._3).distinct.length === 64)
  }

  test("zOrderWrite preserves rows and prunes a 2-D box better than a linear sort") {
    val n = 4096
    // two independent uniform dims — the shape where a linear sort helps
    // one dimension only
    val df = spark.range(n.toLong).select(
      (pmod(hash(col("id")), lit(1000)) + lit(1000)).cast("long").as("a"),
      (pmod(hash(col("id") * 7 + 3), lit(1000)) + lit(5000)).cast("long").as("b"),
      col("id"))
    val base = tempDir("zorder")
    val zDir = s"$base/z"
    val linDir = s"$base/lin"
    Clustering.zOrderWrite(df, Seq("a", "b"), bits = 8, zDir, nFiles = 16)
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(linDir)

    // multiset-identical rows, zkey/bucket columns not persisted
    val back = spark.read.parquet(zDir)
    assert(back.columns.sorted === Array("a", "b", "id"))
    assert(back.count() === n.toLong)
    assert(back.join(df, Seq("a", "b", "id"), "left_anti").count() === 0L)

    // a selective box on BOTH dims: linear layout prunes on `a` only, the
    // z-order layout must also prune on `b` — strictly fewer files.
    val box = Seq(("a", 1100L, 1200L), ("b", 5100L, 5200L))
    val (zTouched, zTotal) = Clustering.filesTouched(spark, zDir, box)
    val (lTouched, lTotal) = Clustering.filesTouched(spark, linDir, box)
    assert(zTotal === 16L && lTotal === 16L)
    assert(zTouched < lTouched,
      s"z-order touched $zTouched files, linear sort touched $lTouched")
    assert(zTouched <= 6L, s"z-order pruning too weak: $zTouched/16 files")
  }

  test("rank-bucketed z-order keeps pruning on a Zipfian key where equi-width collapses") {
    val n = 4096
    // user_id log-uniform over [1, 100000] (pdf ~ 1/v — the Zipf shape of
    // the events table's own user semantics): ~half the rows land in the
    // lowest ~0.4% of the VALUE range, so equi-width buckets pack them
    // into bucket 0 and the user dimension stops contributing bits the
    // z-curve can spread on. ts stays uniform.
    val df = spark.range(n.toLong).select(
      expr("CAST(exp(pmod(hash(id), 1048576) / 1048576.0 * ln(100000.0)) AS BIGINT)")
        .as("user_id"),
      (pmod(hash(col("id") * 7 + 3), lit(1000)) + lit(5000)).cast("long").as("ts"),
      col("id"))
    val base = tempDir("zorder_zipf")
    val eqDir = s"$base/eq"
    val rkDir = s"$base/rk"
    Clustering.zOrderWrite(df, Seq("user_id", "ts"), bits = 8, eqDir, nFiles = 16)
    Clustering.zOrderWrite(df, Seq("user_id", "ts"), bits = 8, rkDir, nFiles = 16,
      ranked = true)
    // rows survive the ranked rewrite too
    val back = spark.read.parquet(rkDir)
    assert(back.count() === n.toLong)
    assert(back.join(df, Seq("user_id", "ts", "id"), "left_anti").count() === 0L)
    // a selective box INSIDE the dense region on both dims — the normal
    // query shape (hot cohort x narrow window)
    val box = Seq(("user_id", 10L, 20L), ("ts", 5100L, 5200L))
    val (eqTouched, eqTotal) = Clustering.filesTouched(spark, eqDir, box)
    val (rkTouched, rkTotal) = Clustering.filesTouched(spark, rkDir, box)
    assert(eqTotal === 16L && rkTotal === 16L)
    assert(rkTouched < eqTouched,
      s"rank buckets touched $rkTouched files, equi-width touched $eqTouched")
    // the VERDICT bar: rank bucketing on a Zipfian key prunes like
    // equi-width does on UNIFORM keys (<= 6/16, the uniform test's bound)
    assert(rkTouched <= 6L, s"rank-bucket pruning too weak: $rkTouched/16 files")
  }

  test("rankBucket binary lifting equals the linear rank count, duplicates included") {
    // reference semantic: bucket = count of splits <= x (the linear
    // filter scan the lifting replaced); duplicate splits and exact
    // boundary hits must land identically
    val splits = Seq(1.0, 2.0, 2.0, 2.0, 5.0, 7.5, 7.5)
    val xs = Seq(0.0, 1.0, 1.5, 2.0, 4.9, 5.0, 7.5, 9.0)
    val got = xs.toDF("x")
      .select(Clustering.rankBucket(col("x"), splits).as("b"))
      .as[Long].collect().toSeq
    assert(got === xs.map(x => splits.count(s => x >= s).toLong))
    // null flows to null; empty splits bucket everything to 0
    val nulls = Seq[Option[Double]](Some(3.0), None).toDF("x")
      .select(Clustering.rankBucket(col("x"), splits).as("b"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(nulls.toSeq === Seq(Some(4L), None))
    assert(Seq(1.0).toDF("x")
      .select(Clustering.rankBucket(col("x"), Seq.empty).as("b"))
      .as[Long].head() === 0L)
  }

  test("rankBucket lifting equals the linear count on randomized split tables") {
    // seeded randomized sweep over split-table sizes (including non-
    // powers of two, where the lifting's step ladder overshoots and must
    // clamp) and duplicate-heavy integer-valued splits (exact boundary
    // collisions by construction)
    val rnd = new scala.util.Random(77)
    for (trial <- 0 until 20) {
      val m = rnd.nextInt(40) + 1
      val splits = Seq.fill(m)(rnd.nextInt(20).toDouble).sorted
      val xs = Seq.fill(30)(rnd.nextInt(25).toDouble - 2.0)
      val got = xs.toDF("x")
        .select(Clustering.rankBucket(col("x"), splits).as("b"))
        .as[Long].collect().toSeq
      assert(got === xs.map(x => splits.count(s => x >= s).toLong),
        s"trial $trial m=$m splits=$splits")
    }
  }

  test("withZKey fails loudly on a span that would overflow int64; rank map handles it") {
    // hash-valued longs: span ~ Long range, (x - mn) * 2^bits wraps
    val wide = Seq(Long.MinValue / 2, 0L, Long.MaxValue / 2).toDF("h")
      .withColumn("id", lit(1L))
    val e = intercept[Exception](
      Clustering.withZKey(wide, Seq("h"), bits = 8).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("overflow int64")),
      s"unexpected chain: ${chain(e).mkString(" | ")}")
    // the rank map has no span constraint — buckets come from quantile
    // rank, not value arithmetic
    val zk = Clustering.withRankZKey(wide, Seq("h"), bits = 8)
      .select("zkey").as[Long].collect()
    assert(zk.length === 3 && zk.forall(_ >= 0L))
  }

  test("withZKey catches a span whose SUBTRACTION wraps (full-range longs)") {
    // mx - mn itself overflows past 2^63 for columns straddling ±2^62 —
    // the exact hash-valued-longs case the guard cites; a wrapped-NEGATIVE
    // span used to sail through the `> maxSpan` compare and admit a
    // garbage layout silently
    val full = Seq(Long.MinValue, -1L, 0L, Long.MaxValue).toDF("h")
    val e = intercept[Exception](
      Clustering.withZKey(full, Seq("h"), bits = 4).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("overflow int64")),
      s"unexpected chain: ${chain(e).mkString(" | ")}")
  }

  test("withZKey span guard fires OUR message under BOTH ANSI modes") {
    // spark.sql.ansi.enabled flips raw long arithmetic between silent
    // wraparound (false) and an opaque ARITHMETIC_OVERFLOW throw (true,
    // the Spark 4 default). The try_subtract-based guard must reach its
    // loud message either way. Repo-wide audit (r17): the z-order
    // equi-width path is the ONLY place an unbounded user-supplied int64
    // enters -/* in Catalyst — every other arithmetic site operates on
    // bounded quantities (ranks, positions, counts, string lengths,
    // percentiles) and full-range keys otherwise only meet pmod/xxhash64/
    // bitwise ops, which cannot overflow.
    val full = Seq(Long.MinValue, -1L, 0L, Long.MaxValue).toDF("h")
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    try {
      for (mode <- Seq("true", "false")) {
        spark.conf.set(key, mode)
        val e = intercept[Exception](
          Clustering.withZKey(full, Seq("h"), bits = 4).collect())
        assert(chain(e).exists(_.contains("overflow int64")),
          s"ansi=$mode: guard did not fire first: ${chain(e).mkString(" | ")}")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("withRankZKeySplits matches the fitted rank path and validates its contract") {
    val df = spark.range(1000).select(col("id"),
      (col("id") * col("id")).as("a"), (col("id") % 7).as("b"))
    // explicit splits = the same exact-percentile cuts the fitted path
    // derives at relativeError ~ 0 -> identical buckets and zkey
    val probs = (1 until 8).map(_ / 8.0).toArray
    val fitted = Clustering.withRankZKey(df, Seq("a", "b"), bits = 3,
      relativeError = 1e-9)
    val cuts = df.stat.approxQuantile(Array("a", "b"), probs, 1e-9)
    val explicit = Clustering.withRankZKeySplits(df,
      Seq("a" -> cuts(0).toSeq, "b" -> cuts(1).toSeq))
    assert(fitted.select("id", "zkey").except(
      explicit.select("id", "zkey")).isEmpty)
    // contract violations fail loudly: mismatched split counts, a count
    // that is not 2^bits - 1, and the rank path's bits cap (plan-size:
    // 2^bits - 1 doubles embed as literals per column)
    intercept[IllegalArgumentException](Clustering.withRankZKeySplits(df,
      Seq("a" -> Seq(1.0, 2.0, 3.0), "b" -> Seq(1.0))))
    intercept[IllegalArgumentException](Clustering.withRankZKeySplits(df,
      Seq("a" -> Seq(1.0, 2.0))))
    intercept[IllegalArgumentException](
      Clustering.withRankZKey(df, Seq("a"), bits = 13))
  }
}
