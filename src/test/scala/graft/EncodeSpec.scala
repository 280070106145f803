package graft

import graft.operators.Encode
import org.apache.spark.sql.functions._

class EncodeSpec extends SparkSuite {
  import spark.implicits._

  private lazy val df = Seq(
    ("a", 1.0), ("b", 2.0), ("b", 3.0), ("c", 4.0), ("a", 5.0), ("a", 6.0), ("c", 7.0)
  ).toDF("cat", "x")

  test("labelEncode assigns sorted-distinct codes (sklearn classes_ order)") {
    val out = Encode.labelEncode(df, "cat")
      .select("cat", "cat_code").distinct().orderBy("cat")
      .as[(String, Long)].collect()
    assert(out === Array(("a", 0L), ("b", 1L), ("c", 2L)))
  }

  test("labelEncode leaves null input with null code") {
    val withNull = df.union(Seq((null.asInstanceOf[String], 8.0)).toDF("cat", "x"))
    val out = Encode.labelEncode(withNull, "cat")
    assert(out.where(col("cat").isNull && col("cat_code").isNull).count() === 1)
    // and codes are still 0..2 (null excluded from the fit)
    assert(out.agg(max("cat_code")).head().getLong(0) === 2L)
  }

  test("labelEncodeAll matches per-column labelEncode (one fit scan)") {
    val two = df.withColumn("cat2",
      when(col("x") > 3.0, lit("zz")).otherwise(concat(lit("p_"), col("cat"))))
      .union(Seq((null.asInstanceOf[String], 8.0, null.asInstanceOf[String]))
        .toDF("cat", "x", "cat2"))
    val all = Encode.labelEncodeAll(two, Seq("cat", "cat2"))
    val folded = Seq("cat", "cat2").foldLeft(two)((d, c) => Encode.labelEncode(d, c))
    val cols = Seq("cat", "cat2", "x", "cat_code", "cat2_code").map(col)
    assert(all.select(cols: _*).orderBy("x").collect()
      === folded.select(cols: _*).orderBy("x").collect())
    // vocabularies rank independently per column (both start at 0)
    assert(all.agg(min("cat_code"), min("cat2_code")).head() ===
      org.apache.spark.sql.Row(0L, 0L))
    // non-string columns are rejected with a clear message
    val err = intercept[IllegalArgumentException] {
      Encode.labelEncodeAll(two, Seq("x"))
    }
    assert(err.getMessage.contains("string columns"))
  }

  test("fitOn split: fits from the fit frame, applies to the main frame") {
    // vocab comes from fitOn (a,b,c); value "d" in the apply frame is
    // unseen -> null code, like a fitted encoder on new data
    val applyDf = df.union(Seq(("d", 9.0)).toDF("cat", "x"))
    val enc = Encode.labelEncodeAll(applyDf, Seq("cat"), fitOn = Some(df))
    assert(enc.where(col("cat") === "d" && col("cat_code").isNull).count() === 1)
    assert(enc.agg(max("cat_code")).head().getLong(0) === 2L)
    // scale stats come from fitOn: x=1..7 (mu=4), not the apply frame's 1..9
    val sc = Encode.standardScale(applyDf, Seq("x"), fitOn = Some(df))
    val zAt4 = sc.where(col("x") === 4.0).select("x_z").head().getDouble(0)
    assert(math.abs(zAt4) < 1e-12) // mu of the FIT frame is exactly 4
  }

  test("osv5m fit-frame equivalence: fits on osv5mFitFrame equal fits on the full clean") {
    // The q72 contract: the window fill cannot change label vocabularies or
    // scale-column multisets, so estimators fit on Clean.osv5mFitFrame must
    // equal estimators fit on the filled/cleaned frame bit-for-bit.
    import graft.operators.Clean
    import graft.meta.Schemas
    val base = graft.SparkEntry.osv5mFrame(spark, "/root/testdata/sf0.001")
      .withColumn("fill_chunk", floor(col("id") / lit(100L)))
    val fitFrame = Clean.osv5mFitFrame(base)
    val cleaned = Clean.osv5mClean(base, "id", Seq("fill_chunk"))
    val viaFit = Encode.standardScale(
      Encode.labelEncodeAll(cleaned, Schemas.osv5mCategoricals, fitOn = Some(fitFrame)),
      Schemas.osv5mScaleCols, fitOn = Some(fitFrame))
    val viaClean = Encode.standardScale(
      Encode.labelEncodeAll(cleaned, Schemas.osv5mCategoricals),
      Schemas.osv5mScaleCols)
    // z columns agree to 6 decimals (the q72 oracle contract), not
    // bit-for-bit: the two fits aggregate in different plan shapes, and
    // float addition is not associative. Codes and every carried column
    // must be exact.
    val zCols = Schemas.osv5mScaleCols.map(c => s"${c}_z")
    val cols = viaClean.columns.sorted.toSeq.map(c =>
      if (zCols.contains(c)) round(col(c), 6).as(c) else col(c))
    assert(viaFit.select(cols: _*).orderBy("id").collect()
      === viaClean.select(cols: _*).orderBy("id").collect())
  }

  test("standardScale: z-scores have mean ~0 and stddev_pop ~1") {
    val out = Encode.standardScale(df, Seq("x"))
    val r = out.agg(avg("x_z"), stddev_pop("x_z")).head()
    assert(math.abs(r.getDouble(0)) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("standardScale uses population stddev (sklearn ddof=0), not sample") {
    // x = 1..7: mean 4, stddev_pop = sqrt(28/7) = 2 exactly
    val z1 = Encode.standardScale(df, Seq("x"))
      .where(col("x") === 1.0).select("x_z").head().getDouble(0)
    assert(math.abs(z1 - (-1.5)) < 1e-12)
  }

  test("standardScale: an empty or all-null fit gives null z; decimals scale to double") {
    val allNull = Seq(("a", Option.empty[Double]), ("b", None)).toDF("cat", "x")
    for (fit <- Seq(df.limit(0), allNull)) {
      val z = Encode.standardScale(df, Seq("x"), fitOn = Some(fit))
      assert(z.columns === Array("cat", "x", "x_z"))
      assert(z.where(col("x_z").isNotNull).count() === 0)
    }
    // the mean of a decimal is a decimal: x = 1..7 still has z(1) = -1.5
    val dec = Encode.standardScale(df.select(col("x").cast("decimal(10,2)").as("x")), Seq("x"))
    assert(dec.schema("x_z").dataType === org.apache.spark.sql.types.DoubleType)
    assert(math.abs(dec.where(col("x") === 1).head().getAs[Double]("x_z") + 1.5) < 1e-12)
  }

  test("minMaxScale global: output in [0,1], min->0, max->1") {
    val out = Encode.minMaxScale(df, Seq("x"))
    val stats = out.agg(min("x_mm"), max("x_mm")).head()
    assert(stats.getDouble(0) === 0.0 && stats.getDouble(1) === 1.0)
    assert(out.where(col("x_mm") < 0 || col("x_mm") > 1).count() === 0)
  }

  test("minMaxScale per group fits within each group") {
    val out = Encode.minMaxScale(df, Seq("x"), Seq("cat"))
    val perGroup = out.groupBy("cat").agg(min("x_mm"), max("x_mm"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    perGroup.foreach { case (_, lo, hi) => assert(lo === 0.0 && hi === 1.0) }
  }

  // 2k rows, two groups, values 1..1000 per group — percentiles land between
  // data points so exact interpolation and the sketch must both be exercised.
  private lazy val wide = spark.range(2000)
    .select((col("id") % 2).cast("string").as("g"),
      (floor(col("id") / 2) + 1).cast("double").as("x"))

  test("winsorize exact: clamps into the per-group [p05, p95] band") {
    val out = Encode.winsorize(wide, "x", Seq("g"), 0.05, 0.95)
    // per group x = 1..1000 -> p05 = 50.95, p95 = 950.05 (linear interp)
    out.groupBy("g").agg(min("x_w").as("lo"), max("x_w").as("hi")).collect()
      .foreach { r =>
        assert(math.abs(r.getDouble(1) - 50.95) < 1e-9)
        assert(math.abs(r.getDouble(2) - 950.05) < 1e-9)
      }
  }

  test("winsorize approx: sketch band within 2% of the exact band") {
    val exact = Encode.winsorize(wide, "x", Seq("g"), 0.05, 0.95)
      .agg(min("x_w"), max("x_w")).head()
    val approx = Encode.winsorize(wide, "x", Seq("g"), 0.05, 0.95, exact = false)
      .agg(min("x_w"), max("x_w")).head()
    assert(math.abs(approx.getDouble(0) - exact.getDouble(0)) < 0.02 * 1000)
    assert(math.abs(approx.getDouble(1) - exact.getDouble(1)) < 0.02 * 1000)
  }

  test("robustScale exact: median maps to 0, scale is MAD-based") {
    val out = Encode.robustScale(wide, "x", Seq("g"))
    // per group median = 500.5, MAD = 250 -> x=500.5 would be 0; check x=750.5 -> 250/(1.4826*250)
    val z = out.where(col("g") === "0" && col("x") === 750.0)
      .select("x_rz").head().getDouble(0)
    assert(math.abs(z - (750.0 - 500.5) / (1.4826 * 250.0)) < 1e-9)
  }

  test("robustScale approx: within 5% relative of exact on smooth data") {
    val e = Encode.robustScale(wide, "x", Seq("g"))
      .agg(max(abs(col("x_rz")))).head().getDouble(0)
    val a = Encode.robustScale(wide, "x", Seq("g"), exact = false)
      .agg(max(abs(col("x_rz")))).head().getDouble(0)
    assert(math.abs(a - e) / e < 0.05)
  }

  test("robustScale global fit (no group columns) matches the hand formula") {
    // x = 1..7: median 4, MAD = median(|x-4|) = median({3,2,1,0,1,2,3}) = 2
    val out = Encode.robustScale(df, "x", Nil)
    val z4 = out.where(col("x") === 4.0).select("x_rz").head().getDouble(0)
    assert(math.abs(z4) < 1e-12)
    val z7 = out.where(col("x") === 7.0).select("x_rz").head().getDouble(0)
    assert(math.abs(z7 - 3.0 / (1.4826 * 2.0)) < 1e-9)
  }

  test("quantileBin: equi-depth bins, boundary ties bin down, null -> null") {
    val d = (1 to 8).map(i => ("g", i.toDouble)).toDF("g", "x")
    val bins = Encode.quantileBin(d, "x", Seq("g"), 4)
      .orderBy("x").select("x_bin").as[Long].collect()
    assert(bins === Array(0L, 0L, 1L, 1L, 2L, 2L, 3L, 3L))
    // value exactly AT a boundary stays in the lower bin (strict <)
    val tie = Seq(("g", 1.0), ("g", 2.0), ("g", 2.0), ("g", 3.0)).toDF("g", "x")
    val tb = Encode.quantileBin(tie, "x", Seq("g"), 2) // p50 boundary = 2.0
      .orderBy("x").select("x_bin").as[Long].collect()
    assert(tb === Array(0L, 0L, 0L, 1L))
    val withNull = Seq(("g", Some(1.0)), ("g", Some(2.0)), ("g", None))
      .toDF("g", "x")
    assert(Encode.quantileBin(withNull, "x", Seq("g"), 2)
      .where(col("x").isNull).select("x_bin").head().isNullAt(0))
    intercept[IllegalArgumentException](Encode.quantileBin(d, "x", Nil, 1))
  }

  test("parameter guards fail at the call site, naming the operator") {
    intercept[IllegalArgumentException](Encode.standardScale(df, Nil))
    intercept[IllegalArgumentException](Encode.minMaxScale(df, Nil))
    intercept[IllegalArgumentException](Encode.winsorize(df, "x", Nil, 0.9, 0.1))
    intercept[IllegalArgumentException](Encode.winsorize(df, "x", Nil, -0.1, 0.5))
    intercept[IllegalArgumentException](
      Encode.winsorize(df, "x", Nil, 0.05, 0.95, exact = false, accuracy = 0))
    intercept[IllegalArgumentException](
      Encode.robustScale(df, "x", Nil, exact = false, accuracy = 0))
  }
}
