package graft

import graft.operators.{Audit, Clean}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Cleaning pipeline vs the reference's process_batch semantics
  * (read_csv_s3_train.py:57-118) on the FIXTURES.md §B osv5m-shaped fixture. */
class CleanSpec extends SparkSuite {
  import spark.implicits._

  // Minimal osv5m-shaped fixture: NA-ish tokens, whitespace, null runs at
  // head AND tail (ffill-then-bfill ordering), null captured_at, '<NA>'.
  private lazy val fixture = {
    val schema = StructType(Seq(
      StructField("idx", LongType),
      StructField("id", LongType),
      StructField("country", StringType),
      StructField("city", StringType),
      StructField("captured_at", LongType),
      StructField("road_index", DoubleType),
      StructField("creator_username", StringType)))
    val rows = Seq(
      Row(0L, 1L, null, null, 1704067200000L, 1.0, null),          // head null run
      Row(1L, 2L, "  France ", "Paris", null, null, "alice"),
      Row(2L, 3L, "NA", "  Lyon ", 1704153600000L, 3.0, "<NA>"),
      Row(3L, 4L, "Japan", null, 1704240000000L, 4.0, "bob"),
      Row(4L, 5L, null, null, 1704326400000L, null, null))         // tail null run
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  test("sentinelsToNull maps the reference NA tokens to null") {
    val out = Clean.sentinelsToNull(fixture, Seq("country"), Seq("", " ", "NA", "NULL"))
    assert(out.where(col("country") === "NA").count() === 0)
    assert(out.where(col("country").isNull).count() === 3) // 2 nulls + "NA"
  }

  test("trim strips whitespace like .str.strip()") {
    val out = Clean.trimColumns(fixture, Seq("country", "city"))
    val vals = out.select("country").as[String].collect().toSet
    assert(vals.contains("France"))
    assert(out.where(col("city") === "Lyon").count() === 1)
  }

  test("epoch-ms -> timestamp with null coercion, 1970/1/1 date-part sentinels") {
    val ts = Clean.epochMillisToTimestamp(fixture, "captured_at", "captured_ts")
    val parts = Clean.dateParts(ts, "captured_ts")
    val nullRow = parts.where(col("idx") === 1).select("year", "month", "day").head()
    assert(nullRow === Row(1970, 1, 1))
    val okRow = parts.where(col("idx") === 0).select("year", "month", "day").head()
    assert(okRow === Row(2024, 1, 1))
  }

  test("ffill then bfill matches pandas ffill().bfill() incl. head/tail runs") {
    val out = Clean.fillForwardBackward(fixture, Seq("city"), Seq("idx"))
      .orderBy("idx").select("city").as[String].collect()
    // pandas: [null,Paris,Lyon(raw has ws -> not trimmed here),null,null]
    //   ffill: [null, Paris, "  Lyon ", "  Lyon ", "  Lyon "]
    //   bfill fills head null with first non-null = Paris
    assert(out === Array("Paris", "Paris", "  Lyon ", "  Lyon ", "  Lyon "))
  }

  test("wide-frame fill equals the narrow frame's fill, including null partition keys") {
    // More ride-along columns than fill columns, a null partition key
    // (a contract violation the windows must group like any other key),
    // and head/tail null runs within each group.
    val base = Seq(
      (0L, Option("g1"), Option.empty[String], "x"),
      (1L, Option("g1"), Option("a"), "x"),
      (2L, Option("g1"), Option.empty[String], "x"),
      (3L, Option.empty[String], Option("z"), "x"),
      (4L, Option.empty[String], Option.empty[String], "x"),
      (5L, Option("g2"), Option.empty[String], "x"))
      .toDF("idx", "grp", "v", "r1")
      .withColumn("r2", lit(1)).withColumn("r3", lit(2.0))
    assert(base.columns.count(c => !Seq("idx", "grp", "v").contains(c)) > 1)
    val wide = Clean.fillForwardBackward(base, Seq("v"), Seq("idx"), Seq("grp"))
    // the same fill over the keys and targets alone
    val inline = Clean.fillForwardBackward(
      base.select("idx", "grp", "v"), Seq("v"), Seq("idx"), Seq("grp"))
    assert(wide.count() === 6) // null-key rows survive the fill
    assert(wide.select("idx", "grp", "v").orderBy("idx").collect()
      === inline.orderBy("idx").collect())
    assert(wide.columns === base.columns) // caller's column order kept
    // and the fill itself is right: g1 = all "a", null group = all "z"
    val byIdx = wide.orderBy("idx").select("v").as[String].collect()
    assert(byIdx === Array("a", "a", "a", "z", "z", null))
  }

  test("replaceSentinel handles the '<NA>' artifact") {
    val out = Clean.replaceSentinel(fixture, "creator_username", "<NA>", lit("Unknown"))
    assert(out.where(col("creator_username") === "<NA>").count() === 0)
    assert(out.where(col("creator_username") === "Unknown").count() === 1)
  }

  test("fillString + fillNumeric leave no nulls in target columns") {
    val out = Clean.fillNumeric(
      Clean.fillString(fixture, "Unknown", Seq("creator_username")))
    assert(out.where(col("creator_username").isNull).count() === 0)
    assert(out.where(col("road_index").isNull).count() === 0)
    assert(Audit.totalNulls(out.select("creator_username", "road_index", "captured_at")) === 0)
  }

  test("null audit counts per column in one pass") {
    val long = Audit.nullCountsLong(fixture.select("country", "city", "road_index"))
    val m = long.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m === Map("country" -> 2, "city" -> 3, "road_index" -> 2))
  }

  test("null audit of an empty frame counts 0 nulls and passes the assertion") {
    val empty = fixture.limit(0).select("country", "road_index")
    assert(Audit.nullCounts(empty).collect() === Array(Row(0L, 0L, 0L)))
    assert(Audit.totalNulls(empty) === 0L)
    Audit.assertNoNulls(empty)
    assert(Audit.profile(empty, Seq("country")).select("n_null").collect() === Array(Row(0L)))
  }

  test("schemaEcho lists fields in schema order with dtype and nullability") {
    val echo = Audit.schemaEcho(spark,
      fixture.select("country", "road_index", "captured_at"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getBoolean(3)))
    assert(echo.map(t => (t._1, t._2)) === Array((0, "country"), (1, "road_index"), (2, "captured_at")))
    assert(echo(1)._3 === "double")
    // a catalog read, not a scan: identical on an empty frame
    val empty = Audit.schemaEcho(spark, fixture.limit(0).select("country"))
    assert(empty.collect().map(_.getString(1)) === Array("country"))
  }

  test("chunk-scoped fill never crosses chunk boundaries (read_csv_s3_train.py:47,77-80)") {
    // The reference fills within each 100k-row CSV chunk only: process_batch
    // runs ffill().bfill() per chunk, so a null run at a chunk head is
    // filled by bfill WITHIN that chunk, never by ffill from the previous
    // chunk's tail. Model it with width-4 chunks: value present only at one
    // idx per chunk; every other row must take THAT chunk's value.
    val rows = (0L until 16L).map { i =>
      val chunk = i / 4
      // chunk c carries its value only at in-chunk position (c % 4)
      val v = if (i % 4 == chunk % 4) Some(s"c$chunk") else None
      (i, chunk, v)
    }
    val df = rows.toDF("idx", "fill_chunk", "v")
    val filled = Clean.fillForwardBackward(df, Seq("v"), Seq("idx"), Seq("fill_chunk"))
      .orderBy("idx").select("v").as[String].collect()
    assert(filled === (0L until 16L).map(i => s"c${i / 4}").toArray)
    // contrast: the unpartitioned fill WOULD leak c0 across the c1 head run
    val global = Clean.fillForwardBackward(df.drop("fill_chunk"), Seq("v"), Seq("idx"))
      .orderBy("idx").select("v").as[String].collect()
    assert(global(4) === "c0") // idx=4 is a null at chunk 1's head; ffill leaks c0
  }

  test("fillForwardBackward rejects no-order and key-overlapping fill columns") {
    val d = Seq((1, "a"), (2, null.asInstanceOf[String])).toDF("k", "v")
    intercept[IllegalArgumentException](Clean.fillForwardBackward(d, Seq("v"), Nil))
    intercept[IllegalArgumentException](Clean.fillForwardBackward(d, Seq("k"), Seq("k")))
    intercept[IllegalArgumentException](
      Clean.fillForwardBackward(d, Seq("v"), Seq("k"), partitionCols = Seq("v")))
  }
}
