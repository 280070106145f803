package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType}
import org.apache.spark.sql.Row

import graft.meta.Tables

/** The driver's testdata has changed `events.ts`'s physical parquet type
  * between rounds (int64 nanos → timestamp[us]), silently breaking every
  * events query. `Tables.load` must normalize EITHER generation to
  * TIMESTAMP_NTZ — never assume the physical type again.
  */
class TablesSpec extends SparkSuite {

  /** Write `df` as `events.parquet` under a fresh temp dir, return the dir. */
  private def stage(df: org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory("graft_tables_spec").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val wall = LocalDateTime.of(2024, 3, 1, 12, 34, 56, 789000000)

  test("load(events) normalizes int64-nanos generation to TIMESTAMP_NTZ") {
    val nanos = 1709296496L * 1000000000L + 789000000L // 2024-03-01T12:34:56.789 UTC
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, nanos)), schema)
    val sfDir = stage(df)
    val loaded = Tables.load(spark, sfDir, "events")
    assert(loaded.schema("ts").dataType == TimestampNTZType)
    val got = loaded.select("ts").head.getAs[LocalDateTime]("ts")
    assert(got == wall)
  }

  test("load(events) passes timestamp[us] NTZ generation through unchanged") {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, wall)), schema)
    val sfDir = stage(df)
    val loaded = Tables.load(spark, sfDir, "events")
    assert(loaded.schema("ts").dataType == TimestampNTZType)
    assert(loaded.select("ts").head.getAs[LocalDateTime]("ts") == wall)
  }

  test("load(events) leaves the session conf as it found it") {
    // The session factory (TestSpark's too) sets the legacy nanos conf up
    // front; a load that set it itself would make later reads depend on
    // which query loaded events first.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.get(key) === "true")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType)))
    val sfDir = stage(spark.createDataFrame(java.util.Arrays.asList(Row(1L, wall)), schema))
    val original = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val before = spark.conf.getAll.toSet
      Tables.load(spark, sfDir, "events").collect()
      val after = spark.conf.getAll.toSet
      assert(after === before, s"set: ${after -- before}, unset: ${before -- after}")
    } finally original.foreach(spark.conf.set(key, _))
  }

  test("load(events) casts a TIMESTAMP_LTZ generation to NTZ (UTC session)") {
    import spark.implicits._
    // Spark writes TimestampType as isAdjustedToUTC=true micros — the LTZ arm.
    val df = Seq((1L, Timestamp.valueOf("2024-03-01 12:34:56.789")))
      .toDF("event_id", "ts")
    val sfDir = stage(df)
    val loaded = Tables.load(spark, sfDir, "events")
    assert(loaded.schema("ts").dataType == TimestampNTZType)
    assert(loaded.select("ts").head.getAs[LocalDateTime]("ts") == wall)
  }

  test("real driver testdata events loads with NTZ ts and non-null values") {
    val loaded = Tables.events(spark, sf)
    assert(loaded.schema("ts").dataType == TimestampNTZType)
    assert(loaded.where(col("ts").isNotNull).limit(1).count() == 1L)
  }

  /** Write `df` as `<name>.parquet` under a fresh temp dir, return the dir. */
  private def stageAs(name: String, df: org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory("graft_tables_spec").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    dir
  }

  test("load(documents) pins an int32 id generation to BIGINT; values intact") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val schema = StructType(Seq(
      StructField("doc_id", IntegerType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", IntegerType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(7, "body text", "en", "web", 9)), schema)
    val loaded = Tables.load(spark, stageAs("documents", df), "documents")
    assert(loaded.schema("doc_id").dataType == LongType)
    assert(loaded.schema("n_chars").dataType == LongType)
    val r = loaded.head
    assert(r.getAs[Long]("doc_id") == 7L && r.getAs[Long]("n_chars") == 9L
      && r.getAs[String]("text") == "body text")
  }

  test("load(embeddings) pins an int32 vec_id; float AND double element generations load") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType}
    for (elem <- Seq(FloatType, DoubleType)) {
      val schema = StructType(Seq(
        StructField("vec_id", IntegerType),
        StructField("embedding", ArrayType(elem))))
      val vec: Seq[Any] =
        if (elem == FloatType) Seq(0.5f, -1.25f) else Seq(0.5, -1.25)
      val df = spark.createDataFrame(
        java.util.Arrays.asList(Row(3, vec)), schema)
      val loaded = Tables.load(spark, stageAs("embeddings", df), "embeddings")
      assert(loaded.schema("vec_id").dataType == LongType, s"elem=$elem")
      // consumers cast the element width themselves — both generations
      // must survive the cast with exact values (0.5/-1.25 are dyadic)
      val got = loaded.select(col("embedding").cast("array<double>"))
        .head.getSeq[Double](0)
      assert(got == Seq(0.5, -1.25), s"elem=$elem got $got")
    }
  }

  test("real driver testdata documents/embeddings load with BIGINT ids") {
    val d = Tables.documents(spark, sf)
    assert(d.schema("doc_id").dataType == LongType
      && d.schema("n_chars").dataType == LongType)
    val e = Tables.embeddings(spark, sf)
    assert(e.schema("vec_id").dataType == LongType)
    assert(d.limit(1).count() == 1L && e.limit(1).count() == 1L)
  }

  test("Compaction: many tiny files -> few target-size files, content-identical") {
    import graft.sources.Compaction
    val root = Files.createTempDirectory("graft_compaction").toString
    val in = s"$root/in"
    // 40 tiny files of 500 rows each
    spark.range(20000).selectExpr("id", "id * 2 AS v")
      .repartition(40).write.parquet(in)
    val inFiles = new java.io.File(in).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(inFiles === 40)
    val bytes = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // target = half the data -> 2 output files
    val out = s"$root/out"
    val stats = Compaction.compact(spark, in, out, targetBytes = (bytes + 1) / 2)
    assert(stats.filesBefore === 40 && stats.filesAfter === 2, stats)
    // multiset-identical content
    val a = spark.read.parquet(in).orderBy("id").collect()
    val b = spark.read.parquet(out).orderBy("id").collect()
    assert(a === b)
    // refuses to clobber; requires existing input
    val e1 = intercept[IllegalArgumentException](
      Compaction.compact(spark, in, out))
    assert(e1.getMessage.contains("clobber"))
    val e2 = intercept[IllegalArgumentException](
      Compaction.compact(spark, s"$root/nope", s"$root/out2"))
    assert(e2.getMessage.contains("does not exist"))
    // shuffle mode: same content, evenly sized files
    val out2 = s"$root/out_shuffled"
    val s2 = Compaction.compact(spark, in, out2,
      targetBytes = (bytes + 1) / 2, shuffle = true)
    assert(s2.filesAfter === 2)
    assert(spark.read.parquet(out2).orderBy("id").collect() === a)
  }

  test("SplitLayout: small and multi-file inputs pass through untouched") {
    import graft.sources.SplitLayout
    // a sub-threshold single file stays monolithic
    val dir = Files.createTempDirectory("graft_split_spec").toFile
    val small = new java.io.File(dir, "small.parquet")
    spark.range(10).coalesce(1).write.parquet(small.getPath + ".d")
    // (a directory — i.e. any multi-file layout — is never rewritten)
    assert(SplitLayout.normalized(spark, small.getPath + ".d") == small.getPath + ".d")
    assert(SplitLayout.normalized(spark, "/nonexistent/x.parquet")
      == "/nonexistent/x.parquet")
  }

  /** ~200 KB single parquet file (above SplitLayout's 128 KB threshold),
    * written by one task into a fresh temp dir. */
  private def bigMonolithic(prefix: String): java.io.File = {
    val dir = Files.createTempDirectory(prefix).toFile
    val src = new java.io.File(dir, "big.parquet")
    val df = spark.range(20000).selectExpr("id", "repeat('x', id % 37) AS pad",
      "CAST(id * 1.5 AS DOUBLE) AS v")
    df.coalesce(1).write.parquet(src.getPath + ".tmp")
    val part = new java.io.File(src.getPath + ".tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, src.toPath)
    assume(src.length() >= 128L * 1024, s"fixture too small: ${src.length()}")
    src
  }

  test("SplitLayout: a big monolithic file rewrites once, content-identical") {
    import graft.sources.SplitLayout
    val src = bigMonolithic("graft_split_spec2")
    val norm = SplitLayout.normalized(spark, src.getPath)
    assert(norm != src.getPath, "big monolithic file must be rewritten")
    val files = new java.io.File(norm).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files > 1, s"rewrite produced $files file(s), expected a split layout")
    // byte-identical content (same rows, same values)
    val a = spark.read.parquet(src.getPath).orderBy("id").collect()
    val b = spark.read.parquet(norm).orderBy("id").collect()
    assert(a === b)
    // second call is a pure cache hit (same path, no re-write)
    val mtime = new java.io.File(norm, "_SUCCESS").lastModified()
    assert(SplitLayout.normalized(spark, src.getPath) == norm)
    assert(new java.io.File(norm, "_SUCCESS").lastModified() == mtime)
  }

  test("SplitLayout: the cache key includes the file count (core count)") {
    import graft.sources.SplitLayout
    val src = bigMonolithic("graft_split_spec3")
    // a 4-core run and a 32-core run must not share one rewrite: the first
    // writer's file count would fix every later run's scan width
    assert(SplitLayout.cacheDir(src.getPath, 4) != SplitLayout.cacheDir(src.getPath, 32))
    val files = spark.sparkContext.defaultParallelism.max(2)
    assert(SplitLayout.normalized(spark, src.getPath) ==
      SplitLayout.cacheDir(src.getPath, files).getPath)
  }
}
