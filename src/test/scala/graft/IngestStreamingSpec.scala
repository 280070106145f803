package graft

import java.nio.file.Files

import graft.sources.Ingest
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class IngestStreamingSpec extends SparkSuite {
  import spark.implicits._

  test("csvTyped: explicit schema, NA tokens -> null, permissive bad rows (S2)") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Files.writeString(java.nio.file.Path.of(s"$dir/part.csv"),
      "id,name,score\n1,alice,2.5\n2,,3.5\n3,NA,1.0\nnot_a_long,bob,9.9\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val df = Ingest.normalizeNaTokens(
      Ingest.csvTyped(spark, dir, schema), Seq("", " ", "NA", "NULL"))
    assert(df.count() === 4)
    assert(df.where(col("name").isNull).count() === 2) // "" and "NA"
    assert(df.where(col("id").isNull).count() === 1)   // malformed long -> null
  }

  test("csvTyped corrupt-record column captures malformed rows verbatim (S2)") {
    val dir = Files.createTempDirectory("graft_csv_bad").toString
    Files.writeString(java.nio.file.Path.of(s"$dir/part.csv"),
      "id,name,score\n1,alice,2.5\nnot_a_long,bob,9.9\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    // Spark disallows querying ONLY the corrupt column straight off a raw
    // CSV scan — cache the parsed result first (documented Spark behavior).
    val df = Ingest.csvTyped(spark, dir, schema, corruptColumn = Some("_bad")).cache()
    try {
      assert(df.where(col("_bad").isNotNull).count() === 1)
      assert(df.where(col("_bad").isNotNull).select("_bad").head().getString(0)
        === "not_a_long,bob,9.9")
      assert(df.where(col("_bad").isNull).count() === 1)
    } finally df.unpersist() // shared session: don't orphan a SQL-cache entry
  }

  test("bucketed layout: equi-join on the bucket key plans without a shuffle") {
    import graft.sources.BucketedLayout
    val dir = Files.createTempDirectory("graft_bucket").toString
    val li = graft.meta.Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val or = graft.meta.Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so "no Exchange" can only mean bucketing
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one file per bucket (writeBucketed repartitions onto the bucket
      // hash) + this conf = the scan exposes the bucket-file sort order
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      BucketedLayout.writeBucketed(li, "graft_bl_li", s"$dir/li",
        Seq("l_orderkey"), 4, sortCols = Seq("l_orderkey"))
      BucketedLayout.writeBucketed(or, "graft_bl_or", s"$dir/or",
        Seq("o_orderkey"), 4, sortCols = Seq("o_orderkey"))
      val j = BucketedLayout.readBucketed(spark, "graft_bl_li")
        .join(BucketedLayout.readBucketed(spark, "graft_bl_or"),
          col("l_orderkey") === col("o_orderkey"))
      assert(j.count() === li.count()) // every lineitem has its order
      val jPlan = j.queryExecution.executedPlan.toString
      assert(!jPlan.contains("Exchange"),
        "bucketed-by-key join still shuffled:\n" + jPlan)
      // bucket-sorted SMJ: no Sort node on either side ("Sort [" is the
      // operator print; SortMergeJoin itself doesn't match it)
      assert(!jPlan.contains("Sort ["),
        "bucket-sorted join still re-sorts:\n" + jPlan)
      // aggregation on the bucket key is shuffle-free too (partial+final
      // collapse onto the bucketed distribution)
      val agg = BucketedLayout.readBucketed(spark, "graft_bl_li")
        .groupBy("l_orderkey").count()
      agg.count()
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        "bucketed-by-key aggregation still shuffled")
      // sensitivity control: the same files read WITHOUT bucket metadata
      // (plain parquet path scan) must shuffle — proves the assertion above
      // is detecting the layout, not a quirk of the plan printer.
      val plain = spark.read.parquet(s"$dir/li")
        .join(spark.read.parquet(s"$dir/or"), col("l_orderkey") === col("o_orderkey"))
      plain.count()
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS graft_bl_li")
      spark.sql("DROP TABLE IF EXISTS graft_bl_or")
    }
  }

  test("object-store URIs: sources and sinks resolve a non-file scheme end to end (S2/S8/K1/K4/K5)") {
    import graft.sources.ObjectStore
    // the no-egress twin of configuring fs.s3a.impl: registers a scheme
    // whose URIs (s3stub://bucket/key) flow through the SAME Hadoop
    // FileSystem resolution every remote store uses
    ObjectStore.installStub(spark)
    val local = Files.createTempDirectory("graft_s3stub").toString
    val base = ObjectStore.stubUri("test-bucket", local)
    val df = Seq((1L, "alice", 2.5), (2L, "bob", 3.5)).toDF("id", "name", "score")
    // sinks through the remote-style scheme (K1 csv, K4 parquet)
    df.write.option("header", "true").csv(s"$base/csv")
    df.write.parquet(s"$base/pq")
    // S2 typed scan back through the scheme
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    assert(Ingest.csvTyped(spark, s"$base/csv", schema).count() === 2)
    assert(spark.read.parquet(s"$base/pq").count() === 2)
    // S8 listing: qualified paths keep the store's scheme + bucket
    val paths = Ingest.listFiles(spark, s"$base/csv", "*.csv")
      .select("path").as[String].collect()
    assert(paths.nonEmpty)
    assert(paths.forall(_.startsWith("s3stub://test-bucket/")), paths.mkString(","))
    // K5 delete-after-ingest resolves the same URIs for the GC pass
    graft.operators.Media.deleteConsumed(spark, paths.toSeq)
    assert(Ingest.binaryFiles(spark, s"$base/csv", "*.csv").count() === 0)
    // and the objects are really gone from the backing store
    val left = Option(new java.io.File(s"$local/csv").listFiles()).toSeq.flatten
    assert(!left.exists(_.getName.endsWith(".csv")), left.mkString(","))
  }

  test("filterSuffix keeps only matching paths (P3)") {
    val df = Seq("a/part_1.zip", "a/readme.md", "b/part_2.ZIPX", "c/x.zip").toDF("path")
    val out = Ingest.filterSuffix(df, "path", Seq(".zip")).as[String].collect().sorted
    assert(out === Array("a/part_1.zip", "c/x.zip"))
  }

  private def writeEventsParquet(): (String, StructType) = {
    val dir = Files.createTempDirectory("graft_stream").toString
    val df = Seq(
      (1L, "2024-01-01 00:05:00", "click", 1.0),
      (2L, "2024-01-01 00:15:00", "click", 2.0),
      (3L, "2024-01-01 00:20:00", "view", 3.0),
      (4L, "2024-01-01 01:10:00", "click", 4.0),
      (1L, "2024-01-01 00:05:00", "click", 1.0) // duplicate of event 1
    ).toDF("event_id", "ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    (dir, df.schema)
  }

  test("streaming windowed counts with watermark over a file source (§2.11)") {
    val (dir, schema) = writeEventsParquet()
    val stream = EventStreams.readFileStream(spark, dir, schema)
    val agg = EventStreams.windowedCounts(stream, "ts", "1 hour")
    EventStreams.drainToMemory(agg, "win_counts", outputMode = "complete")
    val got = spark.table("win_counts")
      .select(col("window.start").cast("string").as("w"), col("event_type"), col("n"))
      .orderBy("w", "event_type")
      .as[(String, String, Long)].collect()
    assert(got === Array(
      ("2024-01-01 00:00:00", "click", 3L),
      ("2024-01-01 00:00:00", "view", 1L),
      ("2024-01-01 01:00:00", "click", 1L)))
  }

  test("streaming windowed counts over the REAL events.parquet match batch (§2.11)") {
    // The in-test synthesized events never caught the round-9 testdata type
    // drift (int64-nanos -> timestamp[us]); this test pins the streaming path
    // against the driver's actual file, normalized exactly as Tables.load does.
    // the file-stream source requires a directory: stage the driver's file
    // (same bytes) into a temp dir rather than synthesizing a substitute
    val src = new java.io.File(s"$sf/events.parquet")
    val dir = Files.createTempDirectory("graft_real_events").toString
    Files.copy(src.toPath, java.nio.file.Path.of(dir, "events.parquet"))
    // the int64-nanos testdata generation throws on a bare read unless the
    // legacy conf is set — GraftSession.local sets it for the whole session
    val physical = spark.read.parquet(dir).schema
    val stream = graft.meta.Tables.normalizeEventTs(
      EventStreams.readFileStream(spark, dir, physical, maxFilesPerTrigger = 64))
    assert(stream.isStreaming && stream.schema("ts").dataType == TimestampNTZType)
    EventStreams.drainToMemory(
      EventStreams.windowedCounts(stream, "ts", "1 hour"),
      "real_win_counts", outputMode = "complete")
    val got = spark.table("real_win_counts")
      .select(col("window.start").cast("string").as("w"), col("event_type"),
        col("n"), round(col("sum_value"), 4).as("sv"))
      .orderBy("w", "event_type")
      .as[(String, String, Long, Double)].collect()
    val want = graft.meta.Tables.events(spark, sf)
      .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").cast("string").as("w"), col("event_type"),
        col("n"), round(col("sum_value"), 4).as("sv"))
      .orderBy("w", "event_type")
      .as[(String, String, Long, Double)].collect()
    assert(got.nonEmpty && got === want)
  }

  test("dropDuplicatesWithinWatermark dedups the replayed event (§2.11)") {
    val (dir, schema) = writeEventsParquet()
    val stream = EventStreams.readFileStream(spark, dir, schema)
    val dd = EventStreams.dedupWithinWatermark(stream, "ts", Seq("event_id"))
    EventStreams.drainToMemory(dd, "dedup_stream")
    assert(spark.table("dedup_stream").count() === 4) // 5 rows, 1 dup dropped
  }

  test("streaming URL dedup: canonical-URL variants dedup within the watermark (§2.11)") {
    // The streaming twin of Dedup.urlDedupKeepFirst: canonicalizeUrl is a
    // stateless projection, so it composes onto the stream before the
    // keyed dropDuplicatesWithinWatermark — recrawl variants of one page
    // arriving inside the horizon dedup in flight.
    val dir = Files.createTempDirectory("graft_stream_url").toString
    val df = Seq(
      (1L, "2024-01-01 00:01:00", "https://www.site.com/a"),
      (2L, "2024-01-01 00:02:00", "HTTP://site.com/a/"),            // dup of 1
      (3L, "2024-01-01 00:03:00", "https://site.com/b"),
      (4L, "2024-01-01 00:04:00", "https://site.com/a?utm_source=x") // dup of 1
    ).toDF("event_id", "ts_s", "url")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = EventStreams.readFileStream(spark, dir, df.schema)
      .withColumn("url_canon",
        graft.operators.TextAnalysis.canonicalizeUrl(col("url")))
    val dd = EventStreams.dedupWithinWatermark(stream, "ts", Seq("url_canon"))
    EventStreams.drainToMemory(dd, "url_dedup_stream")
    val kept = spark.table("url_dedup_stream")
      .select("url_canon").as[String].collect().sorted
    assert(kept === Array("site.com/a", "site.com/b"))
  }

  test("jsonlTyped: explicit schema, corrupt capture, round-trips the shard sink") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_jsonl_src").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part.jsonl"),
      ("""{"id": 1, "text": "alpha"}""" + "\n" +
        """{"id": 2, "text": "beta"}""" + "\n" +
        """{"id": "NOT A NUMBER", "text": }""" + "\n").getBytes)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    // cache before filtering on the corrupt column alone — Spark forbids
    // corrupt-column-only queries straight off the raw scan
    val got = graft.sources.Ingest.jsonlTyped(spark, dir, schema,
      corruptColumn = Some("_bad")).cache()
    try {
      assert(got.count() === 3)
      assert(got.where(col("_bad").isNotNull).count() === 1)
      assert(got.where(col("_bad").isNull).select("text")
        .as[String].collect().sorted === Array("alpha", "beta"))
    } finally got.unpersist(blocking = true) // other suites assert an empty SQL cache
    // the shard sink's output reads back typed through the same scan —
    // the corpus-handoff round trip
    val docs = Seq((1L, "one body"), (2L, "two body"), (3L, "three body"))
      .toDF("doc_id", "text")
    val shardDir = Files.createTempDirectory("graft_jsonl_rt").toString
    graft.operators.Batching.writeJsonlShards(docs, "doc_id", "text", 2, 9L, shardDir)
    val back = graft.sources.Ingest.jsonlTyped(spark, s"$shardDir/shard=*",
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
    assert(back.orderBy("id").as[(Long, String)].collect() ===
      Array((1L, "one body"), (2L, "two body"), (3L, "three body")))
  }

  test("jsonlTyped reads gzipped shards transparently (the CC/Dolma delivery format)") {
    import org.apache.spark.sql.types._
    import java.util.zip.GZIPOutputStream
    // a .jsonl.gz shard exactly as crawl dumps ship it — codec inference
    // off the extension must make this read identical to the plain file,
    // corrupt-record capture included
    val dir = Files.createTempDirectory("graft_jsonl_gz").toString
    val out = new GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/shard-000.jsonl.gz"))
    out.write(("""{"id": 10, "text": "gz alpha"}""" + "\n" +
      """{"id": 11, "text": "gz beta"}""" + "\n" +
      """{"id": oops}""" + "\n").getBytes("UTF-8"))
    out.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val got = graft.sources.Ingest.jsonlTyped(spark, dir, schema,
      corruptColumn = Some("_bad")).cache()
    try {
      assert(got.count() === 3)
      assert(got.where(col("_bad").isNotNull).count() === 1)
      assert(got.where(col("_bad").isNull).orderBy("id")
        .select("id", "text").as[(Long, String)].collect() ===
        Array((10L, "gz alpha"), (11L, "gz beta")))
    } finally got.unpersist(blocking = true)
  }

  test("WARC scan: records split, HTTP envelope peeled, gzip members handled") {
    import graft.sources.Warc
    import java.nio.charset.StandardCharsets.UTF_8
    def rec(tpe: String, uri: String, block: String): Array[Byte] = {
      val body = block.getBytes(UTF_8)
      (s"WARC/1.0\r\nWARC-Type: $tpe\r\n" +
        (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++
        body ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val html = "<html><body>hello corpus</body></html>"
    val httpBlock = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    val warc = rec("warcinfo", "", "software: graft-test\r\n") ++
      rec("request", "https://example.com/a", "GET /a HTTP/1.1\r\n") ++
      rec("response", "https://example.com/a", httpBlock)
    val dir = Files.createTempDirectory("graft_warc").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/seg.warc"), warc)
    // gzip layout: one member per record — Common Crawl's actual shape
    val gz = new java.io.ByteArrayOutputStream()
    Seq(rec("warcinfo", "", "software: graft-test\r\n"),
      rec("response", "https://example.com/b", httpBlock)).foreach { r =>
      val g = new java.util.zip.GZIPOutputStream(gz); g.write(r); g.finish()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/seg2.warc.gz"), gz.toByteArray)
    val out = Warc.readWarc(spark, dir)
      .orderBy("path", "record_idx")
      .as[(String, Int, String, String, String, Int, Array[Byte])].collect()
    assert(out.length === 5)
    val resp = out.filter(_._3 == "response")
    assert(resp.length === 2)
    resp.foreach { r =>
      assert(r._6 === 200 && r._5 === "text/html")
      assert(new String(r._7, UTF_8) === html, "payload must be the HTTP body only")
    }
    assert(out.count(_._3 == "warcinfo") === 2)
    assert(resp.map(_._4).toSet ===
      Set("https://example.com/a", "https://example.com/b"))
    // corrupt-record discipline: a truncated trailing record parses up to it
    val truncated = warc ++ "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99999\r\n\r\nshort".getBytes(UTF_8)
    assert(Warc.parseAll(truncated).length === 3)
    // the crawl-to-corpus handoff: response payloads strip straight into
    // clean text — Common Crawl's WARC really is this pipeline's stage 0
    val texts = Warc.readWarc(spark, dir)
      .where(col("warc_type") === "response")
      .select(graft.operators.TextAnalysis
        .stripMarkup(col("payload").cast("string")).as("t"))
      .as[String].collect()
    assert(texts.length === 2 && texts.forall(_ === "hello corpus"))
  }

  test("WARC -> main-content extraction: body survives, nav/footer chrome drops") {
    import graft.sources.Warc
    import java.nio.charset.StandardCharsets.UTF_8
    // a realistically chrome-laden page: nav menu, cookie banner, a prose
    // body paragraph, a read-more strip, and a link+copyright footer —
    // stripMarkup keeps ALL of this text; the content classifier must not
    val body = "The quick brown fox jumped over the lazy dog and then it ran " +
      "off into the woods to find some food for the winter season ahead."
    val html = "<html><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> <a href=\"/c\">Contact</a></nav>" +
      "<div class=\"cookie\">We use cookies. <a href=\"/p\">Accept</a></div>" +
      "<h1>A post</h1><p>" + body + "</p>" +
      "<div><a href=\"/m\">Read more</a> <a href=\"/s\">Subscribe now</a></div>" +
      "<footer><a href=\"/pr\">Privacy</a> <a href=\"/t\">Terms</a> Copyright 2024</footer>" +
      "</body></html>"
    def rec(tpe: String, uri: String, block: String): Array[Byte] = {
      val b = block.getBytes(UTF_8)
      (s"WARC/1.0\r\nWARC-Type: $tpe\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++
        b ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val warc = rec("response", "https://example.com/post",
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
    val dir = Files.createTempDirectory("graft_warc_content").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/seg.warc"), warc)
    val pages = Warc.readWarc(spark, dir)
      .where(col("warc_type") === "response")
      .select(col("target_uri"), col("payload").cast("string").as("html"))
    val out = graft.operators.TextAnalysis
      .extractMainContent(pages, "target_uri", "html")
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(out.length === 1)
    val (_, mainText, nBlocks, nContent, kept, dropped) = out.head
    assert(mainText === body, "the body paragraph must survive verbatim")
    assert(nContent === 1L, "exactly the body block is content")
    assert(nBlocks >= 4L, "nav/cookie/h1/read-more/footer blocks were seen")
    assert(kept === body.length.toLong && dropped > 0L)
    // contrast: stripMarkup alone keeps the chrome this stage exists to drop
    val stripped = pages.select(graft.operators.TextAnalysis
      .stripMarkup(col("html")).as("t")).as[String].head()
    assert(stripped.contains("Subscribe now") && stripped.contains("cookies"))
    assert(!mainText.contains("Subscribe") && !mainText.contains("cookies") &&
      !mainText.contains("Copyright"))
  }

  test("streaming main-content extraction: chrome drops in flight (§2.11)") {
    // extractMainContent is a pure projection chain (block split +
    // higher-order stats + filter), so it composes onto a stream with NO
    // state store — the live crawl-to-corpus shape: WARC payloads arrive,
    // boilerplate drops before anything stateful sees the text.
    val body = "The quick brown fox jumped over the lazy dog and then we " +
      "went back to the house for some food and it was good."
    val html = "<html><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
      "<p>" + body + "</p>" +
      "<footer><a href=\"/p\">Privacy</a> <a href=\"/t\">Terms</a> legal</footer></body></html>"
    val dir = Files.createTempDirectory("graft_stream_content").toString
    val df = Seq((1L, html), (2L, html)).toDF("doc_id", "html")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = EventStreams.readFileStream(spark, dir, df.schema)
    val extracted = graft.operators.TextAnalysis
      .extractMainContent(stream, "doc_id", "html")
      .where(col("n_content_blocks") > 0).select("doc_id", "main_text")
    EventStreams.drainToMemory(extracted, "content_stream")
    val out = spark.table("content_stream").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> body, 2L -> body))
  }

  test("streaming quality filter: badword verdicts filter docs in flight (§2.11)") {
    // Quality verdicts are stateless per-document projections, so the
    // filter chain composes onto a stream with NO state store at all —
    // the shape a live ingest pipeline runs between crawl and dedup
    // (q145's streaming twin; gopher/charClass flags compose the same way).
    val dir = Files.createTempDirectory("graft_stream_quality").toString
    val df = Seq(
      (1L, "a perfectly clean document body"),
      (2L, "contains the badword spamtok here"),
      (3L, "another clean one")).toDF("doc_id", "text")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = EventStreams.readFileStream(spark, dir, df.schema)
    val filtered = graft.operators.TextAnalysis
      .badwordFilter(stream, "doc_id", "text", Seq("SpamTok"))
      .where(col("keep")).select("doc_id")
    EventStreams.drainToMemory(filtered, "quality_stream")
    assert(spark.table("quality_stream").as[Long].collect().sorted ===
      Array(1L, 3L))
  }

  test("streaming decontamination: bench-gram bloom flags leaks in flight (§2.11)") {
    import graft.operators.TextAnalysis
    // the bench set is static: its gram bloom builds ONCE batch-side and
    // rides the streaming plan as literal bytes — no join, no state
    val bench = Seq((100L, "the secret benchmark question about rivers"))
      .toDF("doc_id", "text")
    val bloom = TextAnalysis.benchGramBloom(bench, "text", lit(true), n = 5)
    val dir = Files.createTempDirectory("graft_stream_decontam").toString
    val df = Seq(
      (1L, "a perfectly ordinary training document"),
      // shares a 5-gram run with the bench doc -> must flag
      (2L, "copied the secret benchmark question about rivers verbatim"),
      (3L, "another clean document with fresh phrasing")
    ).toDF("doc_id", "text")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = EventStreams.readFileStream(spark, dir, df.schema)
      .withColumn("flagged",
        TextAnalysis.contaminationFlag(col("text"), bloom, n = 5))
    EventStreams.drainToMemory(stream.select("doc_id", "flagged"), "decontam_stream")
    val got = spark.table("decontam_stream")
      .as[(Long, Boolean)].collect().sortBy(_._1)
    assert(got === Array((1L, false), (2L, true), (3L, false)))
    // batch equivalence: the bloom's flags cover contaminationHits' docs
    // exactly on this FP-free fixture (false negatives are impossible)
    val all = bench.unionByName(df)
    val exact = TextAnalysis.contaminationHits(all, "doc_id", "text",
      col("doc_id") === 100L, n = 5).select("doc_id").as[Long].collect().toSet
    assert(got.filter(_._2).map(_._1).toSet === exact)
  }

  test("mapGroupsWithState carries per-user counts across micro-batches (§2.11)") {
    val dir = Files.createTempDirectory("graft_state").toString
    Seq((7L, 1.0), (7L, 2.0), (9L, 3.0)).toDF("user_id", "value")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq((7L, 4.0), (9L, 5.0), (9L, 6.0)).toDF("user_id", "value")
      .coalesce(1).write.parquet(s"$dir/f2")
    // one input dir with both files, drained one file per micro-batch
    val merged = s"$dir/all"
    new java.io.File(merged).mkdirs()
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$dir/$f").listFiles() if p.getName.endsWith(".parquet"))
      Files.copy(p.toPath, java.nio.file.Path.of(merged, s"$f-${p.getName}"))
    val schema = spark.read.parquet(merged).schema
    val stream = EventStreams.readFileStream(spark, merged, schema, maxFilesPerTrigger = 1)
    EventStreams.drainToMemory(
      EventStreams.runningUserCounts(stream), "user_counts", outputMode = "update")
    // update mode appends one row per (user, batch); the max per user is the
    // final running total, which must equal the overall total per user
    val finals = spark.table("user_counts").groupBy("user_id")
      .agg(max("n_events").as("n")).orderBy("user_id")
      .as[(Long, Long)].collect()
    assert(finals === Array((7L, 3L), (9L, 3L)))
    // state actually crossed batches: two updates per user, intermediate < 3
    val u7 = spark.table("user_counts").where(col("user_id") === 7)
      .select("n_events").as[Long].collect().sorted
    assert(u7.length === 2 && u7.last === 3L && u7.head < 3L)
  }

  test("transformWithState running counts match mapGroupsWithState (RocksDB store)") {
    val dir = Files.createTempDirectory("graft_tws").toString
    Seq((7L, 1.0), (7L, 2.0), (9L, 3.0)).toDF("user_id", "value")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq((7L, 4.0), (9L, 5.0), (9L, 6.0)).toDF("user_id", "value")
      .coalesce(1).write.parquet(s"$dir/f2")
    val merged = s"$dir/all"
    new java.io.File(merged).mkdirs()
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$dir/$f").listFiles() if p.getName.endsWith(".parquet"))
      Files.copy(p.toPath, java.nio.file.Path.of(merged, s"$f-${p.getName}"))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(merged).schema
      val stream = EventStreams.readFileStream(spark, merged, schema, maxFilesPerTrigger = 1)
      EventStreams.drainToMemory(
        EventStreams.runningUserCountsTws(stream), "tws_counts", outputMode = "update")
      val finals = spark.table("tws_counts").groupBy("user_id")
        .agg(max("n_events").as("n")).orderBy("user_id")
        .as[(Long, Long)].collect()
      assert(finals === Array((7L, 3L), (9L, 3L)))
      // state crossed micro-batches: user 7 has an intermediate total < 3
      val u7 = spark.table("tws_counts").where(col("user_id") === 7)
        .select("n_events").as[Long].collect().sorted
      assert(u7.length === 2 && u7.last === 3L && u7.head < 3L)
      // TTL path: an enabled TTLConfig needs processing-time mode (the
      // operator must switch modes or Spark rejects the state variable).
      // Processing-time mode runs micro-batches continuously (eviction
      // chases the wall clock), so neither AvailableNow nor
      // processAllAvailable ever returns — poll the sink for the expected
      // totals, then stop. A long TTL expires nothing here, so totals
      // match the no-TTL run.
      val stream2 = EventStreams.readFileStream(spark, merged, schema, maxFilesPerTrigger = 1)
      val q = EventStreams.runningUserCountsTws(stream2,
          ttl = Some(java.time.Duration.ofHours(1)))
        .writeStream.format("memory").queryName("tws_ttl_counts")
        .outputMode("update").start()
      def ttlFinals = spark.table("tws_ttl_counts").groupBy("user_id")
        .agg(max("n_events").as("n")).orderBy("user_id")
        .as[(Long, Long)].collect()
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!(ttlFinals sameElements Array((7L, 3L), (9L, 3L))) &&
               System.nanoTime() < deadline) Thread.sleep(250)
      } finally q.stop()
      assert(ttlFinals === Array((7L, 3L), (9L, 3L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("funnelStream matches the batch funnel under out-of-order cross-batch arrival") {
    // Events split so stage events arrive OUT OF ORDER across micro-batches:
    // user 1's click+purchase land a batch BEFORE their view; user 2's
    // purchase arrives late and past the deadline; user 5's late EARLIER
    // view DEMOTES them (the old click falls outside the moved deadline).
    // windowSec = 1000.
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val batch1 = Seq((1L, ts(200), "click"), (1L, ts(300), "purchase"),
      (2L, ts(100), "view"), (2L, ts(150), "click"),
      (5L, ts(100), "view"), (5L, ts(1050), "click")) // reached 2 for now
    val batch2 = Seq((1L, ts(100), "view"),     // late-arriving EARLIER view
      (2L, ts(1200), "purchase"),               // 1200 > 150 + 1000: missed
      (3L, ts(50), "view"),                     // enters at stage 1
      (4L, ts(10), "purchase"),                 // never views: absent
      (5L, ts(0), "view"))                      // moves t1 to 0: click at 1050 > 1000 now misses
    val dir = Files.createTempDirectory("graft_funnel_stream").toString + "/in"
    new java.io.File(dir).mkdirs()
    batch1.toDF("user_id", "ts", "event_type").coalesce(1)
      .write.parquet(s"$dir/../f1")
    batch2.toDF("user_id", "ts", "event_type").coalesce(1)
      .write.parquet(s"$dir/../f2")
    // pin modification times so the file source drains f1 strictly before
    // f2 (it orders by mtime; a copy-time tie randomizes the batch order)
    val now = System.currentTimeMillis()
    for ((f, age) <- Seq("f1" -> 20000L, "f2" -> 10000L);
         p <- new java.io.File(s"$dir/../$f").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
      Files.copy(p.toPath, dst)
      dst.toFile.setLastModified(now - age)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      // capture (batchId, row) via foreachBatch: the LAST update per user is
      // the stream's final state. stage_reached can legitimately DECREASE
      // across batches (user 5), so max()-style extraction would be unsound.
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Seq[Long])]
      val q = EventStreams.foreachBatchSink(
        EventStreams.funnelStream(stream, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), windowSec = 1000)) { (batch, id) =>
        val rows = batch.collect()
        buf.synchronized {
          rows.foreach(r => buf += ((id, r.getLong(0), r.getInt(1), r.getSeq[Long](2))))
        }
      }.start()
      q.awaitTermination()
      val finals = buf.groupBy(_._2).map { case (u, rows) =>
        val last = rows.maxBy(_._1)
        u -> ((last._3, last._4))
      }
      // user 5 really was demoted between batches
      val u5 = buf.filter(_._2 == 5L).sortBy(_._1).map(_._3)
      assert(u5 === Seq(2, 1), s"expected demotion 2 -> 1, got $u5")
      // batch twin on the UNION of both files is the ground truth, anchors
      // included (epoch MICROS — the stream's native comparison precision)
      val truth = graft.operators.Behavior.funnel(
        (batch1 ++ batch2).toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"), 1000)
        .collect().map { r =>
          val anchors = Seq("t_view", "t_click", "t_purchase")
            .flatMap(c => Option(r.getAs[java.sql.Timestamp](c)).map(_.getTime * 1000L))
          r.getLong(0) -> ((r.getAs[Long]("stage_reached").toInt, anchors))
        }.toMap
      assert(finals === truth)
      assert(finals.view.mapValues(_._1).toMap ===
        Map(1L -> 3, 2L -> 2, 3L -> 1, 5L -> 1)) // user 4 absent
      assert(finals(1L)._2 === Seq(100000000L, 200000000L, 300000000L))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("funnelStream TTL evicts idle no-anchor users; converted outputs stand") {
    // The documented trade: user 99 fires stage-2 only (no anchor, the
    // state nothing can prune), goes idle past the TTL, then a late
    // EARLIER stage-1 event arrives. With surviving state the recurrence
    // would convert them (view 100 -> click 200, inside the window); with
    // the TTL the orphan click is evicted and they re-enter at stage 1.
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val dir = Files.createTempDirectory("graft_funnel_ttl").toString + "/in"
    new java.io.File(dir).mkdirs()
    def writeBatch(name: String, rows: Seq[(Long, java.sql.Timestamp, String)]): Unit = {
      val tmp = s"$dir/../$name"
      rows.toDF("user_id", "ts", "event_type").coalesce(1).write.parquet(tmp)
      for (p <- new java.io.File(tmp).listFiles() if p.getName.endsWith(".parquet"))
        Files.copy(p.toPath, java.nio.file.Path.of(dir, s"$name-${p.getName}"))
    }
    writeBatch("f1", Seq((1L, ts(100), "view"), (1L, ts(200), "click"),
      (99L, ts(200), "click")))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      // TTL forces processing-time mode: drive as a long-lived stream with
      // a CONTINUOUS trigger (foreachBatchSink's AvailableNow snapshots
      // the file list at start and would never discover f2), poll the
      // sink, stop explicitly
      val q = EventStreams.funnelStream(stream, "user_id", "ts", "event_type",
          Seq("view", "click"), windowSec = 1000,
          ttl = Some(java.time.Duration.ofSeconds(3)))
        .writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val rows = batch.collect()
          buf.synchronized { rows.foreach(r => buf += ((id, r.getLong(0), r.getInt(1)))) }
        }.start()
      def last(u: Long): Option[Int] =
        buf.synchronized { buf.filter(_._2 == u).sortBy(_._1).lastOption.map(_._3) }
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (last(1L).isEmpty && System.nanoTime() < deadline) Thread.sleep(250)
        assert(last(1L) === Some(2)) // converted while state was live
        assert(last(99L).isEmpty)    // stage-2-only: nothing emitted yet
        Thread.sleep(4500)           // > ttl: 99's orphan click expires
        writeBatch("f2", Seq((99L, ts(100), "view"),
          (2L, ts(50), "view"), (2L, ts(60), "click")))
        while ((last(99L).isEmpty || last(2L).isEmpty) &&
               System.nanoTime() < deadline) Thread.sleep(250)
        assert(last(2L) === Some(2),
          "users arriving after evictions must still convert")
        assert(last(99L) === Some(1),
          "the spam user's pre-TTL click must have been evicted")
        assert(last(1L) === Some(2)) // earlier conversion output stands
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("runningUserCounts survives null user ids (drops them)") {
    val dir = Files.createTempDirectory("graft_nullkey").toString + "/data"
    Seq(Some(7L), None, Some(7L)).toDF("user_id")
      .coalesce(1).write.parquet(dir)
    val stream = EventStreams.readFileStream(spark, dir,
      spark.read.parquet(dir).schema)
    EventStreams.drainToMemory(
      EventStreams.runningUserCounts(stream), "nullkey_counts", outputMode = "update")
    assert(spark.table("nullkey_counts").as[(Long, Long)].collect() === Array((7L, 2L)))
  }

  test("flatMapGroupsWithState sessionizer closes sessions on gaps (§2.11)") {
    val root = Files.createTempDirectory("graft_sess").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    // file 1: user 7 has two sessions separated by a 80-min gap
    Seq((7L, "2024-01-01 00:00:00"), (7L, "2024-01-01 00:10:00"),
      (7L, "2024-01-01 01:30:00"))
      .toDF("user_id", "ts_s").withColumn("ts", col("ts_s").cast("timestamp"))
      .drop("ts_s").coalesce(1).write.parquet(s"$root/f1")
    // file 2: a much later event pushes the watermark past user 7's horizon
    Seq((9L, "2024-01-01 06:00:00"))
      .toDF("user_id", "ts_s").withColumn("ts", col("ts_s").cast("timestamp"))
      .drop("ts_s").coalesce(1).write.parquet(s"$root/f2")
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
      Files.copy(p.toPath, dst)
      // pin modification times so the file source processes f1 before f2 —
      // with equal mtimes the order is unspecified, and f2-first would
      // advance the watermark past f1's events (dropped as late data)
      dst.toFile.setLastModified(if (f == "f1") 1000000L else 2000000L)
    }
    val schema = spark.read.parquet(dir).schema
    val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
    EventStreams.drainToMemory(
      EventStreams.sessionizeStream(stream, "ts", "user_id", gapMinutes = 30),
      "sessions", outputMode = "append")
    val got = spark.table("sessions")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"))
      .as[(Long, String, String, Long)].collect().sortBy(r => (r._1, r._2))
    // the within-batch gap MUST close session 1 with exact bounds
    assert(got.contains((7L, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 2L)),
      s"missing session 1 in ${got.mkString(", ")}")
    // any additionally emitted (timeout-closed) sessions must be well-formed
    got.foreach { case (_, s, e, n) => assert(s <= e && n >= 1) }
  }

  test("sessionizer extends bounds on allowed-late events, never end < start") {
    val root = Files.createTempDirectory("graft_sess_late").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    def write(f: String, mtime: Long, rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("user_id", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .coalesce(1).write.parquet(s"$root/$f")
      for (p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
        val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
        Files.copy(p.toPath, dst)
        dst.toFile.setLastModified(mtime)
      }
    }
    // batch 1 opens user 7's session; batch 2 delivers a LATE EARLIER event
    // (inside the 1h watermark) plus a later one; batch 3 pushes the
    // watermark past the horizon so the session closes and emits.
    write("f1", 1000000L, 7L -> "2024-01-01 00:10:00", 7L -> "2024-01-01 00:20:00")
    write("f2", 2000000L, 7L -> "2024-01-01 00:05:00", 7L -> "2024-01-01 00:25:00")
    write("f3", 3000000L, 9L -> "2024-01-01 06:00:00")
    val schema = spark.read.parquet(dir).schema
    val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
    EventStreams.drainToMemory(
      EventStreams.sessionizeStream(stream, "ts", "user_id", gapMinutes = 30,
        watermark = "1 hour"),
      "late_sessions", outputMode = "append")
    val got = spark.table("late_sessions")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"))
      .as[(Long, String, String, Long)].collect()
    // the late 00:05 extends the session BACKWARD; 00:25 forward; one session
    assert(got.contains((7L, "2024-01-01 00:05:00", "2024-01-01 00:25:00", 4L)),
      s"late event did not extend the session bounds: ${got.mkString(", ")}")
    got.foreach { case (_, s, e, n) => assert(s <= e && n >= 1) }
  }

  test("sessionizer gap math and emitted bounds are µs-exact") {
    val root = Files.createTempDirectory("graft_sess_us").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    def write(f: String, mtime: Long, rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("user_id", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .coalesce(1).write.parquet(s"$root/$f")
      for (p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
        val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
        Files.copy(p.toPath, dst)
        dst.toFile.setLastModified(mtime)
      }
    }
    // user 7's second event is 30min + 500µs after the first: the true gap
    // exceeds the horizon by HALF A MILLISECOND, so the µs math MUST split
    // (ms-truncated getTime arithmetic sees exactly 30min and merges); the
    // third event is exactly 30min after the second (gap == horizon, <=
    // keeps it) so the open session's bounds both carry the 500µs tail.
    // f2 advances the watermark past user 7's horizon; f3 triggers one
    // more batch so the event-time timer actually fires and emits.
    write("f1", 1000000L,
      7L -> "2024-01-01 00:00:00",
      7L -> "2024-01-01 00:30:00.0005",
      7L -> "2024-01-01 01:00:00.0005")
    write("f2", 2000000L, 9L -> "2024-01-01 06:00:00")
    write("f3", 3000000L, 9L -> "2024-01-01 07:00:00")
    val schema = spark.read.parquet(dir).schema
    val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
    EventStreams.drainToMemory(
      EventStreams.sessionizeStream(stream, "ts", "user_id", gapMinutes = 30),
      "us_sessions", outputMode = "append")
    val got = spark.table("us_sessions")
      .select(col("user_id"), col("session_start").cast("string"),
        col("session_end").cast("string"), col("n_events"))
      .as[(Long, String, String, Long)].collect().filter(_._1 == 7L)
      .sortBy(_._2)
    assert(got.contains((7L, "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L)),
      s"sub-ms gap overflow did not split the session: ${got.mkString(", ")}")
    assert(got.contains((7L, "2024-01-01 00:30:00.0005", "2024-01-01 01:00:00.0005", 2L)),
      s"emitted bounds lost µs precision (or the exact-gap event split): ${got.mkString(", ")}")
    assert(got.length === 2, s"expected exactly 2 sessions: ${got.mkString(", ")}")
  }

  test("stream-static join enriches micro-batches against a broadcast dim (§2.11)") {
    val (dir, schema) = writeEventsParquet()
    val dim = Seq(("click", "interactive"), ("view", "passive")).toDF("event_type", "kind")
    val stream = EventStreams.readFileStream(spark, dir, schema)
    val joined = EventStreams.enrichWithStatic(stream, dim, Seq("event_type"))
    EventStreams.drainToMemory(joined, "enriched")
    val got = spark.table("enriched").groupBy("kind").count()
      .as[(String, Long)].collect().toMap
    assert(got === Map("interactive" -> 4L, "passive" -> 1L))
  }

  test("stream-stream join within an event-time band is bounded-state (§2.11)") {
    val (dir, schema) = writeEventsParquet()
    val clicks = EventStreams.readFileStream(spark, dir, schema)
      .where(col("event_type") === "click").withColumn("k", lit(1))
    val views = EventStreams.readFileStream(spark, dir, schema)
      .where(col("event_type") === "view").withColumn("k", lit(1))
    // band of 10 min: the 00:20 view pairs with the 00:15 click only
    val joined = EventStreams.joinStreamsWithinBand(
      views, clicks, "k", "ts", bandSeconds = 600)
    EventStreams.drainToMemory(joined, "banded_join")
    val got = spark.table("banded_join")
      .select(col("l.event_id"), col("r.event_id"))
      .as[(Long, Long)].collect().sorted
    assert(got === Array((3L, 2L)))
  }

  test("CSV round-trip: write chunks, re-read typed, values survive (S1/K1)") {
    val dir = Files.createTempDirectory("graft_csvrt").toString
    val orig = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    graft.operators.Batching.writeCsvChunks(orig, dir, maxRecordsPerFile = 40)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".csv")) >= 4)
    val back = graft.sources.Ingest.csvWithHeader(spark, dir, orig.schema)
    assert(back.count() === orig.count())
    assert(back.exceptAll(orig).count() === 0 && orig.exceptAll(back).count() === 0)
  }

  test("foreachBatch exposes batchId as the resume counter (K5/§2.11)") {
    val (dir, schema) = writeEventsParquet()
    val stream = EventStreams.readFileStream(spark, dir, schema)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = EventStreams.foreachBatchSink(stream) { (batch, id) =>
      seen.synchronized { seen += ((id, batch.count())) }
    }.start()
    q.awaitTermination()
    assert(seen.map(_._2).sum === 5)
    assert(seen.map(_._1).toSet === (0L until seen.length).toSet)
  }

  test("incrementalDedupStream: re-crawls drop across micro-batches; state survives restart") {
    val root = Files.createTempDirectory("graft_incdedup").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    // wave 1 (two micro-batches): f1 = two fresh docs; f2 = a re-crawl of
    // 10's text at a larger id (drop) + beta at a SMALLER id (flips 11)
    Seq((10L, "alpha body"), (11L, "beta body")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$root/f1")
    Seq((12L, "alpha body"), (5L, "beta body")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$root/f2")
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
      Files.copy(p.toPath, dst)
      dst.toFile.setLastModified(if (f == "f1") 1000000L else 2000000L)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val ckpt = s"$root/ckpt"
      // foreachBatch sink: unlike the memory sink it supports restarting
      // from a checkpoint, which is the claim under test
      def drain(outDir: String): Unit = {
        val q = EventStreams.incrementalDedupStream(
            EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1))
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
            df.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(outDir): Unit
          }
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain(s"$root/out1")
      val r1 = spark.read.parquet(s"$root/out1")
        .select("doc_id", "kept", "batch_id").as[(Long, Boolean, Long)].collect()
      // latest micro-batch's row per id is its standing status
      val finals1 = r1.groupBy(_._1)
        .map { case (id, xs) => id -> xs.maxBy(_._3)._2 }
      assert(finals1 === Map(10L -> true, 11L -> false, 5L -> true, 12L -> false),
        s"got $finals1 from ${r1.mkString(", ")}")
      // 11 was kept in batch 1, then its smaller-id twin arrived late
      val elevens = r1.filter(_._1 == 11L).sortBy(_._3).map(_._2).toSeq
      assert(elevens === Seq(true, false))
      // exact batch parity: stream survivors == keep-first over the union
      val batchKeep = graft.operators.Dedup.dedupKeepFirst(
        Seq((10L, "alpha body"), (11L, "beta body"), (12L, "alpha body"),
          (5L, "beta body")).toDF("doc_id", "text"), Seq("text"), Seq("doc_id"))
        .select("doc_id").as[Long].collect().toSet
      assert(finals1.filter(_._2).keySet === batchKeep)
      // wave 2 arrives AFTER a restart: a re-crawl of alpha (must drop —
      // provable only if the fingerprint state survived the restart) and a
      // genuinely new doc (must keep)
      Seq((20L, "alpha body"), (21L, "gamma body")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$root/f3")
      for (p <- new java.io.File(s"$root/f3").listFiles() if p.getName.endsWith(".parquet")) {
        val dst = java.nio.file.Path.of(dir, s"f3-${p.getName}")
        Files.copy(p.toPath, dst)
        dst.toFile.setLastModified(3000000L)
      }
      drain(s"$root/out2")
      val r2 = spark.read.parquet(s"$root/out2")
        .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
      assert(r2 === Map(20L -> false, 21L -> true),
        s"restart run should emit only wave-2 verdicts, got $r2")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("semanticDedupStream: late smaller-id dup retroactively flips the survivor") {
    val v1 = Seq(1.0, 0.5, -0.25, 1.0, 0.75, -0.5, 0.3, 1.1)
    val v2 = v1.map(_ * 1.001) // near-dup of v1, same bucket
    val v3 = v1.map(x => -x)   // cosine -1: never a dup
    val root = Files.createTempDirectory("graft_semdedup").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    // batch 1: the LATER id (5) of the dup pair arrives first, plus 9
    Seq((5L, v2), (9L, v3)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f1")
    // batch 2: the smaller-id original (1) arrives late
    Seq((1L, v1)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f2")
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
      Files.copy(p.toPath, dst)
      dst.toFile.setLastModified(if (f == "f1") 1000000L else 2000000L)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      EventStreams.drainToMemory(
        EventStreams.semanticDedupStream(stream, threshold = 0.95),
        "sem_dedup_stream", outputMode = "update")
      // memory sink in update mode appends every re-emission: the LAST row
      // per vec_id is its current status
      val rows = spark.table("sem_dedup_stream")
        .select("vec_id", "kept").as[(Long, Boolean)].collect()
      val finals = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (id, xs) => id -> xs.maxBy(_._2)._1._2 }
      assert(finals === Map(1L -> true, 5L -> false, 9L -> true),
        s"got $finals from ${rows.mkString(", ")}")
      // id 5 was a survivor in batch 1 (its smaller-id dup had not arrived)
      val fives = rows.filter(_._1 == 5L).map(_._2).toSeq
      assert(fives.head === true && fives.last === false,
        s"expected 5 to flip kept -> dropped, saw $fives")
      // exact batch parity on the union
      val batchSurvivors = graft.operators.Similarity.semanticDedup(
        Seq((1L, v1), (5L, v2), (9L, v3)).toDF("vec_id", "embedding"), 0.95)
        .select("vec_id").as[Long].collect().toSet
      assert(finals.filter(_._2).keySet === batchSurvivors)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("semanticDedupStreamBanded: AND-over-bands verdict, retroactive flip, batch parity") {
    val v1 = Seq(1.0, 0.5, -0.25, 1.0, 0.75, -0.5, 0.3, 1.1)
    val v2 = v1.map(_ * 1.001) // near-dup: same plane signs in EVERY band
    val v3 = v1.map(x => -x)   // cosine -1: never a dup
    val root = Files.createTempDirectory("graft_semdedup_banded").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    Seq((5L, v2), (9L, v3)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f1")
    Seq((1L, v1)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f2")
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
      Files.copy(p.toPath, dst)
      dst.toFile.setLastModified(if (f == "f1") 1000000L else 2000000L)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      EventStreams.drainToMemory(
        EventStreams.semanticDedupStreamBanded(stream, threshold = 0.95,
          nPlanes = 4, bands = 2),
        "sem_dedup_banded_stream", outputMode = "update")
      val rows = spark.table("sem_dedup_banded_stream")
        .select("bucket", "vec_id", "kept_in_bucket")
        .as[(Long, Long, Boolean)].collect().zipWithIndex
      // every vector must occupy exactly `bands` = 2 distinct bucket keys
      // (the band tag in the high bits keeps key spaces disjoint)
      val bucketsOf = rows.map(_._1).groupBy(_._2).map { case (id, xs) =>
        id -> xs.map(_._1).distinct.sorted.toSeq }
      assert(bucketsOf.values.forall(_.size == 2), s"got $bucketsOf")
      // reader contract: LAST row per (bucket, id), then AND over buckets
      val finals = rows.groupBy(x => (x._1._1, x._1._2))
        .map { case (_, xs) => xs.maxBy(_._2)._1 }
        .groupBy(_._2).map { case (id, xs) => id -> xs.forall(_._3) }
      assert(finals === Map(1L -> true, 5L -> false, 9L -> true),
        s"got $finals")
      // exact batch parity with the banded batch operator on the union
      val batchSurvivors = graft.operators.Similarity.semanticDedupBanded(
        Seq((1L, v1), (5L, v2), (9L, v3)).toDF("vec_id", "embedding"),
        threshold = 0.95, nPlanes = 4, bands = 2)
        .select("vec_id").as[Long].collect().toSet
      assert(finals.filter(_._2).keySet === batchSurvivors)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("semanticDedupStream pqBooks: quantized state reproduces the raw keep-set and the flip") {
    // the raw rungs' fixture: decisions are far from the 0.95 threshold
    // on both sides (cos ~1 vs cos -1), so PQ reconstruction must not
    // move them — the keep-set contract the pqBooks scaladoc states
    val v1 = Seq(1.0, 0.5, -0.25, 1.0, 0.75, -0.5, 0.3, 1.1)
    val v2 = v1.map(_ * 1.001)
    val v3 = v1.map(x => -x)
    val union = Seq((1L, v1), (5L, v2), (9L, v3)).toDF("vec_id", "embedding")
    val books = graft.operators.Similarity.fitPqCodebooks(
      union, m = 2, ksub = 4, iterations = 2)
    val root = Files.createTempDirectory("graft_semdedup_pq").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    Seq((5L, v2), (9L, v3)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f1")
    Seq((1L, v1)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f2")
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
      Files.copy(p.toPath, dst)
      dst.toFile.setLastModified(if (f == "f1") 1000000L else 2000000L)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      EventStreams.drainToMemory(
        EventStreams.semanticDedupStream(stream, threshold = 0.95,
          pqBooks = Some(books)),
        "sem_dedup_pq_stream", outputMode = "update")
      val rows = spark.table("sem_dedup_pq_stream")
        .select("vec_id", "kept").as[(Long, Boolean)].collect()
      val finals = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (id, xs) => id -> xs.maxBy(_._2)._1._2 }
      assert(finals === Map(1L -> true, 5L -> false, 9L -> true),
        s"got $finals from ${rows.mkString(", ")}")
      // the retroactive flip must survive quantization: 5 was a batch-1
      // survivor, then its smaller-id near-dup arrived
      val fives = rows.filter(_._1 == 5L).map(_._2).toSeq
      assert(fives.head === true && fives.last === false, s"saw $fives")
      // keep-set parity with the RAW batch twin on the union
      val batchSurvivors = graft.operators.Similarity.semanticDedup(
        union, 0.95).select("vec_id").as[Long].collect().toSet
      assert(finals.filter(_._2).keySet === batchSurvivors)
      // the banded rung carries the same mode
      val stream2 = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      EventStreams.drainToMemory(
        EventStreams.semanticDedupStreamBanded(stream2, threshold = 0.95,
          nPlanes = 4, bands = 2, pqBooks = Some(books)),
        "sem_dedup_pq_banded_stream", outputMode = "update")
      val bRows = spark.table("sem_dedup_pq_banded_stream")
        .select("bucket", "vec_id", "kept_in_bucket")
        .as[(Long, Long, Boolean)].collect().zipWithIndex
      val bFinals = bRows.groupBy(x => (x._1._1, x._1._2))
        .map { case (_, xs) => xs.maxBy(_._2)._1 }
        .groupBy(_._2).map { case (id, xs) => id -> xs.forall(_._3) }
      assert(bFinals === Map(1L -> true, 5L -> false, 9L -> true), s"got $bFinals")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("semanticDedupStream on pre-centered vectors: parity with the batch center=true twin") {
    // The streaming rungs cannot fit a corpus-wide mean; the documented
    // pattern is a PREFIT mean (fitMeanVector on a representative batch)
    // applied with centerVectors upstream of the stream. This pins that
    // composition: same mean as the batch twin's own fit -> identical
    // keep-set, including the retroactive flip, on an offset corpus that
    // would concentrate uncentered.
    val b1 = Seq(1.0, 0.5, -0.25, 1.0, 0.75, -0.5, 0.3, 1.1)
    def shift(v: Seq[Double]) = v.map(_ + 2.5) // the shared direction
    val v1 = shift(b1)
    val v5 = shift(b1)          // exact dup of v1: dropped in ANY space
    val v9 = shift(b1.map(-_))  // centered cosine -1: never a dup
    val union = Seq((1L, v1), (5L, v5), (9L, v9)).toDF("vec_id", "embedding")
    val mu = graft.operators.Similarity.fitMeanVector(union)
    val root = Files.createTempDirectory("graft_semdedup_centered").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    Seq((5L, v5), (9L, v9)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f1")
    Seq((1L, v1)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f2")
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
      Files.copy(p.toPath, dst)
      dst.toFile.setLastModified(if (f == "f1") 1000000L else 2000000L)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
        .select(col("vec_id"),
          graft.operators.Similarity.centerVectors(col("embedding"), mu).as("embedding"))
      EventStreams.drainToMemory(
        EventStreams.semanticDedupStream(stream, threshold = 0.95),
        "sem_dedup_centered_stream", outputMode = "update")
      val rows = spark.table("sem_dedup_centered_stream")
        .select("vec_id", "kept").as[(Long, Boolean)].collect()
      val finals = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (id, xs) => id -> xs.maxBy(_._2)._1._2 }
      assert(finals === Map(1L -> true, 5L -> false, 9L -> true), s"got $finals")
      val fives = rows.filter(_._1 == 5L).map(_._2).toSeq
      assert(fives.head === true && fives.last === false, s"saw $fives")
      // parity with the batch twin fitting ITS OWN mean on the same union
      val batchSurvivors = graft.operators.Similarity.semanticDedup(
        union, 0.95, center = true).select("vec_id").as[Long].collect().toSet
      assert(finals.filter(_._2).keySet === batchSurvivors)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("semanticDedupStream mean param: in-operator centering matches batch center=true; pqBooks fit centered") {
    // The first-class center mode (r19 verdict item 1): the operator
    // centers by the fitted-mean SNAPSHOT itself — bucket keys, state,
    // and the recurrence cosine all in centered space — instead of the
    // caller pre-centering upstream. Same offset corpus as the
    // pre-centered test; additionally composes with PQ-codes-in-state,
    // whose books are fit on CENTERED vectors (the documented contract).
    val b1 = Seq(1.0, 0.5, -0.25, 1.0, 0.75, -0.5, 0.3, 1.1)
    def shift(v: Seq[Double]) = v.map(_ + 2.5)
    val v1 = shift(b1)
    val v5 = shift(b1)          // exact dup of v1
    val v9 = shift(b1.map(-_))  // centered cosine -1: never a dup
    val union = Seq((1L, v1), (5L, v5), (9L, v9)).toDF("vec_id", "embedding")
    val mu = graft.operators.Similarity.fitMeanVector(union)
    val centeredBooks = graft.operators.Similarity.fitPqCodebooks(
      union.select(col("vec_id"),
        graft.operators.Similarity.centerVectors(col("embedding"), mu).as("embedding")),
      m = 2, ksub = 4, iterations = 2)
    val root = Files.createTempDirectory("graft_semdedup_meanparam").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    Seq((5L, v5), (9L, v9)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f1")
    Seq((1L, v1)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f2")
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
      Files.copy(p.toPath, dst)
      dst.toFile.setLastModified(if (f == "f1") 1000000L else 2000000L)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      EventStreams.drainToMemory(
        EventStreams.semanticDedupStream(stream, threshold = 0.95,
          mean = Some(mu)),
        "sem_dedup_meanparam_stream", outputMode = "update")
      val rows = spark.table("sem_dedup_meanparam_stream")
        .select("vec_id", "kept").as[(Long, Boolean)].collect()
      val finals = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (id, xs) => id -> xs.maxBy(_._2)._1._2 }
      assert(finals === Map(1L -> true, 5L -> false, 9L -> true), s"got $finals")
      // the retroactive flip runs in centered space too
      val fives = rows.filter(_._1 == 5L).map(_._2).toSeq
      assert(fives.head === true && fives.last === false, s"saw $fives")
      // parity with the batch center=true twin on the union
      val batchSurvivors = graft.operators.Similarity.semanticDedup(
        union, 0.95, center = true).select("vec_id").as[Long].collect().toSet
      assert(finals.filter(_._2).keySet === batchSurvivors)
      // center + PQ-codes-in-state compose: centered books, same keep-set
      val stream2 = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      EventStreams.drainToMemory(
        EventStreams.semanticDedupStream(stream2, threshold = 0.95,
          mean = Some(mu), pqBooks = Some(centeredBooks)),
        "sem_dedup_meanpq_stream", outputMode = "update")
      val pqFinals = spark.table("sem_dedup_meanpq_stream")
        .select("vec_id", "kept").as[(Long, Boolean)].collect()
        .zipWithIndex.groupBy(_._1._1)
        .map { case (id, xs) => id -> xs.maxBy(_._2)._1._2 }
      assert(pqFinals === finals, s"pq-in-centered-space diverged: $pqFinals")
      // the banded rung carries the same mean mode
      val stream3 = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      EventStreams.drainToMemory(
        EventStreams.semanticDedupStreamBanded(stream3, threshold = 0.95,
          nPlanes = 4, bands = 2, mean = Some(mu)),
        "sem_dedup_meanbanded_stream", outputMode = "update")
      val bFinals = spark.table("sem_dedup_meanbanded_stream")
        .select("bucket", "vec_id", "kept_in_bucket")
        .as[(Long, Long, Boolean)].collect().zipWithIndex
        .groupBy(x => (x._1._1, x._1._2))
        .map { case (_, xs) => xs.maxBy(_._2)._1 }
        .groupBy(_._2).map { case (id, xs) => id -> xs.forall(_._3) }
      assert(bFinals === Map(1L -> true, 5L -> false, 9L -> true), s"got $bFinals")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("semantic rung config marker: resuming a checkpoint across a config change fails loudly") {
    // The r19 ADVICE checkpoint footgun: a key-affecting config change
    // (here: adding a centering mean; same failure class as an nPlanes
    // default change) over an existing transformWithState checkpoint used
    // to silently strand old state. The in-state marker now trips on the
    // first key that collides across configs. The zero mean guarantees
    // the collision (centering by zero preserves every bucket key), so
    // the trip is deterministic.
    val v1 = Seq(1.0, 0.5, -0.25, 1.0, 0.75, -0.5, 0.3, 1.1)
    val root = Files.createTempDirectory("graft_semdedup_marker").toString
    val dir = s"$root/in"
    val ckpt = s"$root/ckpt"
    new java.io.File(dir).mkdirs()
    Seq((1L, v1)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$root/f1")
    for (p <- new java.io.File(s"$root/f1").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"f1-${p.getName}")
      Files.copy(p.toPath, dst)
      dst.toFile.setLastModified(1000000L)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      def run(mean: Option[Seq[Double]], out: String): Unit = {
        val q = EventStreams.semanticDedupStream(
            EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1),
            threshold = 0.95, mean = mean)
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(out): Unit
          }
          .option("checkpointLocation", ckpt)
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run(None, s"$root/out1") // writes the marker under config mean=none
      // second wave so the resumed run has rows to process
      Seq((2L, v1.map(_ * 1.001))).toDF("vec_id", "embedding")
        .coalesce(1).write.parquet(s"$root/f2")
      for (p <- new java.io.File(s"$root/f2").listFiles() if p.getName.endsWith(".parquet")) {
        val dst = java.nio.file.Path.of(dir, s"f2-${p.getName}")
        Files.copy(p.toPath, dst)
        dst.toFile.setLastModified(2000000L)
      }
      val e = intercept[Throwable] { run(Some(Seq.fill(8)(0.0)), s"$root/out2") }
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).mkString(" | ")
      assert(msgs.contains("fresh checkpoint"),
        s"expected the config-marker trip, got: $msgs")
      // and SWAPPING CODEBOOKS of the same shape trips too: state codes
      // are only decodable by the books that wrote them, so the marker
      // fingerprints the centroid VALUES, not just the pq mode
      val u1 = Seq((1L, v1), (9L, v1.map(-_))).toDF("vec_id", "embedding")
      val u2 = Seq((1L, v1.map(_ * 3.0)), (9L, v1.map(-_ * 2.0)))
        .toDF("vec_id", "embedding")
      val booksA = graft.operators.Similarity.fitPqCodebooks(u1, m = 2, ksub = 2,
        iterations = 1)
      val booksB = graft.operators.Similarity.fitPqCodebooks(u2, m = 2, ksub = 2,
        iterations = 1)
      val ckpt2 = s"$root/ckpt2"
      def runPq(books: org.apache.spark.sql.DataFrame, out: String): Unit = {
        val q = EventStreams.semanticDedupStream(
            EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1),
            threshold = 0.95, pqBooks = Some(books))
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(out): Unit
          }
          .option("checkpointLocation", ckpt2)
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runPq(booksA, s"$root/out3")
      Seq((3L, v1.map(_ * 1.002))).toDF("vec_id", "embedding")
        .coalesce(1).write.parquet(s"$root/f3")
      for (p <- new java.io.File(s"$root/f3").listFiles() if p.getName.endsWith(".parquet")) {
        val dst = java.nio.file.Path.of(dir, s"f3-${p.getName}")
        Files.copy(p.toPath, dst)
        dst.toFile.setLastModified(3000000L)
      }
      val e2 = intercept[Throwable] { runPq(booksB, s"$root/out4") }
      val msgs2 = Iterator.iterate(e2)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).mkString(" | ")
      assert(msgs2.contains("fresh checkpoint"),
        s"expected the books-swap trip, got: $msgs2")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("fuzzyDedupStream: late smaller-id original flips the variant; pairwise batch parity") {
    import graft.operators.Dedup
    val tau = 0.5
    val textA = "the quick brown fox jumps over the lazy dog while rain " +
      "falls on the quiet hillside near the old stone bridge"
    val textA2 = textA + " tonight" // near-dup: 2 new shingles of ~20
    val textB = "completely unrelated payload about sbt builds parquet row " +
      "groups catalyst codegen and shuffle partitions in local mode"
    val root = Files.createTempDirectory("graft_fuzzydedup_stream").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    // batch 1: the LATER id (5) of the near-dup pair arrives first, plus 9
    Seq((5L, textA2), (9L, textB)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$root/f1")
    // batch 2: the smaller-id original (1) arrives late
    Seq((1L, textA)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$root/f2")
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
      Files.copy(p.toPath, dst)
      dst.toFile.setLastModified(if (f == "f1") 1000000L else 2000000L)
    }
    // fixture premise: (1, 5) IS a tau-clearing LSH candidate pair, and
    // 9 pairs with neither — assert it so a hash change fails LOUDLY here
    // instead of as a mysterious stream verdict
    val union = Seq((1L, textA), (5L, textA2), (9L, textB)).toDF("doc_id", "text")
    val cand = Dedup.lshCandidatePairs(union, "doc_id", "text")
      .where(col("est_jaccard") >= tau)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cand === Set((1L, 5L)), s"fixture premise broken: $cand")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      EventStreams.drainToMemory(
        EventStreams.fuzzyDedupStream(stream, tau),
        "fuzzy_dedup_stream", outputMode = "update")
      // reader contract: LAST row per (bucket, id), then AND over buckets
      val rows = spark.table("fuzzy_dedup_stream")
        .select("bucket", "doc_id", "kept_in_bucket")
        .as[(String, Long, Boolean)].collect()
      val lastPerBucket = rows.zipWithIndex
        .groupBy { case ((b, id, _), _) => (b, id) }
        .map { case (_, xs) => val ((_, id, kept), _) = xs.maxBy(_._2); (id, kept) }
      val finals = lastPerBucket.groupBy(_._1).map { case (id, xs) => id -> xs.forall(_._2) }
      assert(finals === Map(1L -> true, 5L -> false, 9L -> true),
        s"got $finals from ${rows.length} rows")
      // doc 5 flipped: a survivor while alone, dropped once 1 arrived
      val fives = rows.filter(_._2 == 5L).map(_._3)
      assert(fives.head && !fives.last, s"expected 5 to flip, saw ${fives.toSeq}")
      // exact parity with the pairwise direct-neighbor batch rule
      val batchDropped = Dedup.lshCandidatePairs(union, "doc_id", "text")
        .where(col("est_jaccard") >= tau).select("id_b").as[Long].collect().toSet
      assert(finals.filter(!_._2).keySet === batchDropped)
      // and, on this star-shaped family, exact agreement with the CC
      // transform too (the documented subset relation collapses to
      // equality when no transitive chains exist)
      val ccKept = Dedup.fuzzyDedupKeepFirst(union, "doc_id", "text", tau = Some(tau))
        .select("doc_id").as[Long].collect().toSet
      assert(finals.filter(_._2).keySet === ccKept)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("q210 fixture margins: within-cluster banding exact, cross-cluster collision-free") {
    // the q210 driver oracle states the kept set in closed form (min doc_id
    // per cluster) WITHOUT computing a MinHash — legitimate only because
    // these margins hold deterministically for the searched fixture, so pin
    // them here (the q205 discipline: margin pin in the spec, closed-form
    // oracle at the driver gate)
    import graft.operators.Dedup
    val union = SparkEntry.fuzzyScrubDocs(spark, recrawl = false)
      .unionAll(SparkEntry.fuzzyScrubDocs(spark, recrawl = true))
    val sigs = union
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhash_sig(col("text")).as("sig"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1)
    assert(sigs.length === 192)
    def cluster(id: Long): Long = (id % 1000000L) / 4L
    def est(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).count { case (x, y) => x == y } / 16.0
    def bandKeys(s: Seq[Long]): Set[Seq[Long]] =
      (0 until 4).map(b => s.slice(b * 4, b * 4 + 4).+:(b.toLong)).toSet
    var minWithin = 1.0
    var withinNoBand = 0
    var maxCross = 0.0
    var crossBand = 0
    for (i <- sigs.indices; j <- (i + 1) until sigs.length) {
      val (ida, sa) = sigs(i); val (idb, sb) = sigs(j)
      val e = est(sa, sb)
      val share = bandKeys(sa).intersect(bandKeys(sb)).nonEmpty
      if (cluster(ida) == cluster(idb)) {
        minWithin = math.min(minWithin, e)
        if (!share) withinNoBand += 1
      } else {
        maxCross = math.max(maxCross, e)
        if (share) crossBand += 1
      }
    }
    assert(minWithin >= 11.0 / 16.0,
      s"within-cluster est margin broken: min $minWithin < 11/16")
    assert(withinNoBand === 0, s"$withinNoBand within pairs share no band")
    assert(maxCross <= 4.0 / 16.0, s"cross est margin broken: max $maxCross")
    assert(crossBand === 0, s"$crossBand cross pairs share a band")
    // with those margins, the batch direct-neighbor rule at tau = 0.5 keeps
    // exactly the min id per cluster — the oracle's closed form
    val dropped = Dedup.lshCandidatePairs(union, "doc_id", "text")
      .where(col("est_jaccard") >= 0.5).select("id_b").as[Long].collect().toSet
    val kept = sigs.map(_._1).toSet -- dropped
    assert(kept === (0 until 24).map(_ * 4L).toSet,
      s"closed-form kept set broken: $kept")
  }

  test("q215 fixture margins: within-cluster one bucket + cosine > 0.9, cross-cluster cosine 0") {
    // the q215 driver oracle states the kept set in closed form (min vec_id
    // per cluster) without computing a dot product — legitimate only
    // because these margins hold for the constructed fixture, so pin them
    // with the ENGINE's own kernels (the same hyperplaneBucketExpr the
    // stream buckets with, the same CosineSimilarity the batch twin joins
    // on)
    import graft.operators.Similarity
    val union = SparkEntry.semanticScrubVecs(spark, recrawl = false)
      .unionAll(SparkEntry.semanticScrubVecs(spark, recrawl = true))
    val rows = union
      .select(col("vec_id"),
        Similarity.hyperplaneBucketExpr("embedding", 8).as("bucket"),
        col("embedding"))
      .as[(Long, Long, Seq[Double])].collect().sortBy(_._1)
    assert(rows.length === 192)
    def cluster(id: Long): Long = (id % 1000000L) / 4L
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // every cluster's 8 vectors (4 originals + 4 re-crawls) share ONE bucket
    rows.groupBy(r => cluster(r._1)).foreach { case (c, xs) =>
      assert(xs.map(_._2).distinct.length === 1,
        s"cluster $c split across buckets ${xs.map(r => (r._1, r._2)).toSeq}")
    }
    var minWithin = 1.0
    var maxCross = 0.0
    for (i <- rows.indices; j <- (i + 1) until rows.length) {
      val (ida, _, va) = rows(i); val (idb, _, vb) = rows(j)
      val e = cos(va, vb)
      if (cluster(ida) == cluster(idb)) minWithin = math.min(minWithin, e)
      else maxCross = math.max(maxCross, e)
    }
    assert(minWithin > 0.9, s"within-cluster cosine margin broken: $minWithin")
    assert(maxCross === 0.0, s"cross-cluster cosine not exactly 0: $maxCross")
    // with those margins the batch SemDeDup keep-first at 0.9 keeps exactly
    // the min id per cluster — the oracle's closed form — and by the
    // stream/batch parity pinned above that IS q215's answer
    val kept = Similarity.semanticDedup(union, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === (0 until 24).map(_ * 4L).toSet,
      s"closed-form kept set broken: $kept")
    // q220 extends the same closed form to the BANDED replay (2 x 6-plane
    // bands): the shared-bucket pigeonhole is weight-agnostic, so pin it
    // per band with the exact offsets the gate uses
    for (band <- 0 until 2) {
      val b = union.select(col("vec_id"),
          Similarity.hyperplaneBucketExpr("embedding", 6, planeOffset = band * 6).as("bucket"))
        .as[(Long, Long)].collect()
      b.groupBy(r => cluster(r._1)).foreach { case (c, xs) =>
        assert(xs.map(_._2).distinct.length === 1,
          s"band $band: cluster $c split across buckets")
      }
    }
    val keptBanded = Similarity.semanticDedupBanded(union, threshold = 0.9,
        nPlanes = 6, bands = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(keptBanded === (0 until 24).map(_ * 4L).toSet,
      s"banded closed-form kept set broken: $keptBanded")
  }

  test("hammingDedupStream: late smaller-id original flips the re-encode; exact-recall parity") {
    import graft.operators.Dedup
    val h1 = 0x0123456789ABCDEFL
    val h2 = h1 ^ 0x5L          // hamming 2: a re-encode of the same image
    val h3 = ~h1                // hamming 64: unrelated
    val root = Files.createTempDirectory("graft_hamdedup_stream").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    Seq((5L, h2), (9L, h3)).toDF("doc_id", "h")
      .coalesce(1).write.parquet(s"$root/f1")
    Seq((1L, h1)).toDF("doc_id", "h")
      .coalesce(1).write.parquet(s"$root/f2")
    for (f <- Seq("f1", "f2");
         p <- new java.io.File(s"$root/$f").listFiles() if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(dir, s"$f-${p.getName}")
      Files.copy(p.toPath, dst)
      dst.toFile.setLastModified(if (f == "f1") 1000000L else 2000000L)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      EventStreams.drainToMemory(
        EventStreams.hammingDedupStream(stream, maxHamming = 3),
        "hamming_dedup_stream", outputMode = "update")
      val rows = spark.table("hamming_dedup_stream")
        .select("bucket", "doc_id", "kept_in_bucket")
        .as[(Long, Long, Boolean)].collect()
      val lastPerBucket = rows.zipWithIndex
        .groupBy { case ((b, id, _), _) => (b, id) }
        .map { case (_, xs) => val ((_, id, kept), _) = xs.maxBy(_._2); (id, kept) }
      val finals = lastPerBucket.groupBy(_._1).map { case (id, xs) => id -> xs.forall(_._2) }
      assert(finals === Map(1L -> true, 5L -> false, 9L -> true),
        s"got $finals from ${rows.length} rows")
      val fives = rows.filter(_._2 == 5L).map(_._3)
      assert(fives.head && !fives.last, s"expected 5 to flip, saw ${fives.toSeq}")
      // exact-recall parity: the pigeonhole banding makes the stream's
      // AND-over-buckets verdict equal the pairwise rule with no
      // banding-probability caveat
      val union = Seq((1L, h1), (5L, h2), (9L, h3)).toDF("doc_id", "h")
      val batchDropped = Dedup.hammingNearDupPairs64(union, "doc_id", "h", maxHamming = 3)
        .select("id_b").as[Long].collect().toSet
      assert(finals.filter(!_._2).keySet === batchDropped)
      // and CC-transform agreement on the star family (empty prior index)
      val emptyIdx = Dedup.hammingIndex64(
        Seq.empty[(Long, Long)].toDF("doc_id", "h"), "doc_id", "h")
      val ccKept = Dedup.incrementalHammingDedupKeepFirst(
          union, "doc_id", "h", emptyIdx, maxHamming = 3)
        .select("doc_id").as[Long].collect().toSet
      assert(finals.filter(_._2).keySet === ccKept)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("semanticDedupStream TTL evicts stale vectors; late dups then survive (documented divergence)") {
    // the documented batch-parity trade: after the seen-vector state
    // expires, a later-id near-dup of an evicted vector is KEPT (the
    // batch twin, seeing all vectors, would drop it)
    val v1 = Seq(1.0, 0.5, -0.25, 1.0, 0.75, -0.5, 0.3, 1.1)
    val v2 = v1.map(_ * 1.001) // near-dup of v1, same bucket
    val root = Files.createTempDirectory("graft_semdedup_ttl").toString
    val dir = s"$root/in"
    new java.io.File(dir).mkdirs()
    def writeBatch(name: String, rows: Seq[(Long, Seq[Double])]): Unit = {
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$root/$name")
      for (p <- new java.io.File(s"$root/$name").listFiles() if p.getName.endsWith(".parquet"))
        Files.copy(p.toPath, java.nio.file.Path.of(dir, s"$name-${p.getName}"))
    }
    writeBatch("f1", Seq((1L, v1)))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val schema = spark.read.parquet(dir).schema
      val stream = EventStreams.readFileStream(spark, dir, schema, maxFilesPerTrigger = 1)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
      // TTL -> processing-time mode: long-lived stream, poll, stop (the
      // funnelStream TTL drill; AvailableNow would never see f2)
      val q = EventStreams.semanticDedupStream(stream, threshold = 0.95,
          ttl = Some(java.time.Duration.ofSeconds(3)))
        .writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val rows = batch.collect()
          buf.synchronized { rows.foreach(r => buf += ((id, r.getLong(1), r.getBoolean(2)))) }
        }.start()
      def last(id: Long): Option[Boolean] =
        buf.synchronized { buf.filter(_._2 == id).sortBy(_._1).lastOption.map(_._3) }
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (last(1L).isEmpty && System.nanoTime() < deadline) Thread.sleep(250)
        assert(last(1L) === Some(true))
        Thread.sleep(4500) // > ttl: vector 1 evicted from bucket state
        writeBatch("f2", Seq((5L, v2)))
        while (last(5L).isEmpty && System.nanoTime() < deadline) Thread.sleep(250)
        assert(last(5L) === Some(true),
          "dup of an EVICTED vector must survive — the documented TTL divergence")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
