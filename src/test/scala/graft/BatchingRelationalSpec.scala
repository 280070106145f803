package graft

import graft.operators.{Batching, Relational}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class BatchingRelationalSpec extends SparkSuite {
  import spark.implicits._

  private lazy val nums = spark.range(0, 1000).toDF("n")

  test("microBatchId: every batch full except possibly the last (G1)") {
    val out = Batching.microBatchId(nums, Seq("n"), 200)
    val sizes = out.groupBy("batch_id").count().orderBy("batch_id")
      .as[(Long, Long)].collect()
    assert(sizes.map(_._2).forall(_ == 200))
    assert(sizes.map(_._1) === Array(0L, 1L, 2L, 3L, 4L))
    // 1001 rows -> partial final batch of 1
    val odd = Batching.microBatchId(spark.range(0, 1001).toDF("n"), Seq("n"), 200)
      .groupBy("batch_id").count().orderBy("batch_id").as[(Long, Long)].collect()
    assert(odd.last === (5L, 1L))
  }

  test("byteBudgetChunkId: chunk sums bounded by budget + one row (G3)") {
    val out = Batching.byteBudgetChunkId(nums, Seq("n"), 100L, Seq("n"))
    val withBytes = out.withColumn("b", length(col("n").cast("string")) + 1)
    val maxRow = withBytes.agg(max("b")).head().getInt(0).toLong
    val perChunk = withBytes.groupBy("chunk_id").agg(sum("b").as("bytes"))
      .as[(Long, Long)].collect()
    // cumulative-sum bucketing may overshoot by at most one row (see scaladoc)
    assert(perChunk.forall(_._2 <= 100L + maxRow))
    // chunk ids are dense 0..k and membership is total
    assert(out.count() === 1000)
    assert(perChunk.map(_._1).sorted === (0L until perChunk.length).toArray)
  }

  test("prefixSum (distributed two-phase scan) equals the window cumsum") {
    val df = spark.range(0, 500).toDF("n").repartition(7)
      .withColumn("v", (col("n") % 13) + 1)
    val got = Batching.prefixSum(df, Seq("n"), "v", "cum")
      .orderBy("n").select("cum").as[Long].collect()
    val expected = (0L until 500L).map(n => (n % 13) + 1).scanLeft(0L)(_ + _).tail
    assert(got === expected.toArray)
  }

  test("blockPack: docs straddle block boundaries with exact overlap counts") {
    import graft.operators.Batching
    // token counts (+1 EOS each): A 5+1=6, B 3+1=4, C 2+1=3 -> stream of 13
    // tokens cut into blocks of 8: A fills [0,6); B [6,10) straddles the
    // boundary (2 tokens in block 0, 2 in block 1); C [10,13) in block 1.
    val docs = Seq((1L, "a b c d e"), (2L, "f g h"), (3L, "i j"))
      .toDF("doc_id", "text")
    val out = Batching.blockPack(docs, Seq("doc_id"), 8,
      graft.operators.TextAnalysis.tokenCount(col("text")))
      .select("doc_id", "block_id", "n_tokens")
      .orderBy("doc_id", "block_id")
      .as[(Long, Long, Long)].collect()
    assert(out === Array(
      (1L, 0L, 6L), (2L, 0L, 2L), (2L, 1L, 2L), (3L, 1L, 3L)))
    // every block except the last is exactly full
    val perBlock = out.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(perBlock === Map(0L -> 8L, 1L -> 5L))
  }

  test("paddedBatchStats: length-sorted batches beat arrival order; nulls clamp") {
    import graft.operators.Batching
    // lens by id: 1->10, 2->2, 3->8, 4->2, 5->4; batches of 2.
    // sorted by (len, id): [2,4] [5,3] [1] -> padding 0, 0.25, 0
    // arrival by id:       [1,2] [3,4] [5] -> padding 0.4, 0.375, 0
    val docs = Seq((1L, 10L), (2L, 2L), (3L, 8L), (4L, 2L), (5L, 4L))
      .toDF("doc_id", "n_tok")
    val sorted = Batching.paddedBatchStats(docs, "doc_id", "n_tok", 2)
      .orderBy("batch_id")
      .as[(Long, Long, Long, Long, Double, Long)].collect()
    assert(sorted === Array(
      (0L, 2L, 2L, 4L, 0.0, 2L),
      (1L, 2L, 8L, 12L, 0.25, 3L),
      (2L, 1L, 10L, 10L, 0.0, 1L)))
    val arrival = Batching.paddedBatchStats(docs, "doc_id", "n_tok", 2,
      sortByLength = false).orderBy("batch_id")
      .as[(Long, Long, Long, Long, Double, Long)].collect()
    assert(arrival.map(_._5).toSeq === Seq(0.4, 0.375, 0.0))
    // the point of the operator: sorting strictly reduces total padding
    assert(sorted.map(_._5).sum < arrival.map(_._5).sum)
    // null length sorts first as 0, never drops the row
    val withNull = Seq((1L, java.lang.Long.valueOf(7L)),
      (2L, null.asInstanceOf[java.lang.Long])).toDF("doc_id", "n_tok")
    val nb = Batching.paddedBatchStats(withNull, "doc_id", "n_tok", 2)
      .as[(Long, Long, Long, Long, Double, Long)].collect()
    assert(nb === Array((0L, 2L, 7L, 7L, 0.5, 1L))) // first_id = min(id)
    intercept[IllegalArgumentException](
      Batching.paddedBatchStats(docs, "doc_id", "n_tok", 0))
  }

  test("nextChunkNumber resumes from max+1, default 0 (A5)") {
    assert(Batching.nextChunkNumber(Seq.empty[Long].toDF("chunk"), "chunk") === 0L)
    assert(Batching.nextChunkNumber(Seq(3L, 7L, 5L).toDF("chunk"), "chunk") === 8L)
  }

  test("writeChunked bounds records per file (K1/K3)") {
    val dir = Files.createTempDirectory("graft_chunks").toString
    Batching.writeChunked(nums.repartition(1), dir, 300)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 4) // 1000 rows / 300 per file in one partition
    assert(spark.read.parquet(dir).count() === 1000)
  }

  test("shardPlan: uniform slots, seeded shuffle order, seed-deterministic") {
    val docs = (1L to 200L).map(i => (i, s"tok$i word$i")).toDF("doc_id", "text")
    val plan = Batching.shardPlan(docs, "doc_id", "text", nShards = 4, seed = 7L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // every doc lands exactly once; shards partition the corpus
    assert(plan.map(_._1) === (1L to 200L).toArray)
    assert(plan.map(_._2).distinct.sorted === Array(0L, 1L, 2L, 3L))
    // pos is a 1..n permutation within each shard
    plan.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted === (1L to rows.length).toArray) }
    // within-shard order is NOT id order (the whole point: no crawl order)
    assert(plan.groupBy(_._2).values.exists(rows =>
      rows.sortBy(_._3).map(_._1).toSeq != rows.map(_._1).sorted.toSeq))
    // same seed replays byte-identically; a new seed re-deals
    val again = Batching.shardPlan(docs, "doc_id", "text", 4, 7L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(again === plan)
    val other = Batching.shardPlan(docs, "doc_id", "text", 4, 8L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(other.map(r => (r._2, r._3)).toSeq != plan.map(r => (r._2, r._3)).toSeq)
    assert(plan.map(_._4).forall(_ === 2L)) // "tokN wordN" = 2 tokens
    intercept[IllegalArgumentException](
      Batching.shardPlan(docs, "doc_id", "text", 0, 7L))
  }

  test("writeJsonlShards: shard dirs in plan order, byte-identical re-runs") {
    val docs = (1L to 60L).map(i => (i, s"body of document $i")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_jsonl").toString
    Batching.writeJsonlShards(docs, "doc_id", "text", nShards = 3, seed = 5L, dir)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).sorted
    assert(shardDirs === Array("shard=0", "shard=1", "shard=2"))
    val plan = Batching.shardPlan(docs, "doc_id", "text", 3, 5L)
      .as[(Long, Long, Long, Long)].collect()
    def readShard(s: Long): Seq[Long] = {
      val f = new java.io.File(s"$dir/shard=$s").listFiles()
        .filter(f => f.getName.endsWith(".txt") || f.getName.startsWith("part-"))
      assert(f.nonEmpty)
      f.sortBy(_.getName).toSeq.flatMap(file =>
        scala.io.Source.fromFile(file).getLines().map { line =>
          // one JSON object per line with id + text
          assert(line.startsWith("{\"id\":") && line.contains("\"text\":"))
          line.drop("{\"id\":".length).takeWhile(_.isDigit).toLong
        })
    }
    (0L to 2L).foreach { s =>
      val expected = plan.filter(_._2 == s).sortBy(_._3).map(_._1).toSeq
      assert(readShard(s) === expected, s"shard $s order mismatch")
    }
    // determinism: a second write produces identical bytes per shard
    val firstBytes = (0L to 2L).map(readShard)
    Batching.writeJsonlShards(docs, "doc_id", "text", 3, 5L, dir)
    assert((0L to 2L).map(readShard) === firstBytes)
  }

  test("withRowIndex equals row_number()-1 semantics, distributed (J1)") {
    val df = Seq(30L, 10L, 20L).toDF("k")
    val out = Relational.withRowIndex(df, Seq("k")).orderBy("idx")
      .as[(Long, Long)].collect()
    assert(out === Array((10L, 0L), (20L, 1L), (30L, 2L)))
  }

  test("withRowIndex: stable across re-collects, dense under ties (persist guard)") {
    // Duplicate sort keys over many input partitions: if the sorted lineage
    // were recomputed between zipWithIndex's two jobs (or between collects),
    // tied rows could swap indices. The checkpoint pins one assignment.
    val df = spark.range(0, 400).toDF("n")
      .repartition(13)
      .withColumn("k", col("n") % 5) // heavy ties on the sort key
    val idx = Relational.withRowIndex(df, Seq("k"))
    val first = idx.orderBy("n").select("n", "idx").as[(Long, Long)].collect()
    val second = idx.orderBy("n").select("n", "idx").as[(Long, Long)].collect()
    assert(first === second)
    assert(first.map(_._2).sorted === (0L until 400L).toArray)
    // the result carries no hidden cache registration for the caller to free
    assert(idx.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("detachWithFlagCount: detach's job count, exact count, 0 on empty, reliable dir") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf[T](body: => T): (T, Int) = {
      org.apache.spark.sql.GraftSqlBridge.awaitListeners(spark)
      jobs.set(0)
      val out = body
      org.apache.spark.sql.GraftSqlBridge.awaitListeners(spark)
      (out, jobs.get)
    }
    // 1000 groups (a shuffle stage, then the result stage); 143 flagged
    def grouped = spark.range(0, 100000).groupBy((col("id") % 1000).as("k")).count()
      .withColumn("flag", col("k") % 7 === 0)
    // no shuffle; flags are true, false AND null (a null flag is not counted)
    def narrow = spark.range(0, 100000)
      .withColumn("flag", when(col("id") % 5 =!= 1, col("id") % 7 === 0))
    val narrowFlagged = (0L until 100000L).count(i => i % 5 != 1 && i % 7 == 0)
    def check(): Unit = for ((df, flagged, rows) <- Seq(
        (() => grouped, 143L, 1000L), (() => narrow, narrowFlagged.toLong, 100000L))) {
      val (_, plainJobs) = jobsOf(Relational.detach(df()))
      val ((out, n), jobs) = jobsOf(Relational.detachWithFlagCount(df(), "flag"))
      assert(jobs === plainJobs, "the count must ride the detach's own jobs")
      assert(n === flagged)
      assert(out.count() === rows)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      check()
      val (_, empty) = Relational.detachWithFlagCount(
        spark.range(0).withColumn("flag", lit(true)), "flag")
      assert(empty === 0L)
      intercept[IllegalArgumentException](
        Relational.detachWithFlagCount(spark.range(3).toDF("flag"), "flag"))
      val dir = Files.createTempDirectory("graft-ckpt").toFile
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      try {
        check()
        def files(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
        assert(files(dir).nonEmpty, "no reliable checkpoint files were written")
      } finally spark.sparkContext.setCheckpointDir(null) // back to local checkpoints
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("positionalJoin aligns by rank on each side's own order (J1)") {
    val left = Seq(("x", 2), ("y", 1)).toDF("lv", "lk")
    val right = Seq((100, "b"), (200, "a")).toDF("rk", "rv")
    val out = Relational.positionalJoin(left, Seq("lk"), right, Seq("rv"))
      .orderBy("idx").select("lv", "rv").as[(String, String)].collect()
    // left order by lk: y(1), x(2); right order by rv: a, b
    assert(out === Array(("y", "a"), ("x", "b")))
  }

  test("moduloJoin cycles the small side (J2)") {
    val big = spark.range(0, 10).toDF("b")
    val small = Seq("p", "q", "r").toDF("s")
    val out = Relational.moduloJoin(big, Seq("b"), small, Seq("s"))
      .orderBy("b").select("s").as[String].collect()
    assert(out === Array("p", "q", "r", "p", "q", "r", "p", "q", "r", "p"))
  }

  test("topK matches sort-limit with deterministic ties (O3)") {
    val df = Seq(("a", 3.0), ("b", 3.0), ("c", 1.0)).toDF("k", "v")
    val out = Relational.topK(df, 2, col("v").desc, col("k").asc)
      .select("k").as[String].collect()
    assert(out === Array("a", "b"))
  }

  test("randomSplit: deterministic per seed, disjoint, sizes sum (O4)") {
    val df = spark.range(0, 1000).toDF("n")
    val Array(a1, b1) = Relational.randomSplit(df, Array(0.7, 0.3), seed = 42)
    val Array(a2, _) = Relational.randomSplit(df, Array(0.7, 0.3), seed = 42)
    assert(a1.count() + b1.count() === 1000)
    assert(a1.intersect(b1).count() === 0)
    assert(a1.exceptAll(a2).count() === 0) // same seed -> same split
  }

  test("saltedJoin matches plain join results under a hot key") {
    val big = Seq.fill(500)(("hot", 1)).toDF("k", "v")
      .union(Seq(("cold", 2), ("cold", 3)).toDF("k", "v"))
    val small = Seq(("hot", "H"), ("cold", "C"), ("orphan", "O")).toDF("k", "tag")
    val plain = big.join(small, "k")
    val salted = Relational.saltedJoin(big, small, "k", salts = 8)
    assert(salted.count() === plain.count())
    assert(salted.groupBy("k").count().orderBy("k").as[(String, Long)].collect()
      === Array(("cold", 2L), ("hot", 500L)))
  }

  test("unionAll composes lazily by name (U1)") {
    val parts = Seq(Seq(1).toDF("v"), Seq(2).toDF("v"), Seq(3).toDF("v"))
    assert(Relational.unionAll(parts).as[Int].collect().sorted === Array(1, 2, 3))
  }

  test("bloomSemiJoin equals the plain semi join (build -> probe -> exact)") {
    val fact = spark.range(0, 5000).toDF("fk")
      .withColumn("payload", col("fk") * 3)
    // dim keys = multiples of 7 in [0, 5000) plus some keys absent from fact
    val dim = spark.range(0, 800).toDF("dk").select((col("dk") * 7).as("dk"))
    val viaBloom = Relational.bloomSemiJoin(fact, dim, "fk", "dk", numBits = 1 << 12)
      .orderBy("fk").as[(Long, Long)].collect()
    val plain = fact.join(dim.select(col("dk").as("fk")), Seq("fk"), "left_semi")
      .orderBy("fk").as[(Long, Long)].collect()
    assert(viaBloom === plain,
      "the bloom prefilter must be result-preserving (exact join absorbs FPs)")
    assert(viaBloom.length === 715) // multiples of 7 below 5000
    // empty dim -> empty result (all-zero filter, nothing survives)
    assert(Relational.bloomSemiJoin(fact, dim.where(col("dk") < 0), "fk", "dk")
      .count() === 0L)
  }

  test("bloomAntiJoin equals the plain anti join; tiny filter just means more exact work") {
    val fact = spark.range(0, 5000).toDF("fk")
      .withColumn("payload", col("fk") * 3)
    val dim = spark.range(0, 800).toDF("dk").select((col("dk") * 7).as("dk"))
    val plain = fact.join(dim.select(col("dk").as("fk")), Seq("fk"), "left_anti")
      .orderBy("fk").as[(Long, Long)].collect()
    val viaBloom = Relational.bloomAntiJoin(fact, dim, "fk", "dk", numBits = 1 << 12)
      .orderBy("fk").as[(Long, Long)].collect()
    assert(viaBloom === plain,
      "definitely-fresh arm + exact arm must reassemble the anti join exactly")
    assert(plain.length === 5000 - 715)
    // a deliberately saturated 64-bit filter routes ~everything to the
    // exact arm — result unchanged (FPs only cost work, never rows)
    val saturated = Relational.bloomAntiJoin(fact, dim, "fk", "dk", numBits = 64)
      .orderBy("fk").as[(Long, Long)].collect()
    assert(saturated === plain)
    // empty dim -> everything is fresh
    assert(Relational.bloomAntiJoin(fact, dim.where(col("dk") < 0), "fk", "dk")
      .count() === 5000L)
  }

  test("incrementalDedupKeepFirst with bloom split is result-identical (narrow + wide)") {
    import graft.operators.Dedup
    val idx = Seq((1L, "seen one"), (2L, "seen two")).toDF("doc_id", "text")
    val wave = Seq(
      (10L, "seen one"),   // in index -> drop
      (11L, "fresh a"), (12L, "fresh b"),
      (13L, "fresh a"),    // intra-batch dup -> keep-first (11)
      (14L, "seen two"),   // in index -> drop
      (15L, "fresh c")).toDF("doc_id", "text")
    for (wide <- Seq(false, true)) {
      val seen = Dedup.fingerprints(idx, "text", wide)
      val base = Dedup.incrementalDedupKeepFirst(wave, "doc_id", "text", seen, wide)
        .select("doc_id").as[Long].collect().sorted
      assert(base === Array(11L, 12L, 15L))
      val viaBloom = Dedup.incrementalDedupKeepFirst(wave, "doc_id", "text", seen,
        wide, bloomBits = Some(1 << 10))
        .select("doc_id").as[Long].collect().sorted
      assert(viaBloom === base, s"bloom split changed results (wide=$wide)")
    }
  }

  test("degenerate inputs fail fast instead of silently emptying the result") {
    val d = nums.limit(3)
    // idx % 0 would null every index and drop all big rows
    intercept[IllegalArgumentException](
      Relational.moduloJoin(nums, Seq("n"), nums.where(col("n") < 0), Seq("n")))
    intercept[IllegalArgumentException](Relational.unionAll(Nil))
    // sequence(0, -1) is empty -> zero replicated small rows
    intercept[IllegalArgumentException](
      Relational.saltedJoin(nums, d.withColumnRenamed("n", "k"), "n", salts = 0))
    intercept[IllegalArgumentException](
      Relational.groupTopK(d.withColumn("rank", lit(1)), Seq("n"), 1, col("n")))
  }
}
