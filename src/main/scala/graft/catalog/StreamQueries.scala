package graft
package catalog

import SparkEntry._
import graft.meta.Tables
import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** The streaming driver gates: two-wave scrubs and sessionization run
  * through Structured Streaming over staged input waves. */
private[graft] object StreamQueries {
  val entries: Seq[Q] = Seq(

    // The streaming dedup ladder's perceptual rung as a DRIVER query —
    // q192's synthetic image corpus replayed through the
    // transformWithState Manku-banded scrub (Trigger.AvailableNow, file
    // source, RocksDB state store), then the documented reader contract
    // (LAST row per (bucket, id), AND over an id's buckets) reduces the
    // Update-mode log to the kept set. Within-pattern dHash distances are
    // <= 3 bits and cross-pattern far (MediaSpec margins), and pigeonhole
    // banding is exact at that radius, so keep-first leaves EXACTLY the
    // smallest id per pattern — ids 0..15, a closed form the oracle
    // states without decoding an image. Promotes the streaming ladder
    // from unit-only to the driver's hash gate.
    Q("q205_image_scrub_stream", (s, dir) => {
      import s.implicits._
      val entries = s.range(64).as[Long].map { k =>
        val fmt = if ((k / 16) % 2 == 0) "png" else "jpg"
        Media.ZipEntryRow("synth", f"img_$k%03d.$fmt",
          Media.syntheticImage((k % 16).toInt, fmt))
      }
      val hashes = Media.imageDHashes(entries)
        .select(regexp_extract(col("entry"), "img_(\\d+)", 1)
          .cast("long").as("img_id"), col("dhash"))
      val root = gateTempDir("graft_q205")
      hashes.coalesce(1).write.parquet(s"$root/in")
      withStreamGateConf(s) {
        val schema = s.read.parquet(s"$root/in").schema
        val q = graft.streaming.EventStreams.hammingDedupStream(
            graft.streaming.EventStreams.readFileStream(s, s"$root/in", schema),
            maxHamming = 3, idCol = "img_id", hashCol = "dhash")
          .writeStream
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            df.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(s"$root/out"): Unit
          }
          .outputMode("update")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val w = Window.partitionBy("bucket", "img_id").orderBy(col("batch_id").desc)
      s.read.parquet(s"$root/out")
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .groupBy("img_id")
        .agg(expr("bool_and(kept_in_bucket)").as("_kept"))
        .where(col("_kept"))
        .select(col("img_id"))
        .orderBy("img_id")
    }, Oracle(
      // Keep-first over clusters that are exactly the 16 patterns (q192's
      // pair-structure argument + exact pigeonhole banding at radius 3)
      // leaves the minimal id per pattern — which IS 0..15 by the
      // generator's id layout (pattern = id mod 16, four renderings at
      // id, id+16, id+32, id+48).
      "SELECT range AS img_id FROM range(0, 16) ORDER BY img_id")),

    // The streaming dedup ladder's EXACT rung as a driver query (q205's
    // discipline, two micro-batches): a re-crawl wave (same text,
    // id-shifted +1e6) replays FIRST, the originals arrive in the second
    // micro-batch — so every wave-1 keeper must be retroactively FLIPPED
    // by its smaller-id original (the transformWithState Update-mode
    // contract), and the reader reduction (last row per id, kept only)
    // must land on exactly the batch keep-first answer: the min doc_id
    // per text over the originals — a closed form the oracle states as
    // one correlated subquery. A broken flip path leaves shifted ids in
    // the kept set and fails the hash.
    Q("q206_text_scrub_stream", (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val root = gateTempDir("graft_q206")
      val in = stageGateWaves(root, Seq(
        "w1" -> docs.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")),
        "w2" -> docs))
      withStreamGateConf(s) {
        val schema = s.read.parquet(in).schema
        val q = graft.streaming.EventStreams.incrementalDedupStream(
            graft.streaming.EventStreams.readFileStream(s, in, schema))
          .writeStream
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            df.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(s"$root/out"): Unit
          }
          .outputMode("update")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val w = Window.partitionBy("doc_id").orderBy(col("batch_id").desc)
      s.read.parquet(s"$root/out")
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1 && col("kept"))
        .select("doc_id")
        .orderBy("doc_id")
    }, Oracle(
      // Batch keep-first over the ORIGINALS is the streaming answer: every
      // wave-1 re-crawl (id + 1e6, same text) is flipped by its later-
      // arriving, smaller-id original, and within the originals the
      // smallest doc_id per text survives.
      """SELECT doc_id FROM documents
        |WHERE doc_id = (SELECT min(d2.doc_id) FROM documents d2
        |                WHERE d2.text = documents.text)
        |ORDER BY doc_id""".stripMargin)),

    // The streaming dedup ladder's FUZZY (MinHash-LSH) rung at the driver
    // gate — the steady-state scrub a crawl pipeline actually runs, and
    // the last dedup tier that was unit-only. q206's two-wave retroactive-
    // flip replay on NEAR-DUP text (not exact copies — the LSH banding and
    // the est-Jaccard >= tau comparison both do real work): wave 1 is a
    // re-crawl (ids +1e6, one token mutated) arriving FIRST, wave 2 the
    // originals — so every wave-1 keeper must be retroactively flipped by
    // a smaller-id original through an Update-mode flip row, and the
    // reader contract (LAST row per (bucket, id), AND over an id's
    // buckets) must land on exactly the batch keep-first answer. The
    // fixture ([[fuzzyScrubDocs]]) is a 24-cluster corpus whose MinHash
    // margins make banding EXACT (q205's pigeonhole argument, pinned in
    // EventStreamsSpec): within-cluster pairs est >= 11/16 and share >= 1
    // of the 4 bands, cross-cluster pairs share NO band and est = 0 — so
    // at tau = 0.5 the kept set has the closed form "min doc_id per
    // cluster" = {4c : c < 24}, which the oracle states without computing
    // a single MinHash.
    Q("q210_fuzzy_scrub_stream", (s, dir) => {
      val root = gateTempDir("graft_q210")
      val in = stageGateWaves(root, Seq(
        "w1" -> fuzzyScrubDocs(s, recrawl = true),
        "w2" -> fuzzyScrubDocs(s, recrawl = false)))
      withStreamGateConf(s) {
        val schema = s.read.parquet(in).schema
        val q = graft.streaming.EventStreams.fuzzyDedupStream(
            graft.streaming.EventStreams.readFileStream(s, in, schema),
            tau = 0.5)
          .writeStream
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            df.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(s"$root/out"): Unit
          }
          .outputMode("update")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val w = Window.partitionBy("bucket", "doc_id").orderBy(col("batch_id").desc)
      s.read.parquet(s"$root/out")
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .groupBy("doc_id")
        .agg(expr("bool_and(kept_in_bucket)").as("_kept"))
        .where(col("_kept"))
        .select(col("doc_id"))
        .orderBy("doc_id")
    }, Oracle(
      // Keep-first over the fuzzyScrubDocs fixture's 24 near-dup clusters:
      // within-cluster banding is exact and cross-cluster collision-free
      // (margins pinned in EventStreamsSpec), so after the re-crawl wave's
      // keepers are all retroactively flipped by their smaller-id originals
      // the kept set IS the minimal original per cluster — ids 0,4,...,92
      // by the generator's id layout (cluster = id div 4).
      "SELECT range * 4 AS doc_id FROM range(0, 24) ORDER BY doc_id")),

    // The streaming dedup ladder's SEMANTIC (embedding) rung at the
    // driver gate — the last tier that was unit-only. q210's two-wave
    // retroactive-flip replay on NEAR-DUP vectors: wave 1 is a re-crawl
    // (ids +1e6, perturbed copies) arriving FIRST, wave 2 the originals —
    // every wave-1 keeper must be flipped by a smaller-id original
    // through an Update-mode flip row, and the reader contract (LAST
    // row per (bucket, vec_id), kept only; a vector lives in exactly ONE
    // hyperplane bucket so no cross-bucket AND is needed) must land on
    // the batch keep-first answer. The fixture ([[semanticScrubVecs]])
    // makes BOTH comparisons provable: within a cluster every pair's
    // cosine is >= 0.967 (> 0.9 = threshold) AND all 8 vectors share
    // their hyperplane bucket (the base direction's plane dots have
    // |dot| >= 8 while every perturbation's L1 norm is <= 6 < 8, so no
    // sign can flip — weights are in {-1,0,1}); across clusters supports
    // are DISJOINT so cosine is exactly 0 and a bucket collision can
    // never drop anything. The kept set therefore has the closed form
    // "min vec_id per cluster" = {4c : c < 24}, which the oracle states
    // without computing a single dot product. Margins pinned in
    // EventStreamsSpec, not assumed.
    Q("q215_semantic_scrub_stream", (s, dir) => {
      val root = gateTempDir("graft_q215")
      val in = stageGateWaves(root, Seq(
        "w1" -> semanticScrubVecs(s, recrawl = true),
        "w2" -> semanticScrubVecs(s, recrawl = false)))
      withStreamGateConf(s) {
        val schema = s.read.parquet(in).schema
        // maxFilesPerTrigger = 1 is what makes this a TWO-batch replay —
        // the retroactive flip being gated needs wave 2 in a later
        // micro-batch than wave 1. Pinned explicitly (like q217) rather
        // than inherited from readFileStream's default.
        val q = graft.streaming.EventStreams.semanticDedupStream(
            graft.streaming.EventStreams.readFileStream(s, in, schema,
              maxFilesPerTrigger = 1),
            threshold = 0.9)
          .writeStream
          // r22 measured, rejected: coalesce(1) before the sink write (to
          // cut committer/file overhead) SERIALIZES the 4 state-store
          // partitions into one task — addBatch 0.68/0.36 s -> 0.91/0.58 s
          // warm. The 4-task write is the floor.
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            df.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(s"$root/out"): Unit
          }
          .outputMode("update")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val w = Window.partitionBy("bucket", "vec_id").orderBy(col("batch_id").desc)
      s.read.parquet(s"$root/out")
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1 && col("kept"))
        .select(col("vec_id"))
        .orderBy("vec_id")
    }, Oracle(
      // Keep-first over the semanticScrubVecs fixture's 24 clusters:
      // within-cluster cosines all clear 0.9 and the 8 vectors share a
      // hyperplane bucket (margins pinned in EventStreamsSpec); across
      // clusters supports are disjoint so cosine is exactly 0 — after the
      // re-crawl wave's keepers are retroactively flipped by the
      // smaller-id originals the kept set IS the minimal original per
      // cluster, ids 0,4,...,92 by the generator's layout.
      "SELECT range * 4 AS vec_id FROM range(0, 24) ORDER BY vec_id")),

    // The streaming SESSIONIZER at the driver gate — the last stateful
    // streaming operator that was unit-only. The whole events table
    // replays as one micro-batch, then two sentinel waves (a user id no
    // real event carries, filtered from the result) advance the
    // watermark past every open session's horizon and give the
    // event-time timers a batch to fire in — so EVERY real session is
    // emitted, observed-gap closes and timer closes both. Cost note
    // (r22): three trigger rounds on the HDFS-backed store (single
    // column family — flatMapGroupsWithState needs no RocksDB), all
    // waves staged by ONE write job, and the post-watermark no-data
    // batch disabled (it only ever emitted the second sentinel's own
    // filtered session — see withStreamGateConf). The third trigger is
    // not trimmable: event-time timers fire one batch AFTER the
    // watermark passes them, and exercising that timer path end-to-end
    // is this gate's point (the unit tests cover it; no driver gate
    // did). The oracle is
    // the batch gaps-and-islands closed form (q20's arithmetic): session
    // membership depends only on each user's sorted event times, so the
    // stream's per-batch sort and the window's (ts, event_id) order
    // agree on every (user, start, end, n) row — including µs-exact
    // bounds (the r17 µs fix is ON this path). Emitted session bounds
    // are cast back to TIMESTAMP_NTZ for DuckDB parity (UTC session).
    Q("q217_sessionize_stream", (s, dir) => {
      // deterministic 1-in-5 user subset: the gate's strength is per-user
      // session arithmetic, which does not grow with more users — the
      // subset keeps the replay in the streaming class's 2-3s cost band
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
        .where(col("user_id") % 5 === 0)
      val maxRow = ev.agg(max(unix_micros(col("ts").cast("timestamp")))).head()
      require(!maxRow.isNullAt(0),
        s"q217: no events with user_id % 5 = 0 under $dir — cannot place sentinel waves")
      val maxUs = maxRow.getLong(0)
      val sentinel = 9999999999L
      val root = gateTempDir("graft_q217")
      def sentinelWave(off: Long): DataFrame =
        s.range(1).select(lit(sentinel).cast("long").as("user_id"),
          expr(s"CAST(timestamp_micros(${maxUs + off}) AS TIMESTAMP_NTZ)").as("ts"))
      val in = stageGateWaves(root, Seq(
        "w1" -> ev.select(col("user_id").cast("long").as("user_id"),
          col("ts").cast("timestamp_ntz").as("ts")),
        "w2" -> sentinelWave(3600000000L),
        "w3" -> sentinelWave(7200000000L)))
      // hdfs provider + no no-data batch: see withStreamGateConf — this is
      // the one gate on the single-column-family state API, and its timer
      // coverage is provided by the sentinel waves, not the no-data batch
      withStreamGateConf(s, stateProvider = "hdfs", noDataBatches = false) {
        val schema = s.read.parquet(in).schema
        val q = graft.streaming.EventStreams.sessionizeStream(
            graft.streaming.EventStreams.readFileStream(s, in, schema,
              maxFilesPerTrigger = 1),
            "ts", "user_id", gapMinutes = 30)
          .writeStream
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            df.write.mode("append").parquet(s"$root/out"): Unit
          }
          .outputMode("append")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.parquet(s"$root/out")
        .where(col("user_id") =!= sentinel)
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    }, Oracle(
      // q20's gaps-and-islands arithmetic regrouped to (user, start, end,
      // n): session membership is a function of each user's SORTED event
      // times alone (equal-ts ties can shuffle which row carries the break
      // flag, never which session a row lands in), so this closed form is
      // exactly what the streaming sessionizer must emit once the sentinel
      // waves have closed every real session.
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |  WHERE user_id % 5 = 0),
        |g AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |  OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM g)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    // The BANDED semantic rung at the driver gate — q215's two-wave
    // retroactive-flip replay through semanticDedupStreamBanded, with the
    // AND-over-bands reader (fuzzyDedupStream's contract) made explicit.
    // The fixture's shared-bucket pigeonhole is weight-agnostic (see
    // [[semanticScrubVecs]]), so it holds in EACH band independently:
    // every cluster occupies exactly one bucket per band, cross-cluster
    // cosine is exactly 0, and the kept set stays the q215 closed form
    // "min vec_id per cluster" no matter how band buckets collide.
    Q("q220_semantic_scrub_stream_banded", (s, dir) => {
      val root = gateTempDir("graft_q220")
      val in = stageGateWaves(root, Seq(
        "w1" -> semanticScrubVecs(s, recrawl = true),
        "w2" -> semanticScrubVecs(s, recrawl = false)))
      withStreamGateConf(s) {
        val schema = s.read.parquet(in).schema
        val q = graft.streaming.EventStreams.semanticDedupStreamBanded(
            graft.streaming.EventStreams.readFileStream(s, in, schema,
              maxFilesPerTrigger = 1),
            threshold = 0.9, nPlanes = 6, bands = 2)
          .writeStream
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            df.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(s"$root/out"): Unit
          }
          .outputMode("update")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val w = Window.partitionBy("bucket", "vec_id").orderBy(col("batch_id").desc)
      s.read.parquet(s"$root/out")
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .groupBy("vec_id")
        .agg(expr("bool_and(kept_in_bucket)").as("_k"))
        .where(col("_k"))
        .select(col("vec_id"))
        .orderBy("vec_id")
    }, Oracle(
      // Same closed form for the banded replay: the fixture's shared-bucket
      // proof is weight-agnostic, so it holds per band and the OR over
      // bands adds no cross-cluster pair (cross-cluster cosine is exactly 0
      // regardless of collisions).
      "SELECT range * 4 AS vec_id FROM range(0, 24) ORDER BY vec_id")),

    // The STREAMING semantic rung's CENTER MODE behind an exact gate —
    // the r19 verdict's top item. The fixture is the q215 replay made
    // CONCENTRATED: every vector rides a shared +64-on-all-dims offset
    // (raw cosine between ANY two rows is ~0.998, raw plane signs are
    // pinned by the offset — the measured bucket-collapse regime), and
    // each cluster c < 12 carries q215's 4-variant structure PLUS its
    // point-mirrored twin (the negated structure, ids 8c+4..8c+7) on the
    // SAME dims — so the snapshot mean is EXACTLY the offset (integer
    // sums cancel; fitMeanVector returns 64.0 per dim bit-exactly) and
    // centered vectors recover q215's disjoint-support structure
    // exactly. The closed-form kept set is then UNCONDITIONAL: each
    // (cluster, sign) group shares one bucket per band by the q215
    // pigeonhole (weights {-1,0,1}, base |dot| >= 8 or exactly 0, |pert|
    // <= 7) with within-group cosine >= 0.967 > 0.9, mirrored groups
    // have cosine ~ -1 (never drop each other even when buckets
    // collide), and cross-cluster supports are disjoint (cosine exactly
    // 0) — kept = the min id of every (cluster, sign) group = {8c,
    // 8c + 4}, stated literally by the oracle. The mean is fit on the
    // ORIGINALS snapshot (the documented production contract — a stream
    // cannot fit a corpus mean online) and re-crawls (+1e6 ids, +1 on
    // the second owned dim, arriving FIRST) are retroactively flipped
    // by the originals, exactly q215's replay. Margins + the exact-mean
    // claim pinned in EntrySpec.
    Q("q228_semantic_scrub_stream_centered", (s, dir) => {
      val root = gateTempDir("graft_q228")
      val originals = semanticScrubCenteredVecs(s, recrawl = false)
      val mu = Similarity.fitMeanVector(originals, "embedding")
      val in = stageGateWaves(root, Seq(
        "w1" -> semanticScrubCenteredVecs(s, recrawl = true),
        "w2" -> originals))
      withStreamGateConf(s) {
        val schema = s.read.parquet(in).schema
        val q = graft.streaming.EventStreams.semanticDedupStream(
            graft.streaming.EventStreams.readFileStream(s, in, schema,
              maxFilesPerTrigger = 1),
            threshold = 0.9, mean = Some(mu))
          .writeStream
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            df.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(s"$root/out"): Unit
          }
          .outputMode("update")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val w = Window.partitionBy("bucket", "vec_id").orderBy(col("batch_id").desc)
      s.read.parquet(s"$root/out")
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1 && col("kept"))
        .select(col("vec_id"))
        .orderBy("vec_id")
    }, Oracle(
      // Keep-first over the centered fixture's 24 (cluster, sign) groups:
      // the snapshot mean is exactly the +64 offset, centered space
      // recovers q215's disjoint supports, and the kept set is the min id
      // per group — {8c, 8c + 4 : c < 12}, no dot product computed.
      """SELECT vec_id FROM (
        |  SELECT range * 8 AS vec_id FROM range(0, 12)
        |  UNION ALL
        |  SELECT range * 8 + 4 AS vec_id FROM range(0, 12)
        |) ORDER BY vec_id""".stripMargin)),
  )
}
