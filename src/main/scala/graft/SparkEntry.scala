package graft

import graft.catalog._
import graft.meta.Tables
import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import scala.collection.immutable.VectorMap

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 (+ north-star dedup/similarity/text operators), registered
  * once in a `graft.catalog` family file with its DuckDB-oracle SQL twin or
  * a named rows-only reason; [[queries]] and [[oracleSql]] are views of
  * that [[registry]]. This object keeps the fragments and fixtures the
  * family files and the tests share.
  *
  * Parity rules used throughout (SURVEY §7.4.3):
  *  - every query ends in a deterministic ORDER BY;
  *  - aggregates over doubles are rounded, or routed through exact
  *    integer-cents sums (see [[cents]]), on BOTH sides so cross-engine
  *    float summation order can't flip a hash;
  *  - integer-ish outputs are pinned to BIGINT/INTEGER on both sides;
  *  - `events.ts` is nanosecond-precision parquet: the oracle casts it to
  *    microsecond TIMESTAMP to match Spark's reader.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q32_geo_error")(spark, "/root/testdata/sf0.001")

  // ---- shared fragments -------------------------------------------------

  /** events with nulls injected deterministically (the testdata has no
    * nulls; this recreates the reference's dirty-input conditions —
    * read_csv_s3_train.py:52 NA tokens / :72 coerce). */
  private[graft] def dirtyEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("ts"), col("event_type"),
      when(col("event_type").isin("click", "view"), lit(null))
        .otherwise(col("value")).as("v"),
      when(col("user_id") % 5 === 0, lit(null)).otherwise(col("user_id")).as("u"))

  /** OSV5M-shaped synthetic frame — the reference's full 32-column dtype map
    * (read_csv_s3_train.py:11-44) derived deterministically from `orders`,
    * dirty in exactly the ways `process_batch` must clean: whitespace-padded
    * categoricals (trim), null runs in the ffill columns, null epochs (1970
    * sentinels), null numerics (zero-fill before scaling). Continuous values
    * are dyadic fractions (/4, /8, +0.25) so double sums are EXACT in any
    * summation order — the scale fits can't hash-diverge across engines. */
  private[graft] def osv5mFrame(s: SparkSession, dir: String): DataFrame = {
    val k = col("o_orderkey")
    def nullWhen(cond: Column, v: Column): Column = when(cond, lit(null)).otherwise(v)
    Tables.orders(s, dir).select(
      k.as("id"),
      nullWhen(k % 19 === 0, ((k % 180) - 90).cast("double") + 0.25).as("latitude"),
      nullWhen(k % 23 === 0, ((k % 360) - 180).cast("double") + 0.5).as("longitude"),
      concat(lit("http://img/"), k.cast("string")).as("thumb_original_url"),
      concat(lit("  C"), (k % 7).cast("string"), lit(" ")).as("country"),
      concat(lit("seq"), (k % 100).cast("string")).as("sequence"),
      nullWhen(k % 11 === 0,
        lit(400000000000L) + (k % 3650) * 86400000L + (k % 86400) * 1000L).as("captured_at"),
      (k % 64).as("lon_bin"),
      (k % 32).as("lat_bin"),
      concat(lit("cell"), (k % 20).cast("string")).as("cell"),
      nullWhen(k % 13 < 2, concat(lit(" R"), (k % 5).cast("string"))).as("region"),
      nullWhen(k % 13 === 3 || k % 13 === 4,
        concat(lit("S"), (k % 4).cast("string"), lit(" "))).as("sub-region"),
      nullWhen(k % 17 === 0, concat(lit("City"), (k % 9).cast("string"))).as("city"),
      (k % 10).as("land_cover"),
      nullWhen(k % 31 === 0, (k % 64).cast("double") / 4.0).as("road_index"),
      (k % 2).as("drive_side"),
      (k % 5).as("climate"),
      (k % 12).as("soil"),
      nullWhen(k % 29 === 0, (k % 1000).cast("double") / 8.0).as("dist_sea"),
      (k % 5000).as("quadtree_10_5000"),
      (k % 25000).as("quadtree_10_25000"),
      (k % 1000).as("quadtree_10_1000"),
      (k % 50000).as("quadtree_10_50000"),
      (k % 12500).as("quadtree_10_12500"),
      (k % 500).as("quadtree_10_500"),
      (k % 2500).as("quadtree_10_2500"),
      nullWhen(k % 41 === 0, concat(lit("UR"), (k % 6).cast("string"))).as("unique_region"),
      nullWhen(k % 43 === 0, concat(lit("US"), (k % 8).cast("string"))).as("unique_sub-region"),
      nullWhen(k % 7 < 3, concat(lit("UC"), (k % 11).cast("string"))).as("unique_city"),
      nullWhen(k % 37 === 0, concat(lit("U"), (k % 3).cast("string"))).as("unique_country"),
      nullWhen(k % 5 === 0, concat(lit("user_"), (k % 50).cast("string"))).as("creator_username"),
      ((k * 7) % 1000).as("creator_id"))
  }

  /** Exact money arithmetic without decimal overhead: values are 2-dec
    * quantized, so `round(x*100)` as a long is lossless; long sums are
    * exact, and the final integer-to-double conversion + /100.0 division is
    * bit-identical across engines. Row-level work stays in long arithmetic;
    * only the SUM widens to decimal so group totals can never wrap Long at
    * scale (a long sum overflows silently around TPC-H SF ~5600). */
  private[graft] def cents(c: Column): Column = round(c * 100, 0).cast("long")

  // ---- query catalog ----------------------------------------------------

  /** The query names in `spec`, a comma-separated list, in order and
    * without repeats. Every tool that takes query names goes through here:
    * a misspelled name must fail the run, not silently shrink the set, so
    * an empty list or any unknown name throws with the full known list.
    * `source` names the argument or env var in the error. */
  def selectQueries(spec: String, source: String): Seq[String] = {
    val names = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val known = queries.keySet
    val unknown = names.filterNot(known)
    val problem =
      if (names.isEmpty) "no query names given"
      else s"unknown queries ${unknown.mkString(", ")}"
    require(names.nonEmpty && unknown.isEmpty,
      s"$source: $problem; known queries: ${known.toSeq.sorted.mkString(", ")}")
    names
  }

  /** Every query, family file by family file (`graft.catalog`): one entry
    * pairs each query with its oracle SQL or its rows-only reason, and a
    * repeated name throws. Lazy, like the views below: the family objects
    * read this object's fragments, which must be initialized first. */
  lazy val registry: VectorMap[String, Q] = Q.index(
    EtlQueries.entries ++ DedupQueries.entries ++ AnnQueries.entries ++
      TokenQueries.entries ++ CurationQueries.entries ++ DecompQueries.entries ++
      StreamQueries.entries)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.build }

  /** DuckDB SQL of every query whose check is an [[Oracle]]. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case (name, Q(_, _, Oracle(sql))) => name -> sql }

  /** Scratch dir for the streaming/index driver gates, recursively deleted
    * at JVM exit (shutdown hook) — the gates' returned frames read these
    * files LAZILY, so eager deletion inside the query builder would break
    * the serve; exit-time cleanup is what stops every verify/bench run
    * from leaking the gates' parquet trees in /tmp (ADVICE r19). */
  // ONE shared shutdown hook for every gate scratch dir (ADVICE r20: a
  // hook per invocation held a Thread for the JVM lifetime each — a full
  // Verify/Bench run accumulated a dozen-plus).
  private val gateTempDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.nio.file.Path]())
  private lazy val gateTempHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(): Unit
      }
      gateTempDirs.forEach(p => rm(p.toFile))
    }))
  }
  // r21 measured, rejected: pointing the gate scratch at tmpfs (/dev/shm)
  // instead of java.io.tmpdir — the theory was that streaming offset/
  // commit-log and RocksDB checkpoint fsyncs dominate the gates' fixed
  // cost; the 7-gate subset timed 14.97s (ext4 /tmp) vs 14.50s (tmpfs),
  // inside run-to-run noise, so the small-file churn is not fsync-bound
  // on this storage and the default tmpdir stays.
  private[graft] def gateTempDir(prefix: String): String = {
    gateTempHook // register the single hook on first use
    val p = java.nio.file.Files.createTempDirectory(prefix)
    gateTempDirs.add(p)
    p.toString
  }

  /** Session conf for the streaming driver gates, restored after `body`.
    *
    * `stateProvider`: "rocksdb" (default — REQUIRED by every
    * transformWithState gate: the arbitrary-state API uses multiple
    * column families, which only the RocksDB provider implements) or
    * "hdfs" (HDFSBackedStateStoreProvider — the in-memory-map provider,
    * valid for the mapGroupsWithState/flatMapGroupsWithState/
    * dropDuplicates class whose state is a single column family). r22:
    * q217 (flatMapGroupsWithState sessionizer) runs on "hdfs" — its
    * byte-sized state never needs off-heap spill, and the per-commit cost
    * drops from a RocksDB snapshot+upload per store per trigger to one
    * tiny delta file. At production state volume (state larger than
    * executor heap) RocksDB is the right provider again; the knob is
    * per-gate precisely because that choice is workload-sized.
    *
    * `noDataBatches`: set false to disable
    * `spark.sql.streaming.noDataMicroBatches.enabled` — the extra empty
    * micro-batch Spark appends after a watermark advance so event-time
    * timers can fire with no new data. r22: q217 disables it (saves one
    * full trigger round, ~0.4 s) because its THIRD sentinel wave already
    * gives every real session's timer a data batch to fire in; the
    * no-data batch only ever emitted the second sentinel's own session,
    * which the gate filters out — output is hash-identical (oracle
    * re-verified). Gates without watermarks never run no-data batches,
    * so they keep the default. */
  /** Stage a streaming gate's input waves as ONE Spark job: the waves are
    * tagged, unioned, and written through a single dynamic-partition write
    * (one file per wave via coalesce(1)), then hard-linked into `in/` with
    * strictly increasing mtimes so the file stream replays them in arrival
    * order under maxFilesPerTrigger = 1. Replaces the r21 shape (one
    * coalesce(1) write JOB per wave + copy) — at 2-3 waves per gate the
    * per-job overhead was a measured ~0.1-0.3 s of each gate's fixed cost
    * (guide §1.2: fewer jobs). Row content per wave is identical to the
    * per-wave writes; within-file row order is not part of any gate's
    * contract (every gate recurrence is arrival-order-exact by design).
    * Waves must share a schema. Returns the input dir. */
  private[graft] def stageGateWaves(root: String,
                             waves: Seq[(String, DataFrame)]): String = {
    require(waves.nonEmpty, "stageGateWaves: no waves")
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    waves.map { case (w, df) => df.withColumn("_wave", lit(w)) }
      .reduce(_.unionByName(_))
      .coalesce(1).write.partitionBy("_wave").parquet(s"$root/stage")
    for (((wave, _), i) <- waves.zipWithIndex;
         p <- new java.io.File(s"$root/stage/_wave=$wave").listFiles()
         if p.getName.endsWith(".parquet")) {
      val dst = java.nio.file.Path.of(in, s"$wave-${p.getName}")
      java.nio.file.Files.copy(p.toPath, dst)
      dst.toFile.setLastModified((i + 1) * 1000000L): Unit
    }
    in
  }

  /** Session conf for the five streaming driver gates (q205/q206/q210/
    * q215/q217): the RocksDB state store provider (`transformWithState`
    * requires it) PLUS a 4-partition stateful shuffle for the gate's
    * duration. The stateful exchange opens, commits, and checkpoints one
    * RocksDB instance PER SHUFFLE PARTITION per trigger — on the gates'
    * 96-row/3k-row fixtures, 32 stores x 2-3 triggers is pure fixed cost
    * (measured: the five gates total 14.8 s at 32 partitions vs 9.7 s at
    * 4; see BASELINE.md round-18). Partition count is semantics-free
    * here: state is per-key, the two-wave retroactive-flip and
    * event-time-timer paths being gated are partition-count-invariant,
    * and every run starts from a fresh checkpoint. Production streams
    * size partitions to state VOLUME, not trigger overhead — this helper
    * is gate-fixture tuning, not a recommendation to run small. */
  private[graft] def withStreamGateConf[T](s: SparkSession,
      stateProvider: String = "rocksdb",
      noDataBatches: Boolean = true)(body: => T): T = {
    val providerClass = stateProvider match {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case "hdfs" =>
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      case other => throw new IllegalArgumentException(
        s"withStreamGateConf: unknown stateProvider '$other'")
    }
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" -> providerClass,
      // r21 measured, rejected: rocksdb.changelogCheckpointing.enabled=true
      // (skip the per-store snapshot upload per commit) timed NEUTRAL-to-
      // WORSE on the seven gates (15.0s -> 16.2s min-of-2) — at 4 stores x
      // 2-3 triggers of byte-sized state the snapshot is already trivial
      // and the changelog adds its own file churn. Worth re-testing on a
      // production stream with real state volume, not here.
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString,
      "spark.sql.shuffle.partitions" -> "4")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try { confs.foreach { case (k, v) => s.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** q215 fixture: 24 near-dup clusters x 4 variants of 48-dim vectors.
    * Cluster c owns dims (2c, 2c+1) — DISJOINT supports, so cross-cluster
    * cosine is exactly 0 no matter how buckets collide. Within the
    * cluster, variant v is base (16, 8) + (v, -v) and the re-crawl wave
    * adds +1 on the second dim and shifts ids +1e6. The shared-bucket
    * proof holds for ANY {-1,0,1} plane weights (w1, w2) on the two owned
    * dims — the only assumption [[graft.operators.Similarity]]'s
    * hyperplaneBucketExpr guarantees: a member's plane dot is
    * 16*w1 + 8*w2 + v*(w1 - w2) + r*w2 with v in 0..3, r in {0,1}, so the
    * perturbation term is at most |3*2| + 1 = 7 in magnitude while the
    * base term is either 0 (only when w1 = w2 = 0, where every member's
    * dot is EXACTLY 0 and the bit agrees) or at least 8 — the sign never
    * flips and all 8 cluster vectors provably share one bucket.
    * Min within-cluster pairwise cosine is cos((19,5),(16,9)) ~= 0.9676
    * > 0.9; both margins are pinned computationally in EventStreamsSpec. */
  /** q228 fixture: [[semanticScrubVecs]] made CONCENTRATED and
    * mean-cancelling. Every vector rides a +64 offset on all 48 dims (the
    * shared direction that collapses raw buckets and pushes every raw
    * pairwise cosine to ~0.998); cluster c < 12 owns dims (2c, 2c + 1)
    * and carries q215's 4-variant structure with sign +1 (ids 8c..8c+3)
    * AND its point mirror with sign -1 (ids 8c+4..8c+7) on the same dims
    * — so per dim the structure sums to zero over the ORIGINALS snapshot
    * and [[graft.operators.Similarity.fitMeanVector]] returns exactly
    * 64.0 everywhere (integer sums, exact in any order; 12/16ths-style
    * dyadics never appear). Centered vectors are therefore EXACTLY
    * ±q215-structure with zeros elsewhere: disjoint support across
    * clusters (cosine exactly 0), within-(cluster, sign) cosine >= 0.967,
    * cross-sign cosine ~ -1, and the q215 shared-bucket pigeonhole holds
    * per (cluster, sign) group — the kept set has the unconditional
    * closed form {8c, 8c + 4}. Re-crawls add +sign on dim 2c + 1 and
    * shift ids +1e6 (|pert| <= 7 < 8, the proof's bound). */
  private[graft] def semanticScrubCenteredVecs(s: SparkSession, recrawl: Boolean): DataFrame = {
    import s.implicits._
    val rows = for (c <- 0 until 12; g <- 0 until 2; v <- 0 until 4) yield {
      val sign = if (g == 0) 1.0 else -1.0
      val vec = Array.fill(48)(64.0)
      vec(2 * c) += sign * (16.0 + v)
      vec(2 * c + 1) += sign * ((8.0 - v) + (if (recrawl) 1.0 else 0.0))
      ((if (recrawl) 1000000L else 0L) + c * 8L + g * 4L + v, vec.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  private[graft] def semanticScrubVecs(s: SparkSession, recrawl: Boolean): DataFrame = {
    import s.implicits._
    val rows = for (c <- 0 until 24; v <- 0 until 4) yield {
      val vec = Array.fill(48)(0.0)
      vec(2 * c) = 16.0 + v
      vec(2 * c + 1) = (8.0 - v) + (if (recrawl) 1.0 else 0.0)
      ((if (recrawl) 1000000L else 0L) + c * 4L + v, vec.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  /** q210 fixture: 24 near-dup clusters x 4 variants of 30-token texts.
    * Tokens are cluster-scoped (`g8c<c>w<i>`), the variant rides token 0
    * only (`g8c<c>v<v>` — a word-3-shingle touches exactly one window at
    * position 0, so variants differ in ONE shingle of 28) and the re-crawl
    * wave additionally mutates the LAST token (`g8c<c>r<v>`, one more
    * shingle) and shifts ids +1e6. The `g8` salt is SEARCHED (sim over the
    * exact minhash_sig arithmetic — poly-31 mod 1e9+7, 16 affine
    * permutations, 4x4 banding) so the margins hold deterministically:
    * within-cluster pairs (originals + re-crawls, all 28 pairs per
    * cluster) have est-Jaccard >= 11/16 and share >= 1 band; cross-cluster
    * pairs share no band and have est 0/16 (disjoint token sets). Salts
    * 0-7 all fail one margin — a single shingle whose hash lands globally
    * small wins many of the 16 affine mins and craters a pair's est; the
    * margins are therefore PINNED in EventStreamsSpec, not assumed. */
  private[graft] def fuzzyScrubDocs(s: SparkSession, recrawl: Boolean): DataFrame = {
    import s.implicits._
    val rows = for (c <- 0 until 24; v <- 0 until 4) yield {
      val ws = Array.tabulate(30)(i => s"g8c${c}w$i")
      ws(0) = s"g8c${c}v$v"
      if (recrawl) ws(29) = s"g8c${c}r$v"
      ((if (recrawl) 1000000L else 0L) + c * 4L + v, ws.mkString(" "))
    }
    rows.toDF("doc_id", "text")
  }

  /** q203/q204 fixture: a 256-row full-factorial design (i = id mod 4
    * drives dims 0-1, j = id div 4 mod 8 drives dims 2-3, every (i, j)
    * combination appearing exactly 8 times) whose population covariance
    * is EXACTLY 2x2-block-diagonal: cross-block terms cancel to 0.0 in
    * int64 arithmetic, and every entry is a dyadic rational (n = 2^8), so
    * Spark's Gram/Jacobi fit and DuckDB's closed-form SQL see the same
    * matrix bit for bit. */
  private[graft] def blockSpectrumFixture(s: SparkSession): DataFrame =
    s.range(256).select(col("id").as("vec_id"),
      array(
        expr("CAST(id % 4 AS DOUBLE)"),
        expr("CAST((id % 4) * (id % 4) AS DOUBLE)"),
        expr("CAST((id DIV 4) % 8 AS DOUBLE)"),
        expr("CAST((((id DIV 4) % 8) * ((id DIV 4) % 8)) % 8 AS DOUBLE)")
      ).as("embedding"))

  /** q211/q212/q213 fixture: a 256-row full FOUR-FACTOR factorial design,
    * dim j = ((id div 4^j) mod 4) * 2^j. The factors are independent, all
    * moment sums are small integers (exact in double regardless of
    * accumulation order), and n = 2^8 makes every division exact — so the
    * population covariance is EXACTLY diagonal (cross moments cancel to
    * +0.0) with distinct dyadic eigenvalues 1.25 * 4^j. Jacobi therefore
    * performs zero rotations and returns the identity eigenbasis, which is
    * what collapses Mahalanobis and the spectral ridge solve to per-dim
    * closed forms the DuckDB oracle can mirror exactly (weighted
    * Euclidean; beta = cov/(var + lambda)). */
  private[graft] def diagSpectrumFixture(s: SparkSession): DataFrame =
    s.range(256).select(col("id").as("vec_id"),
      array(
        expr("CAST(id % 4 AS DOUBLE)"),
        expr("CAST(((id DIV 4) % 4) * 2 AS DOUBLE)"),
        expr("CAST(((id DIV 16) % 4) * 4 AS DOUBLE)"),
        expr("CAST(((id DIV 64) % 4) * 8 AS DOUBLE)")
      ).as("embedding"))

  /** q154/q155 corpus: the synthesized lines become conversation turns —
    * turn 0 is the system prompt, then user/assistant alternation.
    * Seeded breaches: %11==0 convs invert the alternation (assistant
    * first), %13==5 convs blank turn 1. */
  private[graft] def synthesizeTurns(docs: DataFrame): DataFrame = {
    val tk = TextAnalysis.tokens(col("text"))
    val nChunks = ceil(size(tk).cast("double") / 8).cast("int")
    val lineArr = transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(tk, i * 8 + 1, lit(8))))
    docs.select(col("doc_id").as("conv_id"),
        posexplode(lineArr).as(Seq("turn_idx", "content")))
      .select(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        when(col("turn_idx") === 0, lit("system"))
          .otherwise(when(
            (col("conv_id") % 11 === 0) === (col("turn_idx") % 2 === 1),
            lit("assistant")).otherwise(lit("user"))).as("role"),
        when(col("conv_id") % 13 === 5 && col("turn_idx") === 1, lit(""))
          .otherwise(col("content")).as("content"))
  }

  /** q141's corpus: the synthesized lines regrouped into 2-line paragraphs
    * joined by blank lines — the `\n` inside a paragraph vs `\n\n` between
    * paragraphs distinction [[Dedup.paragraphScrub]]'s split must respect. */
  private[graft] def synthesizeParagraphs(docs: DataFrame): DataFrame = {
    val tk = TextAnalysis.tokens(col("text"))
    val nChunks = ceil(size(tk).cast("double") / 8).cast("int")
    val lineArr = transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(tk, i * 8 + 1, lit(8))))
    val withLn = docs.select(col("doc_id"), lineArr.as("_ln"))
    val nPars = ceil(size(col("_ln")).cast("double") / 2).cast("int")
    val parArr = transform(sequence(lit(0), nPars - 1),
      j => array_join(slice(col("_ln"), j * 2 + 1, lit(2)), "\n"))
    withLn.select(col("doc_id"), array_join(parArr, "\n\n").as("text"))
  }

  /** Fixed BPE merge table for q140 — top corpus character pairs in
    * training order (every composite appears after the merges that create
    * its parts, the invariant [[TextAnalysis.bpeEncodeStats]] requires). */
  private[graft] val BpeApplyMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "t" -> "o", "a" -> "t", "er" -> "s", "t" -> "h", "th" -> "e",
    "in" -> "g", "a" -> "n")

  /** Fixed unigram-LM vocab for q197 — English-frequency char log-probs
    * plus common subword pieces, each piece priced above the sum of its
    * characters so Viterbi actually selects it
    * ([[TextAnalysis.unigramEncodeStats]]; trained fit is q196). */
  private[graft] val UnigramApplyVocab: Seq[(String, Double)] = Seq(
    "e" -> -2.5, "t" -> -2.6, "a" -> -2.7, "o" -> -2.8, "i" -> -2.8,
    "n" -> -2.8, "s" -> -2.9, "r" -> -2.9, "h" -> -3.0, "l" -> -3.2,
    "d" -> -3.3, "c" -> -3.5, "u" -> -3.5, "m" -> -3.6, "f" -> -3.8,
    "p" -> -3.8, "g" -> -3.9, "w" -> -3.9, "y" -> -4.0, "b" -> -4.1,
    "v" -> -4.5, "k" -> -4.7, "x" -> -5.5, "j" -> -5.6, "q" -> -5.7,
    "z" -> -5.8,
    "0" -> -5.0, "1" -> -5.0, "2" -> -5.0, "3" -> -5.0, "4" -> -5.0,
    "5" -> -5.0, "6" -> -5.0, "7" -> -5.0, "8" -> -5.0, "9" -> -5.0,
    "the" -> -3.2, "ing" -> -3.8, "th" -> -3.4, "in" -> -3.6,
    "er" -> -3.7, "an" -> -3.8, "re" -> -3.9, "on" -> -3.9,
    "at" -> -4.0, "en" -> -4.0, "nd" -> -4.1, "es" -> -4.2,
    "or" -> -4.2, "of" -> -4.3, "ed" -> -4.3, "is" -> -4.4,
    "it" -> -4.4, "al" -> -4.4, "ar" -> -4.5, "st" -> -4.5,
    "to" -> -4.5, "nt" -> -4.6)

  /** Shared by q130/q137: the seeded junk-augmented corpus, feature
    * assembly, even-slice OLS fit, and 6-dp scoring. One definition so the
    * fit query and its evaluation query can never disagree on the model.
    * The feature frame is detached — one char-LM computation feeds the
    * (eager) fit AND the final score. */
  private[graft] def probeScored(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val junk = d.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(expr("repeat('zzq glorp wib ', 20)"),
          substring(col("text"), 1, 40)).as("text"))
    val corpus = d.unionByName(junk)
    val featCols = Seq("stop_frac", "dup_word_frac", "lm_logp")
    val feats = Relational.detach(
      Quality.qualityFeatures(corpus, "doc_id", "text"))
    val labeled = feats.where(col("doc_id") % 2 === 0)
      .withColumn("label",
        when(col("doc_id") >= 2000000L, 0.0).otherwise(1.0))
    val w = Quality.roundWeights(
      Quality.fitLinearProbe(labeled, featCols, "label"))
    Quality.scoreQuality(feats, w, featCols, 0.5)
  }

  /** q137's eval stage and q158's calibration stage as functions OF an
    * already-scored frame: Verify runs them over an independent
    * [[probeScored]] each (oracle-parity isolation), Bench runs them in
    * fit-reuse mode over ONE shared scored frame — production reuses one
    * scored frame, and the bench was measuring the same fit four times. */
  private[graft] def probeHeldOut(scored: DataFrame): DataFrame =
    scored.where(col("doc_id") % 2 === 1)
      .withColumn("label",
        when(col("doc_id") >= 2000000L, 0.0).otherwise(1.0))

  private[graft] def probeEvalFrom(scored: DataFrame): DataFrame =
    Quality.evalBinaryClassifier(probeHeldOut(scored), "score", "label", 0.5)

  private[graft] def probeCalibrationFrom(scored: DataFrame): DataFrame =
    probeHeldOut(scored).withColumn("bucket",
        floor(least(greatest(col("score"), lit(0.0)), lit(0.999999)) * 10)
          .cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("score"), 6).as("mean_score"),
        round(avg("label"), 6).as("clean_rate"))
      .orderBy("bucket")

  /** Synthesized crawl page shared by q166 and its spec: the doc body
    * wrapped in the chrome a real page carries — nav links, an h1, an
    * even-id share strip, a link+copyright footer. One definition so the
    * query, its oracle, and the WARC handoff test can never disagree. */
  private[graft] def synthPage: Column = concat(
    lit("<html><body><nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/contact\">Contact us</a></nav>"),
    lit("<h1>Post "), col("doc_id").cast("string"), lit("</h1><p>"),
    col("text"), lit("</p>"),
    when(col("doc_id") % 2 === 0,
      lit("<div class=\"share\"><a href=\"/s\">Share</a> " +
        "<a href=\"/t\">Tweet</a></div>")).otherwise(lit("")),
    lit("<footer><a href=\"/privacy\">Privacy policy</a> " +
      "<a href=\"/terms\">Terms</a> Copyright 2024 Example Corp</footer>" +
      "</body></html>"))

  /** Synthesized crawl URL shared by q123/q125 — the classic variant noise
    * (scheme case, www., trailing slash, tracking params, fragments) over
    * a stable (source, doc_id % 40) page identity. One definition so the
    * two queries (and their oracles) can never disagree on the corpus. */
  private[graft] def crawlUrl: Column = concat(
    when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
    when(col("doc_id") % 5 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"), lit(".example.com/articles/"),
    (col("doc_id") % 40).cast("string"),
    when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 4 === 0, lit("?utm_source=feed&utm_medium=rss"))
      .otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit("#section-2")).otherwise(lit("")))

  /** Build-or-load the persisted IVF-PQ index for `dir` (q106). Cached
    * under the JVM temp dir ([[ivfPqIndexCache]]), so Verify and Bench
    * (separate JVMs) share one fit per snapshot — exactly the
    * index-per-corpus-snapshot contract [[Similarity.saveIvfPqIndex]]
    * documents. Same fit parameters as q100 (8 cells, 8x16 residual PQ,
    * 3 Lloyd iterations). */
  private[graft] def prefitIvfPqIndex(s: SparkSession, dir: String): Similarity.IvfPqIndex = {
    val (nCells, m, ksub, iterations) = (8, 8, 16, 3)
    val cache = ivfPqIndexCache(dir, nCells, m, ksub, iterations)
    if (new java.io.File(s"$cache/encoded/_SUCCESS").exists())
      Similarity.loadIvfPqIndex(s, cache)
    else
      Similarity.buildIvfPqIndex(Tables.embeddings(s, dir), cache,
        nCells = nCells, m = m, ksub = ksub, iterations = iterations)
  }

  /** Where [[prefitIvfPqIndex]] caches the index fit on `dir`'s embeddings:
    * keyed on the dir, the embeddings file's length and mtime, and every
    * fit parameter, so neither a regenerated snapshot nor a changed fit
    * can serve a stale index (q106 is rows-only — the oracle would not
    * catch one). */
  private[graft] def ivfPqIndexCache(dir: String, nCells: Int, m: Int, ksub: Int,
                                     iterations: Int): String = {
    val src = new java.io.File(s"$dir/embeddings.parquet")
    val key = s"$dir|${src.length()}|${src.lastModified()}|" +
      s"nCells=$nCells|m=$m|ksub=$ksub|iterations=$iterations"
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivfpq_idx_${graft.sources.SplitLayout.digest(key)}").getPath
  }

  /** Deterministic line synthesis shared by q88/q91: the single-line
    * synthetic corpus re-chunked into 8-token lines, every 3rd line left
    * without terminal punctuation when `withPunct` (c4LineClean needs
    * lines that FAIL its rules too). [[dLineSynth]] is the DuckDB mirror —
    * the chunking must stay identical across all four sites or the twin
    * queries silently decouple. */
  private[graft] def synthesizeLines(docs: DataFrame, withPunct: Boolean): DataFrame = {
    val tk = TextAnalysis.tokens(col("text"))
    val nChunks = ceil(size(tk).cast("double") / 8).cast("int")
    val line: Column => Column =
      if (withPunct)
        i => concat(concat_ws(" ", slice(tk, i * 8 + 1, lit(8))),
          when(i % 3 === 2, lit("")).otherwise(lit(".")))
      else i => concat_ws(" ", slice(tk, i * 8 + 1, lit(8)))
    val lineArr = transform(sequence(lit(0), nChunks - 1), line)
    docs.select(col("doc_id"), array_join(lineArr, "\n").as("text"))
  }

  /** Marker vocabularies for the language-ID heuristic — drawn from the
    * synthetic corpus vocabulary so scores are non-degenerate. */
  /** q167's corpus: the synthetic documents carry NO real language signal
    * (text is the same keyword soup for every `lang` label — q30/q163 are
    * eval-harness demos at chance level), so the trained-vs-heuristic
    * comparison seeds one: docs get a function-word suffix in their
    * labeled language (high-frequency forms a trigram model learns and
    * marker lists don't contain) — EXCEPT the doc_id % 7 == 3 slice,
    * which stays unseeded so the problem keeps an irreducible-error tail
    * and the floor/argmax paths are exercised. CJK chars written as
    * escapes (q149's discipline: visible, formatter-proof). */
  private[graft] def langSeedSuffix: Column =
    when(col("doc_id") % 7 === 3, lit(""))
      .otherwise(when(col("lang") === "de", lit(" und der nicht das ist ein"))
        .when(col("lang") === "fr", lit(" et le ne pas est une"))
        .when(col("lang") === "es", lit(" y el no es que una"))
        .when(col("lang") === "zh",
          lit(" \u7684 \u662f \u4e0d \u4e86 \u5728"))
        .otherwise(lit(" the and was of is not")))

  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "fast", "key"),
    "de" -> Seq("order", "sort", "table"),
    "fr" -> Seq("scan", "merge", "part"),
    "es" -> Seq("window", "small", "hash"),
    "zh" -> Seq("join", "batch", "stream"))

  // ---- oracle SQL (DuckDB dialect) ---------------------------------------

  private[graft] val Mod = "1000000007"

  /** q104's bootstrap parameters — the query lambda and its oracle both
    * read these, so they cannot silently desynchronize. */
  private[graft] val BootReplicas = 100
  private[graft] val BootAlpha = 0.05

  /** DuckDB fragment: portable poly-31 string hash of expression `s`. */
  private[graft] def dhash(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($s, ''), " +
      s"c -> CAST(unicode(c) AS BIGINT))), (a, b) -> (a * 31 + b) % $Mod)"

  /** DuckDB fragment: [[graft.operators.Stats.mixHash]] — the universal-
    * hash finisher over [[dhash]]. Constants must stay in lockstep with
    * Stats.MixA/MixB (this is the one SQL site of the mix). */
  private[graft] def dmix(s: String): String =
    s"((${dhash(s)}) * ${graft.operators.Stats.MixA} + " +
      s"${graft.operators.Stats.MixB}) % $Mod"

  /** DuckDB fragment: [[graft.operators.Stats.hashBucket]] — [[dmix]]
    * reduced to the bucket modulus. */
  private[graft] def dbucket(s: String, m: Long): String = s"(${dmix(s)}) % $m"

  /** DuckDB mirror of [[synthesizeLines]]: CTE pair binding `ln` to the
    * 8-token line list per doc_id (chunking must match the Spark helper). */
  private[graft] def dLineSynth(withPunct: Boolean): String = {
    val punct = if (withPunct) " || CASE WHEN i % 3 = 2 THEN '' ELSE '.' END" else ""
    s"""t0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |t1 AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT)),
       |    i -> array_to_string(tk[i*8+1 : i*8+8], ' ')$punct) AS ln FROM t0)""".stripMargin
  }

  /** DuckDB fragment: distinct hashed word-3-shingles of text expr `t`
    * (tokens list `tk` must be `string_split(t,' ')`). */
  private[graft] def dShingleHashes(t: String): String = {
    val tk = s"string_split($t, ' ')"
    s"list_distinct(list_transform(" +
      s"CASE WHEN len($tk) < 3 THEN [$t] ELSE list_transform(range(1, len($tk) - 1), " +
      s"i -> array_to_string(($tk)[i:i+2], ' ')) END, s -> ${dhash("s")}))"
  }

  /** DuckDB fragment: the MinHash signature + LSH banding CTE chain
    * (hs/sg/banded) shared by q24 (candidate pairs) and q65 (clusters) —
    * one definition of the permutation and band arithmetic so the two
    * oracles can never disagree on candidates. */
  private[graft] def dBandedCtes: String =
    s"""hs AS (SELECT doc_id, ${dShingleHashes("text")} AS hashes FROM documents),
       |sg AS (SELECT doc_id, list_transform(range(0, 16),
       |i -> list_min(list_transform(hashes, h -> ((2*i+3)*h + (7*i+1)) % $Mod))) AS sig FROM hs),
       |banded AS (SELECT doc_id, sig, b.band AS band,
       |array_to_string(sig[b.band*4+1 : b.band*4+4], '-') AS bkey
       |FROM sg CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin

  private[graft] def dLangScore(words: Seq[String]): String =
    words.map(w => s"CAST(len(list_filter(string_split(text, ' '), t -> t = '$w')) AS INTEGER)")
      .mkString(" + ")

  /** DuckDB mirror of [[probeScored]] (q130/q137 shared fragment): the CTE
    * chain ending in `sc(doc_id, stop_frac, dup_word_frac, lm_logp, score)`
    * — seeded junk corpus, q87/q83/q99 feature fragments, Cramer's-rule OLS
    * on the even slice, 6-dp weights and scores. One definition so the fit
    * query and its evaluation query can never disagree on the model. */
  /** q160/q161 shared fragment: q27's brute-force cosine ranking CTEs
    * with prefixed names; `vecExpr` is the (optionally prefix-sliced)
    * double-cast embedding. Ends in `<p>r(probe_id, neighbor_id, rank)`. */
  private[graft] def dBruteRank(p: String, vecExpr: String,
                         probePred: String = "vec_id < 10"): String =
    s"""${p}p AS (SELECT vec_id AS probe_id, $vecExpr AS pv FROM embeddings WHERE $probePred),
       |${p}c AS (SELECT vec_id AS neighbor_id, $vecExpr AS cv FROM embeddings),
       |${p}sc AS (SELECT probe_id, neighbor_id,
       |  list_dot_product(pv, cv) / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
       |  FROM ${p}p JOIN ${p}c ON neighbor_id != probe_id),
       |${p}r AS (SELECT probe_id, neighbor_id,
       |  row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM ${p}sc)""".stripMargin

  /** q154/q155 shared fragment: [[synthesizeTurns]] mirrored — lines to
    * turns, the %11 alternation breach, the %13 empty turn — ending in
    * `g(conv_id, t)` with `t` the idx-ordered turn-struct list. */
  private[graft] val dTurnSynth: String =
    """t0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |t1 AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT)),
      |    i -> array_to_string(tk[i*8+1 : i*8+8], ' ')) AS ln FROM t0),
      |tr AS (SELECT doc_id AS conv_id, CAST(i - 1 AS BIGINT) AS turn_idx,
      |  CASE WHEN i = 1 THEN 'system'
      |       WHEN (doc_id % 11 = 0) = ((i - 1) % 2 = 1) THEN 'assistant'
      |       ELSE 'user' END AS role,
      |  CASE WHEN doc_id % 13 = 5 AND i = 2 THEN '' ELSE ln[i] END AS content
      |  FROM t1, unnest(range(1, len(ln) + 1)) AS r(i)),
      |g AS (SELECT conv_id, list({'i': turn_idx, 'r': role, 'x': content} ORDER BY turn_idx) AS t
      |  FROM tr GROUP BY conv_id)""".stripMargin

  /** q123/q143 shared fragment: the synthesized crawl URL ([[crawlUrl]]
    * term-for-term) plus the canonicalization chain, ending in
    * `s5(doc_id, url_canon)` — [[TextAnalysis.canonicalizeUrl]]'s rules
    * in the same order. Plain (non-interpolated) string: the regexes
    * contain literal `$` anchors. */
  private[graft] val dUrlCanon: String =
    """u AS (SELECT doc_id,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END) ||
      |  source || '.example.com/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
      |  (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END) ||
      |  (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
      |  FROM documents),
      |s0 AS (SELECT doc_id, regexp_replace(url, '^[Hh][Tt][Tt][Pp][Ss]?://', '') AS s FROM u),
      |s1 AS (SELECT doc_id, regexp_replace(s, '^[Ww][Ww][Ww]\.', '') AS s FROM s0),
      |s2 AS (SELECT doc_id, lower(regexp_extract(s, '^([^/?#]*)', 1)) ||
      |  regexp_extract(s, '^[^/?#]*(.*)$', 1) AS s FROM s1),
      |s3 AS (SELECT doc_id, regexp_replace(s, '#.*$', '') AS s FROM s2),
      |s4 AS (SELECT doc_id, regexp_replace(s, '(utm_[a-z]+|fbclid|gclid)=[^&#]*&?', '', 'g') AS s FROM s3),
      |s5 AS (SELECT doc_id, regexp_replace(regexp_replace(s, '[?&]+$', ''), '/$', '') AS url_canon FROM s4)""".stripMargin

  private[graft] def dProbeScored: String =
    s"""c AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 2000000, repeat('zzq glorp wib ', 20) || substr(text, 1, 40)
      |  FROM documents WHERE doc_id % 5 = 0),
      |t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM c),
      |g AS (SELECT doc_id,
      |  round(CAST(len(list_filter(tk, x -> x IN (${TextAnalysis.GopherStopwords.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) / len(tk), 6) AS stop_frac,
      |  round(1.0 - len(list_distinct(tk)) * 1.0 / len(tk), 6) AS dup_word_frac
      |  FROM t),
      |tri AS (SELECT doc_id, substr(text, i, 3) AS g
      |  FROM c, unnest(range(1, greatest(len(text) - 2, 0) + 1)) AS r(i)),
      |c3 AS (SELECT g, count(*) AS cc FROM tri GROUP BY g),
      |c2 AS (SELECT substr(g, 1, 2) AS p, sum(cc) AS cp FROM c3 GROUP BY 1),
      |vv AS (SELECT count(DISTINCT substr(g, 3, 1)) AS nv FROM c3),
      |lm AS (SELECT tr.doc_id, round(avg(ln((c3.cc + 0.5) / (c2.cp + 0.5 * vv.nv))), 6) AS avg_logp
      |  FROM tri tr JOIN c3 ON tr.g = c3.g JOIN c2 ON substr(tr.g, 1, 2) = c2.p CROSS JOIN vv
      |  GROUP BY tr.doc_id),
      |f AS (SELECT g.doc_id, stop_frac, dup_word_frac, coalesce(avg_logp, -10.0) AS lm_logp
      |  FROM g LEFT JOIN lm ON g.doc_id = lm.doc_id),
      |l AS (SELECT stop_frac AS x1, dup_word_frac AS x2, lm_logp AS x3,
      |  CASE WHEN doc_id >= 2000000 THEN 0.0 ELSE 1.0 END AS y
      |  FROM f WHERE doc_id % 2 = 0),
      |m AS (SELECT avg(x1) AS m1, avg(x2) AS m2, avg(x3) AS m3, avg(y) AS my,
      |  covar_pop(x1, x1) AS s11, covar_pop(x1, x2) AS s12, covar_pop(x1, x3) AS s13,
      |  covar_pop(x2, x2) AS s22, covar_pop(x2, x3) AS s23, covar_pop(x3, x3) AS s33,
      |  covar_pop(x1, y) AS c1, covar_pop(x2, y) AS c2, covar_pop(x3, y) AS c3 FROM l),
      |det AS (SELECT *,
      |  s11*(s22*s33 - s23*s23) - s12*(s12*s33 - s23*s13) + s13*(s12*s23 - s22*s13) AS dd FROM m),
      |w AS (SELECT
      |  (c1*(s22*s33 - s23*s23) - s12*(c2*s33 - s23*c3) + s13*(c2*s23 - s22*c3)) / dd AS r1,
      |  (s11*(c2*s33 - s23*c3) - c1*(s12*s33 - s23*s13) + s13*(s12*c3 - c2*s13)) / dd AS r2,
      |  (s11*(s22*c3 - c2*s23) - s12*(s12*c3 - c2*s13) + c1*(s12*s23 - s22*s13)) / dd AS r3,
      |  my, m1, m2, m3 FROM det),
      |wb AS (SELECT round(r1, 6) AS b1, round(r2, 6) AS b2, round(r3, 6) AS b3,
      |  round(my - r1*m1 - r2*m2 - r3*m3, 6) AS b0 FROM w),
      |sc AS (SELECT doc_id, stop_frac, dup_word_frac, lm_logp,
      |  round(b0 + b1*stop_frac + b2*dup_word_frac + b3*lm_logp, 6) AS score
      |  FROM f CROSS JOIN wb)""".stripMargin
}

