package graft.streaming

import scala.reflect.ClassTag

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}

/** Structured Streaming operators (SURVEY §2.11).
  *
  * The reference's streaming-shaped patterns: incremental ingest of arriving
  * archives with delete-after-consume and a hand-maintained resume counter
  * (reference: Image_Train_Model/process_test_train_Images.py:30-31,49-71),
  * and bounded-memory chunk iteration with per-chunk flush
  * (read_csv_s3_train.py:124-131).
  *
  * Spark-native shape: file-source `readStream` + `Trigger.AvailableNow`
  * (bounded backlog drained in micro-batches), checkpointing replacing the
  * manual counter, `cleanSource` replacing the manual delete, watermarked
  * event-time windows and `dropDuplicatesWithinWatermark` for the
  * streaming-dedup north star.
  */
object EventStreams {

  /** Incremental file-source ingest, the reference's arrive-process-delete
    * loop. `cleanSource` = "delete" removes consumed input like
    * process_test_train_Images.py:68-71; use "archive" to move instead. */
  def readFileStream(spark: SparkSession, dir: String, schema: StructType,
                     format: String = "parquet",
                     maxFilesPerTrigger: Int = 1,
                     cleanSource: String = "off"): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("cleanSource", cleanSource)
      .format(format)
      .load(dir)

  /** Watermarked tumbling-window aggregate over event time (batch twin:
    * SparkEntry q18_window_hourly). Group/value columns are parameters
    * like every sibling operator here — the old hardcoded
    * event_type/value pair failed at plan time on any other schema. */
  def windowedCounts(events: DataFrame, tsCol: String, windowLen: String,
                     watermark: String = "1 hour",
                     groupCol: String = "event_type",
                     valueCol: String = "value"): DataFrame =
    events
      .withColumn("_ts", col(tsCol).cast("timestamp"))
      .withWatermark("_ts", watermark)
      .groupBy(window(col("_ts"), windowLen), col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))

  /** Streaming exact-dedup with bounded state — the streaming twin of
    * Dedup.dedupKeepFirst: duplicates within the watermark horizon are
    * dropped, state for expired keys is reclaimed. */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
                           keys: Seq[String], watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("_ts", col(tsCol).cast("timestamp"))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Drain a bounded input completely (Trigger.AvailableNow) into an
    * in-memory table; returns after all micro-batches commit. The
    * bounded-input analogue of the reference's chunk loop, used by tests. */
  def drainToMemory(df: DataFrame, queryName: String,
                    outputMode: String = "append"): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Custom keyed state across micro-batches (KeyValueGroupedDataset
    * .mapGroupsWithState): a running per-user event counter — the minimal
    * form of the reference's resumable global counter
    * (process_test_train_Images.py:31), keyed and fault-tolerant. Emits the
    * updated running total for each user seen in the batch (Update mode). */
  def runningUserCounts(events: DataFrame, userCol: String = "user_id"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // null keys would fail the non-nullable Long upcast and wedge the query
    // (the failing file replays from the checkpoint forever) — drop them.
    events.where(col(userCol).isNotNull).select(col(userCol).cast("long")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (Long, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (user, rows, state) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (user, total)
      }
      .toDF(userCol, "n_events")
  }

  /** [[runningUserCounts]] on the CURRENT arbitrary-state API
    * (`transformWithState`, Spark 4): explicit named state handles with
    * per-state TTL, multiple state variables per key, and timers — the API
    * Spark recommends over `mapGroupsWithState` for new code. Requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`), which is also the provider
    * you'd run at scale: state lives off-heap/on-disk per executor instead
    * of on the JVM heap, so per-key state count is bounded by disk, not
    * memory. `ttl` expires idle users' counters (reset-on-silence), the
    * knob the HDFS-backed `GroupStateTimeout` path cannot express as
    * per-state config; `None` keeps state forever like
    * [[runningUserCounts]]. */
  def runningUserCountsTws(events: DataFrame, userCol: String = "user_id",
                           ttl: Option[java.time.Duration] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig}
    import org.apache.spark.sql.Encoders
    val spark = events.sparkSession
    import spark.implicits._
    val ttlConfig = ttl.map(TTLConfig.apply).getOrElse(TTLConfig.NONE)
    class CountProcessor extends StatefulProcessor[Long, Long, (Long, Long)] {
      @transient private var count: org.apache.spark.sql.streaming.ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        count = getHandle.getValueState[Long]("count", Encoders.scalaLong, ttlConfig)
      override def handleInputRows(key: Long, rows: Iterator[Long],
          timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long)] = {
        val total = (if (count.exists()) count.get() else 0L) + rows.size
        count.update(total)
        Iterator.single((key, total))
      }
    }
    // TTL state requires processing-time semantics: Spark's
    // validateTTLConfig rejects an enabled TTLConfig under TimeMode.None
    // (there is no clock to expire against), so the mode follows the knob.
    // Trigger caveat: processing-time mode runs micro-batches continuously
    // (state eviction chases the wall clock), so a TTL query never
    // self-terminates — Trigger.AvailableNow spins forever and even
    // processAllAvailable does not latch. With `ttl` set, run the query as
    // the long-lived stream it is meant to be, or poll the sink and
    // `q.stop()` explicitly (see the spec); never drive it through
    // [[drainToMemory]]'s AvailableNow drain.
    val timeMode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    events.where(col(userCol).isNotNull).select(col(userCol).cast("long")).as[Long]
      .groupByKey(identity)
      .transformWithState(new CountProcessor, timeMode, OutputMode.Update())
      .toDF(userCol, "n_events")
  }

  /** Streaming twin of [[graft.operators.Behavior.funnel]] on
    * `transformWithState`: per-user ordered-funnel anchors maintained
    * across micro-batches, emitted in Update mode whenever the user's
    * funnel state is touched. Output:
    * `(user_id, stage_reached, anchor_us)` — anchors in epoch
    * MICROSECONDS (Spark's native timestamp resolution, so the
    * strictly-after and deadline comparisons match the batch twin
    * exactly; millisecond truncation would mis-order sub-ms events).
    *
    * EXACT batch parity under any arrival order: the state is not the
    * anchors but the per-stage CANDIDATE event times, and every batch
    * re-runs the batch recurrence (t_1 = min stage-1 times; t_{i+1} =
    * first stage-i+1 time strictly after t_i within the deadline) over
    * retained candidates — so a stage-1 event arriving micro-batches
    * after the stage-2 event still moves the anchors to what the batch
    * funnel would compute on the union. Candidates are deduplicated and
    * pruned by the invariant that the stage-i anchor never exceeds
    * t_1 + i·window and t_1 only moves down as earlier events arrive:
    * times beyond that horizon can never anchor. State per user is
    * therefore bounded by their DISTINCT stage-event times at or below
    * that horizon — plus, for a user who has not yet fired stage 1, all
    * their distinct stage times (nothing is provably prunable before an
    * anchor exists). A long-running deployment facing never-converting
    * spam keys should front-filter them or set `ttl`: an opt-in
    * [[org.apache.spark.sql.streaming.TTLConfig]] on the candidate state
    * (the [[runningUserCountsTws]] pattern) that evicts users idle longer
    * than the duration. TTL is a deliberate BATCH-PARITY TRADE: a user
    * whose early-stage events expire and who then converts late diverges
    * from the batch twin (batch sees all events; the stream re-anchors
    * only on what survived) — so pick a TTL comfortably above the funnel
    * deadline `stages.size * windowSec`, where eviction can only drop
    * users the recurrence could never convert anyway. Like
    * [[runningUserCountsTws]], an enabled TTL forces processing-time
    * mode: the query never self-terminates under AvailableNow — run it
    * as a long-lived stream and stop explicitly.
    *
    * Input hygiene: non-stage event types are filtered BEFORE the
    * stateful shuffle (they cannot touch funnel state, so shipping them
    * is pure exchange waste); null users/timestamps are dropped (the
    * batch twin ignores them via SQL null semantics; here a null poisons
    * the query on checkpoint replay); a NON-null user id that does not
    * cast to long fails the query loudly instead of silently deleting
    * that user's stream (string ids need a numeric surrogate first).
    */
  def funnelStream(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, stages: Seq[String],
                   windowSec: Long,
                   ttl: Option[java.time.Duration] = None): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    require(stages.size >= 2, s"funnel needs >= 2 stages, got $stages")
    require(stages.distinct.size == stages.size,
      s"funnel stages must be distinct, got $stages")
    val spark = events.sparkSession
    import spark.implicits._
    val ttlConfig = ttl.map(TTLConfig.apply).getOrElse(TTLConfig.NONE)
    val windowUs = windowSec * 1000000L
    val nStages = stages.size
    val stageIdx = stages.zipWithIndex.toMap
    // full microsecond precision: getTime truncates to ms, the sub-ms part
    // lives in the nanos field
    def micros(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

    class FunnelProcessor extends StatefulProcessor[Long, (Long, java.sql.Timestamp, String), (Long, Int, Seq[Long])] {
      @transient private var times: ListState[(Int, Long)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        times = getHandle.getListState[(Int, Long)]("stage_times",
          Encoders.product[(Int, Long)], ttlConfig)
      override def handleInputRows(key: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
          tv: TimerValues): Iterator[(Long, Int, Seq[Long])] = {
        val incoming = rows.flatMap { case (_, ts, tpe) =>
          stageIdx.get(tpe).map(i => (i, micros(ts)))
        }.toArray
        if (incoming.isEmpty) return Iterator.empty
        val all = (times.get().toArray ++ incoming).distinct
        val byStage = Array.fill(nStages)(List.empty[Long])
        all.foreach { case (i, ms) => byStage(i) ::= ms }
        // the batch recurrence over all retained candidates
        val anchors = Array.fill[Long](nStages)(Long.MinValue)
        if (byStage(0).nonEmpty) {
          anchors(0) = byStage(0).min
          var i = 0
          var ok = true
          while (ok && i + 1 < nStages) {
            val prev = anchors(i)
            val next = byStage(i + 1).filter(t => t > prev && t <= prev + windowUs)
            if (next.isEmpty) ok = false else anchors(i + 1) = next.min
            i += 1
          }
        }
        val reached = anchors.takeWhile(_ != Long.MinValue).length
        // prune: stage-i candidates past t_1 + i*window can never anchor
        val kept =
          if (reached == 0) all
          else all.filter { case (i, us) => us <= anchors(0) + i.toLong * windowUs }
        times.clear()
        if (kept.nonEmpty) times.put(kept)
        if (reached == 0) Iterator.empty
        else Iterator.single((key, reached, anchors.take(reached).toSeq))
      }
    }

    events
      .select(
        // a non-null id that doesn't cast is a caller bug — fail loudly
        // instead of silently deleting that user's whole stream
        when(col(userCol).isNotNull && col(userCol).cast("long").isNull,
          raise_error(concat(lit("funnelStream: user id not castable to long: "),
            col(userCol).cast("string"))))
          .otherwise(col(userCol).cast("long")).as("_u"),
        col(tsCol).cast("timestamp").as("_ts"),
        col(typeCol).cast("string").as("_t"))
      // post-cast: an unparseable timestamp casts to null and must drop
      // too; non-stage types never touch state, so drop them pre-shuffle
      .where(col("_u").isNotNull && col("_ts").isNotNull &&
        col("_t").isin(stages: _*))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      // an enabled TTLConfig is rejected under TimeMode.None (no clock to
      // expire against) — the mode follows the knob, like runningUserCountsTws
      .transformWithState(new FunnelProcessor,
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Update())
      .toDF("user_id", "stage_reached", "anchor_us")
  }

  /** Streaming semantic dedup (`transformWithState`, Spark 4): the batch
    * twin is [[graft.operators.Similarity.semanticDedup]] — drop any vector
    * with a SMALLER-id same-LSH-bucket neighbor above cosine `threshold`.
    * Emits `(bucket, vec_id, kept)` in Update mode; the LAST row per
    * vec_id is its current status.
    *
    * EXACT batch parity under any arrival order, the [[funnelStream]]
    * philosophy: state per bucket is every (id, vector) seen, so a
    * smaller-id near-dup arriving micro-batches LATE retroactively flips
    * the earlier arrival to `kept = false` (batch drops x on any earlier-id
    * neighbor, surviving or not, so dropped vectors still stay in state as
    * future droppers). Each micro-batch emits a verdict for every vector
    * new to its bucket, plus one `kept = false` row per stored vector that
    * a new smaller-id neighbor now drops ([[KeepFirstInBucket]]); readers
    * keep the last row per id.
    *
    * Scale shape: the bucket is computed BEFORE the stateful shuffle (a
    * narrow projection of the same deterministic hyperplane bits as the
    * batch twin), so the exchange is bucket-keyed and `nPlanes` bounds
    * expected bucket population. Batch parity requires retaining all seen
    * vectors, so long-running deployments should bound state with more
    * planes, the opt-in `ttl` (a [[org.apache.spark.sql.streaming.TTLConfig]]
    * on the seen-vector state, same batch-parity trade and
    * processing-time-mode consequence as [[funnelStream]]'s: an evicted
    * vector can no longer drop later arrivals the batch twin would; each
    * vector expires `ttl` after it was stored, however often its bucket
    * is touched later), or periodic restarts. Null ids/vectors are dropped
    * pre-shuffle (same checkpoint-replay guard as [[funnelStream]]).
    * Requires the RocksDB state store provider, like every
    * `transformWithState` operator here.
    *
    * PQ-CODES-IN-STATE (`pqBooks`): at 100 TB the binding resource of
    * this rung is ListState bytes (measured ~345–440 B/doc for raw 48-dim
    * vectors, BASELINE.md "Round-16 scale probe: streaming state
    * growth"). Passing a
    * [[graft.operators.Similarity.fitPqCodebooks]] frame switches the
    * rung to product-quantized state: vectors are PQ-encoded BEFORE the
    * stateful shuffle (the codegen'd
    * [[graft.functions.PqEncode]] projection — so the exchange shrinks
    * too, m ints instead of dims doubles), state stores the m-int codes,
    * and the keep-first recurrence runs on RECONSTRUCTED vectors (decode
    * = m codebook lookups per entry). Decisions become a deterministic
    * function of codes — batch-to-batch stable under any arrival order,
    * the same replay argument as the raw rung — but live in
    * reconstructed space: they match the raw rung exactly whenever
    * quantization distortion does not straddle `threshold` (near-dup
    * corpora are far from the threshold on both sides by construction;
    * IngestStreamingSpec pins raw/PQ keep-set agreement, BASELINE.md
    * "Round-19: PQ-codes-in-state" prices the B/doc cut). Fit the books
    * on a bounded representative sample (the [[graft.operators.Similarity
    * .fitPqCodebooks]] `fitSample` contract); the bucket key is still
    * computed from the vector the keep-first recurrence sees (raw, or
    * centered when `mean` is set), so candidate generation is unchanged.
    *
    * CENTER MODE (`mean`): a corpus concentrated around a shared
    * direction pins plane signs and collapses streaming buckets exactly
    * as it collapses the batch twin's (BASELINE.md "Round-19:
    * mean-centering closes the LSH concentration hole") — and here the
    * damage is worse, because every new vector is compared with every
    * vector stored in its bucket: O(bucket population x new vectors)
    * per micro-batch.
    * A stream cannot fit a corpus-wide mean online, so center mode takes
    * a FITTED-MEAN SNAPSHOT: run [[graft.operators.Similarity
    * .fitMeanVector]] on a reference snapshot of the same embedding
    * distribution and pass it here. Vectors are centered BEFORE the
    * bucket key and BEFORE the `pqBooks` encode (pre-shuffle, one narrow
    * projection), so buckets, state, and the verification cosine all
    * live in centered space — the batch `center = true` well-definedness
    * argument verbatim, with `threshold` a centered-space cosine. When
    * combining with `pqBooks`, the books MUST be fit on CENTERED vectors
    * ([[graft.operators.Similarity.centerVectors]] the fit corpus with
    * the same mean first) or the codes live in the wrong space; the
    * loud ragged guard raises on any vector whose dims differ from the
    * mean's. The mean is KEY-AFFECTING state (see the checkpoint note on
    * [[semanticKeyed]]): changing it over an existing checkpoint strands
    * old buckets — the in-state config marker trips on touched keys. */
  def semanticDedupStream(vectors: DataFrame, threshold: Double, nPlanes: Int = 8,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          ttl: Option[java.time.Duration] = None,
                          pqBooks: Option[DataFrame] = None,
                          mean: Option[Seq[Double]] = None): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 62,
      s"semanticDedupStream needs nPlanes in [1, 62], got $nPlanes")
    semanticKeyed(vectors,
      graft.operators.Similarity.hyperplaneBucketExpr(vecCol, nPlanes),
      idCol, vecCol, threshold, ttl, pqBooks, mean,
      configTag = s"planes=$nPlanes;bands=1")
      .toDF("bucket", idCol, "kept")
  }

  /** Shared pre-shuffle projection of the two semantic rungs: key the
    * rows by `key` (a single bucket or an exploded band array), guard
    * nulls, and run [[KeepFirstInBucket]] on raw vectors or PQ codes.
    * ONE definition so the null-guard set and key derivation can never
    * desynchronize between the raw and PQ paths — the parity the
    * `pqBooks` scaladoc promises.
    *
    * CHECKPOINT COMPATIBILITY: the bucket key derives from (nPlanes,
    * bands, the plane family, the centering `mean`) and the state VALUE
    * type from `pqBooks` — all of them are effectively part of the
    * checkpoint schema. Changing any of them (including upgrading across
    * a default change) over an existing transformWithState checkpoint
    * silently strands old state under keys new arrivals never produce;
    * restart such streams from a fresh checkpoint. As a TRIPWIRE, every
    * bucket's state carries a config marker (planes/bands/pq-mode/mean
    * fingerprint, one short string per bucket) written on first touch and
    * validated on every later one — a resumed stream whose config changed
    * FAILS LOUDLY on the first key that collides across configs (with
    * nPlanes/bands changes the key spaces overlap heavily, so this fires
    * within the first micro-batches) instead of silently re-admitting
    * previously-seen duplicates. It is a tripwire, not a proof: a key
    * that never collides across configs keeps its stranded state
    * silently, so the fresh-checkpoint rule above still stands. */
  private def semanticKeyed(vectors: DataFrame, key: org.apache.spark.sql.Column,
      idCol: String, vecCol: String, threshold: Double,
      ttl: Option[java.time.Duration],
      pqBooks: Option[DataFrame],
      mean: Option[Seq[Double]],
      configTag: String): Dataset[(Long, Long, Boolean)] = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // center BEFORE the key projection and the PQ encode: buckets, state,
    // and the recurrence cosine must all live in one space (the batch
    // center=true well-definedness argument). The mean's RAW double
    // values fingerprint into the config marker (deliberately
    // conservative: a bit-level-different refit of a numerically
    // identical mean reads as a different key space and trips the
    // fresh-checkpoint tripwire rather than risking a silent mix).
    val src = mean.fold(vectors)(mu => vectors.select(col(idCol),
      graft.operators.Similarity
        .centeredGuarded(col(vecCol), mu, "semanticDedupStream(mean)").as(vecCol)))
    // collect books once: the encode projection AND the config tag both
    // need them (the tag fingerprints the ACTUAL centroid values — state
    // codes are only decodable by the books that wrote them, so swapping
    // in different books of the same shape across a restart must trip
    // the marker exactly like a plane or mean change)
    val collected = pqBooks.map(df =>
      graft.operators.Similarity.collectPqCodebooks(df))
    def fp(xs: Iterable[Any]): String = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(xs).toLong & 0xffffffffL)
    val tag = Some(configTag +
      s";pq=${collected.fold("raw")(b =>
        "codes:" + fp(b.flatMap(_.flatMap(_.toSeq)).toSeq))}" +
      s";mean=${mean.fold("none")(mu => fp(mu))}")
    val vec = col(vecCol).cast("array<double>")
    def keyed(payload: org.apache.spark.sql.Column) = src
      .select(key.as("_b"), col(idCol).cast("long").as("_id"), payload.as("_p"))
      .where(col("_b").isNotNull && col("_id").isNotNull && col("_p").isNotNull)
    collected match {
      case Some(books) =>
        val m = books.length
        val dsub = books(0)(0).length
        require(books.forall(_.forall(_.length == dsub)),
          "semanticDedupStream(pqBooks): ragged codebooks — subspace centroid widths differ")
        def decode(codes: Seq[Int]): Seq[Double] = {
          require(codes.length == m,
            s"pq state decode: ${codes.length} codes for $m subspaces — state written with different books?")
          val out = new Array[Double](m * dsub)
          var j = 0
          while (j < m) {
            val c = codes(j)
            require(c >= 0 && c < books(j).length,
              s"pq state decode: code $c out of range for subspace $j (k=${books(j).length})")
            System.arraycopy(books(j)(c), 0, out, j * dsub, dsub)
            j += 1
          }
          scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
        }
        // decode each entry once per micro-batch; the recurrence is the
        // raw rung's, in reconstructed space
        keepFirstInBucket(
          keyed(graft.functions.GraftFunctions.pq_encode(vec,
            books.map(_.map(_.toSeq).toSeq).toSeq)).as[(Long, Long, Seq[Int])],
          "seen_codes", Encoders.product[(Long, Seq[Int])], ttl, tag,
          (codes: Array[Seq[Int]]) => {
            val vs = codes.map(decode)
            (a: Int, b: Int) => semanticCos(vs(a), vs(b)) > threshold
          })
      case None =>
        keepFirstInBucket(keyed(vec).as[(Long, Long, Seq[Double])],
          "seen_vectors", Encoders.product[(Long, Seq[Double])], ttl, tag,
          (vs: Array[Seq[Double]]) =>
            (a: Int, b: Int) => semanticCos(vs(a), vs(b)) > threshold)
    }
  }

  /** [[semanticDedupStream]] with [[graft.operators.Similarity
    * .semanticDedupBanded]]'s OR-construction: each vector ships one row
    * PER BAND (disjoint plane slices; key = band-bucket | band << nPlanes,
    * so band key spaces never collide), every band runs the keep-first
    * recurrence independently, and — exactly [[fuzzyDedupStream]]'s
    * reader contract, hence the same `kept_in_bucket` column name — a
    * vector's overall verdict is the AND of the LAST row per (bucket, id)
    * over its `bands` buckets: dropped iff ANY band found an earlier-id
    * neighbor above `threshold`, the batch operator's rule. State carries
    * the full vector once per band (`bands` x the single-band ~440 B/doc
    * line in BASELINE.md) — the recall-for-state trade, priced. `ttl` is
    * the single rung's: each (band bucket, vector) entry expires `ttl`
    * after it was stored, not after its bucket's last touch.
    *
    * SIZING: `nPlanes` is PER BAND and must be chosen exactly like the
    * single rung's — bands multiply state and recall, they do not
    * substitute for planes. Shrinking per-band planes to hold the total
    * constant re-creates the few-bucket regime where every new vector is
    * compared with a large bucket: O(bucket population x new vectors)
    * per micro-batch, and a 2x4 split on 64k docs puts ~4k vectors in
    * every ListState (16 buckets/band). The default (8 planes x 2
    * bands) matches the batch twin's, so default-vs-default stream/batch
    * calls stay parity-consistent.
    *
    * `pqBooks` carries [[semanticDedupStream]]'s PQ-codes-in-state mode;
    * the state multiplier is then bands x CODES (m ints), not bands x
    * raw vectors — the banded rung is where the compression matters
    * most, since bands multiply state. `mean` carries its center mode
    * (fitted-mean snapshot, centered before EVERY band's bucket key and
    * before the PQ encode — books fit on centered vectors, threshold in
    * centered space; see there for the full contract). */
  def semanticDedupStreamBanded(vectors: DataFrame, threshold: Double,
                                nPlanes: Int = 8, bands: Int = 2,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding",
                                ttl: Option[java.time.Duration] = None,
                                pqBooks: Option[DataFrame] = None,
                                mean: Option[Seq[Double]] = None): DataFrame = {
    require(bands >= 1 && nPlanes >= 1 && bands * nPlanes <= 62,
      s"semanticDedupStreamBanded needs bands*nPlanes in [1, 62], got $bands x $nPlanes")
    val keys = (0 until bands).map(b =>
      graft.operators.Similarity.hyperplaneBucketExpr(vecCol, nPlanes,
        planeOffset = b * nPlanes) + lit(b.toLong << nPlanes))
    semanticKeyed(vectors, explode(array(keys: _*)), idCol, vecCol,
      threshold, ttl, pqBooks, mean,
      configTag = s"planes=$nPlanes;bands=$bands")
      .toDF("bucket", idCol, "kept_in_bucket")
  }

  /** The four near-dup gates' one state machine: keep-first within a
    * bucket, where an id is dropped iff a SMALLER id in its bucket is
    * `near` it (kept or dropped itself). State per bucket is every
    * (id, value) stored, in the ListState `stateName`. Per touch:
    *   - `marker`, when set, is checked ([[checkConfigMarker]]);
    *   - ids already stored, and repeats of one id in the micro-batch,
    *     are ignored (the first row wins);
    *   - the new entries are appended, never rewriting stored ones;
    *   - each new id is emitted kept iff no smaller id in the bucket is
    *     near it, and each stored id that a new smaller id is near is
    *     emitted again, as dropped.
    * Keep-first is monotone — a verdict depends only on smaller ids, so
    * the one possible change is kept -> dropped — and the last row per
    * (bucket, id) equals the recurrence over everything stored. A touch
    * costs O(bucket population x new ids) comparisons and writes only
    * the new entries. `near(values)` is built once per touch over the
    * bucket's stored-then-new values and takes two of their indices,
    * the smaller id first. */
  private class KeepFirstInBucket[K, V: ClassTag](stateName: String,
      valueEncoder: Encoder[(Long, V)], ttl: Option[java.time.Duration],
      marker: Option[String], near: Array[V] => (Int, Int) => Boolean)
      extends StatefulProcessor[K, (Long, V), (K, Long, Boolean)] {
    @transient private var seen: ListState[(Long, V)] = _
    @transient private var cfg: ValueState[String] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getListState(stateName, valueEncoder,
        ttl.map(TTLConfig.apply).getOrElse(TTLConfig.NONE))
      // the config marker must NEVER expire before the entries it
      // describes, so it takes no TTL
      if (marker.isDefined)
        cfg = getHandle.getValueState[String]("op_config", Encoders.STRING, TTLConfig.NONE)
    }
    override def handleInputRows(bucket: K, rows: Iterator[(Long, V)],
        tv: TimerValues): Iterator[(K, Long, Boolean)] = {
      marker.foreach(checkConfigMarker(cfg, _, bucket))
      val stored = seen.get().toArray
      val ids = scala.collection.mutable.HashSet.from(stored.iterator.map(_._1))
      val fresh = rows.filter(r => ids.add(r._1)).toArray
      if (fresh.isEmpty) return Iterator.empty
      seen.appendList(fresh)
      val all = stored ++ fresh
      val isNear = near(all.map(_._2))
      val n = stored.length
      val verdicts = fresh.indices.iterator.map { f =>
        val id = fresh(f)._1
        (bucket, id, !all.indices.exists(j => all(j)._1 < id && isNear(j, n + f)))
      }
      val flips = stored.indices.iterator.filter { s =>
        fresh.indices.exists(f => fresh(f)._1 < stored(s)._1 && isNear(n + f, s))
      }.map(s => (bucket, stored(s)._1, false))
      verdicts ++ flips
    }
  }

  /** Runs [[KeepFirstInBucket]] over `(bucket, id, value)` rows. The
    * bucket leaves the value side before the stateful exchange: the
    * processor reads it from the key argument, and groupByKey already
    * appends a key column to the exchange — carrying it twice would ship
    * every bucket two times per row (caught by PlanPostureSpec's
    * streaming pin). An enabled TTL forces processing-time mode, like
    * [[funnelStream]]. */
  private def keepFirstInBucket[K, V](keyed: Dataset[(K, Long, V)],
      stateName: String, valueEncoder: Encoder[(Long, V)],
      ttl: Option[java.time.Duration], marker: Option[String],
      near: Array[V] => (Int, Int) => Boolean)(implicit
      keyEncoder: Encoder[K], outEncoder: Encoder[(K, Long, Boolean)],
      vTag: ClassTag[V]): Dataset[(K, Long, Boolean)] =
    keyed.groupByKey(_._1)(keyEncoder)
      .mapValues(t => (t._2, t._3))(valueEncoder)
      .transformWithState(
        new KeepFirstInBucket[K, V](stateName, valueEncoder, ttl, marker, near),
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Update())

  /** The semantic rungs' checkpoint-config tripwire (see
    * [[semanticKeyed]]'s CHECKPOINT COMPATIBILITY note): written on a
    * bucket's first touch, validated on every later one — a resumed
    * stream whose key-affecting config (planes/bands/pq-mode/centering
    * mean) changed fails loudly on the first cross-config key collision
    * instead of silently re-admitting previously-seen duplicates. */
  private def checkConfigMarker(cfg: ValueState[String],
                                configTag: String, bucket: Any): Unit = {
    if (cfg.exists()) {
      val prior = cfg.get()
      if (prior != configTag)
        throw new IllegalStateException(
          s"semantic dedup stream: bucket $bucket holds state written under config " +
            s"[$prior] but this run uses [$configTag] — nPlanes/bands/pqBooks/mean " +
            "are part of the checkpoint key/state schema; restart from a fresh " +
            "checkpoint instead of resuming across a config change")
    } else cfg.update(configTag)
  }

  /** Sequential double dot/norms over the min span — the CosineSimilarity
    * kernel's exact arithmetic (incl. its malformed-pair convention), so
    * stream and batch agree on threshold boundaries. Shared by the raw and
    * PQ semantic rungs. */
  private def semanticCos(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Streaming fuzzy-TEXT near-dup scrub (MinHash-LSH banded,
    * `transformWithState`, Spark 4) — the missing rung between
    * [[incrementalDedupStream]] (exact) and [[semanticDedupStream]]
    * (embedding): drop any document with a SMALLER-id band-mate whose
    * estimated Jaccard (fraction of equal MinHash slots, the same
    * [[graft.functions.MinHashSig]] kernel as every batch fuzzy operator,
    * so est values are identical multiples of 1/16 and the `tau` boundary
    * is engine-reproducible) reaches `tau`.
    *
    * SEMANTICS — direct-neighbor keep-first, NOT connected components.
    * A document is dropped in a bucket iff an earlier (smaller-id) doc in
    * THAT band bucket clears `tau`; its overall verdict is the AND over
    * its `LshBands` bucket rows. This is exactly the batch rule "drop
    * id_b of every [[graft.operators.Dedup.lshCandidatePairs]] pair with
    * est_jaccard >= tau" (pinned in IngestStreamingSpec), and a strict
    * SUBSET of [[graft.operators.Dedup.fuzzyDedupKeepFirst]]'s removals:
    * the CC transform also collapses transitive chains (x~z~m drops x via
    * the path even when x has no direct smaller-id edge), which needs a
    * global pair graph no bucket-local stateful operator can see. For
    * star-shaped dup families (one original, k variants — the dominant
    * real shape) the two agree exactly; both facts are pinned in the spec.
    *
    * EXACT parity with that pairwise rule under any arrival order, the
    * [[semanticDedupStream]] philosophy: state per bucket is every
    * (id, sig) ever seen there; each micro-batch emits the verdicts of
    * the docs new to a bucket plus a flip for each stored doc that a new
    * smaller-id doc now drops ([[KeepFirstInBucket]]), so a smaller-id
    * original arriving late retroactively flips earlier survivors.
    * Emits `(bucket, idCol, kept_in_bucket)` in Update mode; readers keep
    * the LAST row per (bucket, id) and AND over the id's buckets — the
    * column is named `kept_in_bucket`, not `kept`, precisely so the
    * remaining aggregation step is visible in consuming code.
    *
    * Scale shape: signature and band keys are computed BEFORE the stateful
    * shuffle (one narrow [[graft.functions.MinHashSig]] pass — text never
    * shuffles); the exchange carries (bucket, id, 16-slot sig) — the same
    * fixed-width rows the batch [[graft.operators.Dedup.lshIndex]]
    * persists, and state growth matches that index's contract (seen docs x
    * LshBands) with the retained-droppers caveat the semantic twin
    * documents. `ttl` (opt-in, processing-time mode) bounds state at the
    * same batch-parity cost; each entry expires `ttl` after it was
    * stored, not after its bucket's last touch. Requires the RocksDB
    * state store provider. */
  def fuzzyDedupStream(docs: DataFrame, tau: Double,
                       idCol: String = "doc_id", textCol: String = "text",
                       ttl: Option[java.time.Duration] = None): DataFrame = {
    require(tau > 0 && tau <= 1, s"fuzzyDedupStream needs tau in (0, 1], got $tau")
    val spark = docs.sparkSession
    import spark.implicits._
    val k = graft.operators.Dedup.MinhashK
    val bands = graft.operators.Dedup.LshBands
    val rows = k / bands

    // fraction of equal slots — estJaccardCol's exact arithmetic (sigs are
    // always K slots by construction; the min guard is checkpoint-replay
    // paranoia, not a semantic branch)
    def estJaccard(a: Seq[Long], b: Seq[Long]): Double = {
      val n = math.min(k, math.min(a.length, b.length))
      var eq = 0; var i = 0
      while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / k
    }

    keepFirstInBucket(
      docs
        .select(col(idCol).cast("long").as("_id"),
          graft.functions.GraftFunctions.minhash_sig(col(textCol)).as("_sig"))
        .where(col("_id").isNotNull && col("_sig").isNotNull)
        .select(explode(expr(
            s"transform(sequence(0, ${bands - 1}), b -> concat_ws('|', b, " +
              s"concat_ws('-', slice(_sig, b * $rows + 1, $rows))))")).as("_bucket"),
          col("_id"), col("_sig"))
        .as[(String, Long, Seq[Long])],
      "seen_sigs", Encoders.product[(Long, Seq[Long])], ttl, None,
      (sigs: Array[Seq[Long]]) => (a: Int, b: Int) => estJaccard(sigs(a), sigs(b)) >= tau)
      .toDF("bucket", idCol, "kept_in_bucket")
  }

  /** Streaming PERCEPTUAL near-dup scrub (Manku-banded 64-bit
    * fingerprints, `transformWithState`, Spark 4) — [[fuzzyDedupStream]]'s
    * modality-agnostic sibling for the image/audio arms of the dedup
    * ladder: feed it any precomputed 64-bit perceptual hash
    * ([[graft.operators.Media.imageDHashes]]' dHash,
    * [[graft.operators.Sound.energyHash64]]'s contour hash, a token
    * simhash) and every item with a SMALLER-id fingerprint within
    * `maxHamming` bits is dropped.
    *
    * SEMANTICS — the same direct-neighbor keep-first rule as
    * [[fuzzyDedupStream]], with one upgrade: Manku banding (4 x 16 bits)
    * is EXACT within the radius by pigeonhole (`maxHamming < 4` means any
    * pair within the radius agrees on >= 1 whole band), so the AND-over-
    * buckets verdict equals the pairwise rule "drop id_b of every
    * [[graft.operators.Dedup.hammingNearDupPairs64]] pair" with FULL
    * recall — no banding-probability caveat. Still a documented subset of
    * [[graft.operators.Dedup.incrementalHammingDedupKeepFirst]]'s
    * CC-transform removals (transitive chains; equal on star families).
    *
    * EXACT parity under any arrival order (retroactive late-original
    * flips, emitted only for the stored items they drop, Update mode;
    * readers keep the LAST row per (bucket, id) and AND over an id's
    * buckets).
    *
    * Scale shape: the fingerprint is banded BEFORE the stateful shuffle —
    * the exchange carries (bucket, id, one long), the same fixed-width
    * rows the batch [[graft.operators.Dedup.hammingIndex64]] persists
    * (media bytes never shuffle — hash where the bytes live, ship 8
    * bytes). `ttl` opt-in with the usual parity trade. Requires the
    * RocksDB state store provider. */
  def hammingDedupStream(items: DataFrame, maxHamming: Int = 3,
                         idCol: String = "doc_id", hashCol: String = "h",
                         ttl: Option[java.time.Duration] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"pigeonhole needs maxHamming in [0, 3], got $maxHamming")
    val spark = items.sparkSession
    import spark.implicits._
    // bucket = (band << 16) | bkey — the hammingIndex64 banding packed
    // into one long key (band in [0,3], bkey 16 bits)
    keepFirstInBucket(
      items
        .select(col(idCol).cast("long").as("_id"),
          col(hashCol).cast("long").as("_h"))
        .where(col("_id").isNotNull && col("_h").isNotNull)
        .select(explode(expr(
            "transform(sequence(0, 3), b -> " +
              "shiftleft(CAST(b AS BIGINT), 16) | (shiftright(_h, b * 16) & 65535))"))
            .as("_bucket"),
          col("_id"), col("_h"))
        .as[(Long, Long, Long)],
      "seen_hashes", Encoders.product[(Long, Long)], ttl, None,
      (hs: Array[Long]) =>
        (a: Int, b: Int) => java.lang.Long.bitCount(hs(a) ^ hs(b)) <= maxHamming)
      .toDF("bucket", idCol, "kept_in_bucket")
  }

  /** Streaming incremental EXACT dedup (`transformWithState`, Spark 4):
    * the streaming twin of [[graft.operators.Dedup.incrementalDedupKeepFirst]]
    * + [[graft.operators.Dedup.growFingerprints]] — the daily-crawl contract
    * held as keyed state instead of a parquet-persisted index. Keyed by the
    * 64-bit xxhash64 text fingerprint (the batch family's `wide` scale key,
    * single-long form — NOT the ~30-bit oracle-parity fold, whose birthday
    * collisions at ~38k distinct texts would silently drop live docs);
    * state per fingerprint is ONE long (the smallest id seen), so the
    * grown index lives sharded across the state store and survives
    * restarts via the checkpoint.
    *
    * EXACT batch parity under any arrival order, the [[funnelStream]] /
    * [[semanticDedupStream]] philosophy: the keeper per fingerprint is the
    * smallest id EVER seen, so a smaller-id original arriving micro-batches
    * late retroactively flips the earlier keeper to `kept = false` (one
    * re-emitted row — readers keep the last row per id). Emits
    * `(h, doc_id, kept)` in Update mode.
    *
    * Scale shape: the fingerprint is computed BEFORE the stateful shuffle
    * (narrow projection), so the exchange carries (hash, id) — text never
    * shuffles, exactly the batch twin's discipline. State is one long per
    * DISTINCT document ever seen; `ttl` (opt-in, processing-time mode)
    * bounds it for unbounded deployments at the cost of re-admitting
    * re-crawls of evicted fingerprints — the same batch-parity trade as
    * [[semanticDedupStream]]'s TTL. Null ids/texts are dropped pre-shuffle
    * (checkpoint-replay guard). Requires the RocksDB state store provider.
    */
  def incrementalDedupStream(docs: DataFrame,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             ttl: Option[java.time.Duration] = None): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    val spark = docs.sparkSession
    import spark.implicits._
    val ttlConfig = ttl.map(TTLConfig.apply).getOrElse(TTLConfig.NONE)

    class KeepFirstProcessor extends StatefulProcessor[Long, (Long, Long), (Long, Long, Boolean)] {
      @transient private var minId: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        minId = getHandle.getValueState[Long]("min_id", Encoders.scalaLong, ttlConfig)
      override def handleInputRows(h: Long, rows: Iterator[(Long, Long)],
          tv: TimerValues): Iterator[(Long, Long, Boolean)] = {
        val ids = rows.map(_._2).toArray.distinct.sorted
        if (ids.isEmpty) return Iterator.empty
        val prev = if (minId.exists()) Some(minId.get()) else None
        val keeper = prev.fold(ids.head)(math.min(_, ids.head))
        minId.update(keeper)
        val flip = prev.filter(p => p != keeper).map((h, _, false))
        // incoming ids: kept iff it IS the keeper and the keeper is new —
        // a re-crawl of the standing keeper's own id stays kept
        val out = ids.iterator.map(id => (h, id, id == keeper))
        flip.iterator ++ out
      }
    }

    docs
      .select(xxhash64(col(textCol)).as("_h"),
        col(idCol).cast("long").as("_id"))
      .where(col("_h").isNotNull && col("_id").isNotNull)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new KeepFirstProcessor,
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Update())
      .toDF("h", idCol, "kept")
  }

  /** Streaming session summary row. */
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long)

  /** True streaming sessionization via flatMapGroupsWithState (the batch
    * twin is SparkEntry q20_sessionize): sessions close when the gap
    * between consecutive events exceeds `gapMinutes`, either observed
    * within the data or enforced by an event-time timeout once the
    * watermark passes the open session's horizon. State per user is one
    * open session — bounded, watermark-reclaimed. Null/uncastable keys and
    * timestamps are dropped (a null here poisons the query on checkpoint
    * replay — same guard as [[funnelStream]]); an allowed-late event
    * inside the open session's gap EXTENDS its bounds in whichever
    * direction (min start / max end), never moves them backward.
    *
    * Gap arithmetic and session bounds are MICROSECOND-exact (Spark's
    * native timestamp precision, and the batch twin's `unix_micros`
    * arithmetic): the previous ms-truncated `Timestamp.getTime` math
    * silently merged sessions whose true gap exceeded the horizon by
    * under a millisecond and emitted ms-truncated bounds — visible on any
    * real event stream (the driver's events table carries µs). The only
    * remaining ms quantity is the timeout registration (the GroupState
    * API takes ms); it is rounded UP so a timer can never fire before the
    * true µs horizon (firing late never breaks batch parity — a
    * beyond-gap event closes the session on arrival regardless). */
  def sessionizeStream(events: DataFrame, tsCol: String, userCol: String,
                       gapMinutes: Int, watermark: String = "0 seconds"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60000000L
    def usToTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def tsToUs(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val typed = events
      .withColumn("_ts", col(tsCol).cast("timestamp"))
      .withWatermark("_ts", watermark)
      // _ts stays in the operator input so the event-time attribute (and
      // its late-row semantics) ride along; the µs field drives the math
      .select(col(userCol).cast("long").as("u"), col("_ts"),
        unix_micros(col("_ts")).as("us"))
      // post-cast: null keys fail the non-nullable Long upcast, null
      // timestamps NPE in the state function — both wedge the query
      .where(col("u").isNotNull && col("_ts").isNotNull)
      .as[(Long, java.sql.Timestamp, Long)]

    def fn(user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
           state: GroupState[Session]): Iterator[Session] = {
      if (rows.isEmpty && state.hasTimedOut) {
        // watermark passed the open session's gap horizon: emit + clear
        val out = state.getOption.iterator.toSeq
        state.remove()
        return out.iterator
      }
      val times = rows.map(_._3).toArray.sorted
      var closed = List.empty[Session]
      // the open session rides through the loop as µs longs — the restored
      // state is converted ONCE here and a java.sql.Timestamp is only
      // materialized when a session closes or is stored, not per event
      var open = false
      var startUs = 0L; var endUs = 0L; var nEvents = 0L
      state.getOption.foreach { s =>
        open = true
        startUs = tsToUs(s.session_start)
        endUs = tsToUs(s.session_end)
        nEvents = s.n_events
      }
      times.foreach { t =>
        if (!open) {
          open = true; startUs = t; endUs = t; nEvents = 1L
        } else if (t - endUs <= gapUs) {
          // an allowed-late event (t before the current bounds) extends
          // the session backward, never drags session_end before
          // session_start
          if (t < startUs) startUs = t
          if (t > endUs) endUs = t
          nEvents += 1L
        } else {
          closed ::= Session(user, usToTs(startUs), usToTs(endUs), nEvents)
          startUs = t; endUs = t; nEvents = 1L
        }
      }
      if (open) {
        state.update(Session(user, usToTs(startUs), usToTs(endUs), nEvents))
        // ceil to ms: never earlier than the µs horizon (see Scaladoc)
        state.setTimeoutTimestamp(
          Math.floorDiv(endUs + gapUs + 999L, 1000L))
      }
      closed.reverse.iterator
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Session, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
      .toDF()
  }

  /** Stream-static enrichment join: each micro-batch hash-joins against a
    * static dim. No broadcast hint — the planner picks broadcast when the
    * dim is under `autoBroadcastJoinThreshold` (the streaming side then
    * never shuffles) and falls back to a shuffled join for large dims
    * instead of OOMing the driver on a forced collect. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       keys: Seq[String]): DataFrame =
    stream.join(dim, keys)

  /** Stream-stream inner join within a bounded event-time band: both sides
    * are watermarked and the join condition carries a time range, so state
    * for rows older than (watermark - band) is reclaimed — the only
    * stream-stream join shape that is bounded-state at 100 TB/day. */
  def joinStreamsWithinBand(left: DataFrame, right: DataFrame,
                            key: String, tsCol: String,
                            bandSeconds: Long,
                            watermark: String = "1 hour"): DataFrame = {
    val l = left.withColumn("_lts", col(tsCol).cast("timestamp"))
      .withWatermark("_lts", watermark)
      .select(col(key).as("_lk"), col("_lts"),
        struct(left.columns.map(col): _*).as("l"))
    val r = right.withColumn("_rts", col(tsCol).cast("timestamp"))
      .withWatermark("_rts", watermark)
      .select(col(key).as("_rk"), col("_rts"),
        struct(right.columns.map(col): _*).as("r"))
    l.join(r, col("_lk") === col("_rk") &&
      col("_rts") >= col("_lts") - expr(s"interval $bandSeconds seconds") &&
      col("_rts") <= col("_lts") + expr(s"interval $bandSeconds seconds"))
  }

  /** foreachBatch sink with the micro-batch id exposed — `batchId` replaces
    * the reference's hand-maintained `global_batch_count` (:31); the
    * checkpoint makes it resume-correct. */
  def foreachBatchSink(df: DataFrame)(f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
      f(batch.toDF(), id)
    }.trigger(Trigger.AvailableNow())
}
