package graft.operators

import org.apache.spark.sql.catalyst.expressions.DistributedSequenceID
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}

/** Join / set / order operators (SURVEY §2.4, §2.9, §2.10).
  *
  * The reference has no relational join; its joins are positional — align by
  * row index (reference: model_architecture.py:66-73) or cyclic modulo
  * assignment (:140-147). Those reduce to equi-joins once an index column is
  * explicit, and Spark then picks broadcast/sort-merge via AQE.
  */
object Relational {

  /** Sever lineage and hand back a frame that owns no cacheManager entry.
    *
    * Durability contract (executor-loss caveat): with no checkpoint
    * directory configured this falls back to `localCheckpoint`, whose
    * blocks live ONLY on executors — the severed lineage means an executor
    * lost AFTER the handback has no recompute path, and downstream actions
    * fail with missing-block errors. That trade is fine on a single-node
    * session (this repo's local[32] target) and for short-lived results,
    * but at real-cluster scale callers should `sc.setCheckpointDir(...)`
    * first: this helper then uses the RELIABLE `checkpoint()`, whose files
    * survive any executor loss at the cost of one write to the checkpoint
    * filesystem. Used by every operator here that must materialize an
    * intermediate ([[withRowIndex]], [[Batching.prefixSum]],
    * [[graft.operators.Dedup]]'s hash tables and star connected components).
    *
    * Storage-growth caveat: a detached frame OWNS storage — localCheckpoint
    * blocks in executor memory/disk, or reliable-checkpoint files that
    * Spark never deletes on its own (`spark.cleaner.referenceTracking
    * .cleanCheckpoints` only cleans on driver GC). One-shot handbacks are
    * reclaimed when the caller drops the frame; ITERATIVE callers must free
    * each superseded round deterministically via [[release]] — the star
    * connected-components loop does — or a long run accumulates one copy of
    * its working set per round.
    */
  private[graft] def detach(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Eagerly free a superseded [[detach]] result: drops its storage blocks
    * and deletes its reliable-checkpoint files. The frame must not be used
    * afterwards. */
  private[graft] def release(df: DataFrame): Unit =
    GraftSqlBridge.releaseDetached(df)

  /** Attach a dense 0-based row index following `orderCols`.
    *
    * Scalable form of `row_number() OVER (ORDER BY …)`: a range-partitioned
    * sort (stays distributed) under Spark's sequence-id plan node
    * (`AttachDistributedSequence`, the node behind pandas-on-Spark's default
    * index), which numbers rows from per-partition counts instead of a
    * single-partition window. Under a total order the values equal
    * `row_number()-1` exactly, so oracle SQL can still use that form.
    *
    * Returns a lineage-severed frame, so indices stay put across re-collects
    * even when sort keys tie — see [[detach]] for the executor-loss
    * durability contract (set a checkpoint dir for the reliable mode).
    */
  def withRowIndex(df: DataFrame, orderCols: Seq[String],
                   out: String = "idx"): DataFrame =
    detach(df.orderBy(orderCols.map(col): _*).select(col("*"),
      GraftSqlBridge.column(DistributedSequenceID()).as(out)))

  /** J1 — positional equi-join: index both sides by their own order, join on
    * the index (model_architecture.py:66-73 `__getitem__` alignment). */
  def positionalJoin(left: DataFrame, leftOrder: Seq[String],
                     right: DataFrame, rightOrder: Seq[String]): DataFrame =
    withRowIndex(left, leftOrder).join(withRowIndex(right, rightOrder), "idx")

  /** J2 — cyclic/round-robin modulo assignment: pair item i of `big` with
    * item (i mod |small|) of `small` (model_architecture.py:140-147). The
    * small side is broadcast — no shuffle of the big side. */
  def moduloJoin(big: DataFrame, bigOrder: Seq[String],
                 small: DataFrame, smallOrder: Seq[String]): DataFrame = {
    val smallIdx = withRowIndex(small, smallOrder)
    val n = smallIdx.count()
    // idx % 0 is null in SQL, so an empty small side would silently drop
    // EVERY big row through the join instead of failing
    require(n > 0, "moduloJoin: small side is empty — idx % 0 would null out every row")
    withRowIndex(big, bigOrder)
      .withColumn("idx", col("idx") % lit(n))
      .join(broadcast(smallIdx), "idx")
  }

  /** O3 — top-k with deterministic tie-break; plans as
    * TakeOrderedAndProject (per-partition heap + driver merge, no full sort). */
  def topK(df: DataFrame, k: Int, sortCols: org.apache.spark.sql.Column*): DataFrame =
    df.orderBy(sortCols: _*).limit(k)

  /** U1 — union-all of homogeneous frames by column name; replaces the
    * reference's driver-side `pd.concat` materialization
    * (read_csv_s3_train.py:122-134) with one lazy plan. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionAll of zero frames has no schema to return")
    dfs.reduce(_ unionByName _)
  }

  /** O4 — seeded random split (Best-Model-architecture-for-local.py:106-109).
    * Deterministic per seed; excluded from the oracle (SURVEY §7.4.4). */
  def randomSplit(df: DataFrame, weights: Array[Double], seed: Long): Array[DataFrame] =
    df.randomSplit(weights, seed)

  /** As-of (point-in-time) join: each left row picks the payload of the
    * latest right row with `right.ts <= left.ts` within the same key group.
    *
    * The scalable plan is NOT a range join (candidate explosion) but a
    * union + one partitioned window sort: tag the sides, sort each key group
    * by (ts, side) with right rows first at equal ts, and carry the last
    * non-null right payload forward. One shuffle on the key, linear work,
    * skew bounded by per-key row count — survives a 100x scale-up where a
    * `l.ts >= r.ts` theta-join would not.
    *
    * Right must be unique per (keys, ts) for deterministic output (pre-
    * aggregate it otherwise). Payload columns must not collide with left
    * column names.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, payload: Seq[String]): DataFrame = {
    val reserved = Seq("_side", "_pay", "_pay_ff")
    require(!left.columns.exists(reserved.contains) &&
      !(keys :+ tsCol).exists(reserved.contains) &&
      !payload.exists(reserved.contains),
      s"asofJoin reserves columns ${reserved.mkString(", ")}")
    val collisions = payload.filter(left.columns.contains)
    require(collisions.isEmpty,
      s"asofJoin payload columns collide with left columns: " +
        s"${collisions.mkString(", ")} — rename them on the right side first")
    val leftCols = left.columns.toSeq
    val r = right
      .select((keys :+ tsCol).map(col) :+ struct(payload.map(col): _*).as("_pay"): _*)
      .withColumn("_side", lit(0))
    val unioned = left.withColumn("_side", lit(1))
      .unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("_pay_ff", last("_pay", ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select(leftCols.map(col) ++
        payload.map(p => col("_pay_ff").getField(p).as(p)): _*)
  }

  /** Broadcast range join: fact rows matched to the dim interval that
    * contains `value` (`[lo, hi)`). The dim side is broadcast so the fact
    * side never shuffles — the only sane plan for interval lookup tables at
    * scale (a sort-merge theta join would be quadratic). */
  def rangeJoin(fact: DataFrame, dim: DataFrame,
                value: org.apache.spark.sql.Column,
                lo: org.apache.spark.sql.Column,
                hi: org.apache.spark.sql.Column): DataFrame =
    fact.join(broadcast(dim), value >= lo && value < hi)

  /** Top-k rows per group with deterministic tie-break, via a rank window —
    * one shuffle on the group key; AQE handles group-count skew. */
  def groupTopK(df: DataFrame, groupCols: Seq[String], k: Int,
                order: org.apache.spark.sql.Column*): DataFrame = {
    require(!df.columns.contains("rank"),
      "groupTopK emits a 'rank' column and would silently overwrite the existing one")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Last-writer-wins upsert (CDC/refresh merge): rows from `updates`
    * replace same-key rows in `base`; unmatched rows pass through. One
    * union + one rank window on the key — the scalable merge shape (no
    * full-table join, map-side combinable after AQE). `versionCol` breaks
    * ties: highest version wins, then `updates` over `base`. */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
             versionCol: String): DataFrame = {
    require((base.columns ++ updates.columns).forall(c => c != "_src" && c != "_rn"),
      "upsert reserves columns _src, _rn")
    val tagged = base.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("_src").desc)
    tagged.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_src", "_rn")
  }

  /** Bloom-prefiltered semi join: keep the `fact` rows whose `factKey`
    * appears in `dim`'s `dimKey` set, reducing the fact side BEFORE the
    * join's shuffle.
    *
    * The 100-TB shape: when the dim side is too big to broadcast as a hash
    * relation but its KEY SET fits a few hundred KB of bloom bits, (1)
    * aggregate the dim keys into one bloom filter
    * ([[graft.functions.BloomFilterAgg]] — map-side combinable, merge is
    * bitwise OR, so the build shuffle carries one filter per partial, never
    * the keys); (2) collect that single bounded row; (3) prefilter the fact
    * table with [[graft.functions.BloomMightContain]] — a pure narrow
    * projection, zero Exchange — so only probable matches enter the
    * semi-join shuffle; (4) finish with the exact semi join, which absorbs
    * the bloom's false positives. False negatives cannot occur, so the
    * rewrite is result-preserving: output ≡ `fact SEMI JOIN dim`. Spark's
    * own `spark.sql.optimizer.runtime.bloomFilter.enabled` applies the same
    * idea opportunistically; this is the explicit, plannable form — the
    * reference's manual prefilter-before-expensive-work pattern
    * (process_test_train_Images.py:42, Upload_Zip_S3.py:28) generalized.
    *
    * Keys are compared as BIGINT (both sides cast); size `numBits` at ~10
    * bits per distinct dim key for <1% false positives (see
    * [[graft.functions.BloomFilterAgg]] sizing note).
    */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    numBits: Int = 1 << 20, numHashes: Int = 6): DataFrame = {
    import graft.functions.GraftFunctions
    // One bounded row (numBits/8 bytes) — a driver collect by contract,
    // same as Similarity's centroid sets.
    val bytes = dim
      .agg(GraftFunctions.bloom_agg(col(dimKey), numBits, numHashes).as("_bloom"))
      .head().getAs[Array[Byte]](0)
    fact
      .where(GraftFunctions.bloom_might_contain(col(factKey), bytes, numHashes))
      .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_semi")
  }

  /** Bloom-split ANTI join: keep the `fact` rows whose `factKey` does NOT
    * appear in `dim`'s `dimKey` set — [[bloomSemiJoin]]'s complement, and
    * the shape incremental ingest lives on (drop what the index already
    * holds). The split: rows the bloom rejects are DEFINITELY absent from
    * `dim` (no false negatives) and bypass the join entirely; only the
    * might-contain slice — true matches plus the bloom's false positives —
    * pays the exact anti join, which removes the true matches and passes
    * the false positives through. Output ≡ `fact ANTI JOIN dim`,
    * column-for-column.
    *
    * The 100-TB role: a daily wave anti-joined against a years-deep index
    * is mostly FRESH rows — without the split the ENTIRE wave shuffles
    * against the index; with it the join's fact side shrinks to
    * (re-crawl rate + FP rate) of the wave. Size `numBits` at ~10 bits
    * per distinct dim key for <1% FP; when the index key set outgrows a
    * driver-collectable filter (≳10^9 keys), the documented path is a
    * bucketed index layout (see BASELINE.md `bucket`) — the bloom then
    * builds per bucket or drops out, and the exact join still holds. */
  def bloomAntiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    numBits: Int = 1 << 20, numHashes: Int = 6): DataFrame = {
    import graft.functions.GraftFunctions
    val bytes = dim
      .agg(GraftFunctions.bloom_agg(col(dimKey), numBits, numHashes).as("_bloom"))
      .head().getAs[Array[Byte]](0)
    require(!fact.columns.contains("_bloom_mc"),
      "bloomAntiJoin reserves column _bloom_mc")
    // null keys never equi-match, so ANTI keeps them: route them down the
    // definitely-fresh arm (a bare `!mc` would null out and drop them)
    val mc = coalesce(
      GraftFunctions.bloom_might_contain(col(factKey), bytes, numHashes),
      lit(false))
    // Detach the probed wave so the split reads ONE scan: both union arms
    // referencing `fact` directly would re-scan it and re-compute the
    // probe per arm (the cost model counts the wave once). The detach is
    // wave-sized MEMORY_AND_DISK, reaped by the caller/bench like every
    // other detach (a null-keyed single-join alternative would funnel all
    // definitely-fresh rows into hash(null)'s one reducer — worse).
    val marked = detach(fact.withColumn("_bloom_mc", mc))
    marked.where(!col("_bloom_mc")).drop("_bloom_mc")
      .unionByName(marked.where(col("_bloom_mc")).drop("_bloom_mc")
        .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_anti"))
  }

  /** Skew-resistant equi-join: salt the skewed (big) side's key into
    * `salts` sub-keys and replicate the small side across all salt values,
    * spreading a hot key over `salts` reducers. Use when AQE's runtime
    * skew-split isn't available (e.g., the skew is in a non-shuffle child).
    * Semantics identical to `big.join(small, key)` (inner). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int = 16): DataFrame = {
    // sequence(0, salts-1) with salts < 1 is empty, so explode would emit
    // zero small-side rows and the join would silently return nothing
    require(salts >= 1, s"saltedJoin needs salts >= 1, got $salts")
    require(!big.columns.contains("_salt") && !small.columns.contains("_salt"),
      "saltedJoin reserves column _salt")
    val saltedBig = big.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    val saltedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }
}
