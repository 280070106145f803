package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Grouping / batching / chunked-sink operators (SURVEY §2.6, §2.2).
  *
  * The reference's signature pattern: fixed-count 200-image micro-batches
  * (reference: Image_Train_Model/process_test_train_Images.py:49-64),
  * 10^6-row CSV chunks (split and upload/split_csv_script.py:30-40) and a
  * 1 GiB running-byte-budget splitter
  * (split and upload/split_image_Script.py:22-54).
  *
  * Two tiers:
  *  - *analytic* batch-id assignment (window over an explicit order) for
  *    when batch membership must be a queryable column;
  *  - *physical* chunked writes via `maxRecordsPerFile` — the scalable path
  *    (no global sort, files sized by the committer).
  */
object Batching {

  /** Distributed prefix sum of `valueCol` (long) following `orderCols`:
    * range-partitioned sort, one tiny job for per-partition subtotals, then
    * a per-partition running add with the broadcast offsets — the classic
    * two-phase scan. Equals the single-partition window
    * `sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` value-for-value,
    * without ever putting the table on one node. Appends `out`. */
  def prefixSum(df: DataFrame, orderCols: Seq[String], valueCol: String,
                out: String = "cum"): DataFrame =
    prefixSumBy(df, orderCols.map(col), valueCol, out)

  /** [[prefixSum]] over an arbitrary sort order (sort expressions, e.g. a
    * DESC quality ranking) — the name-list variant above delegates here. */
  def prefixSumBy(df: DataFrame, order: Seq[Column], valueCol: String,
                  out: String = "cum"): DataFrame = {
    val sorted = df.orderBy(order: _*)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    // Null values contribute 0 (window `sum` skips them; +0 keeps the same
    // running totals without NPEs).
    def v(r: Row): Long = if (r.isNullAt(vIdx)) 0L else r.getLong(vIdx)
    // Two passes over the sorted data (subtotals, then scan) — persist so
    // the range-partitioned sort isn't recomputed (RangePartitioner sampling
    // is not guaranteed deterministic across recomputes); the cache is
    // released below once the result is materialized.
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partSums = rdd
      .mapPartitionsWithIndex { case (i, it) =>
        Iterator.single(i -> it.foldLeft(0L)((acc, r) => acc + v(r)))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _) // offsets(i) = sum of parts < i
    val withCum = rdd.mapPartitionsWithIndex { case (i, it) =>
      var running = offsets(i)
      it.map { r => running += v(r); Row.fromSeq(r.toSeq :+ running) }
    }
    val schema = StructType(sorted.schema.fields :+ StructField(out, LongType, nullable = false))
    // materialize before freeing the sort cache, so no MEMORY_AND_DISK copy
    // outlives the call
    val result = Relational.detach(sorted.sparkSession.createDataFrame(withCum, schema))
    rdd.unpersist(blocking = false)
    result
  }

  /** Padding-efficiency report — the trainer batch-shape tuner: when
    * documents batch WITHIN equi-depth length buckets and pad to each
    * bucket's max length, how much of the batch is padding, for each
    * candidate bucket count? One bucket = classic pad-to-longest (worst
    * waste); more buckets = tighter packing at the cost of more
    * data-loader streams — this report is the measured curve that picks
    * the knee instead of folklore. Output per candidate:
    * (n_buckets, real_tokens, padded_tokens, waste_frac).
    *
    * Scale shape: token lengths project once; ONE distributed row-index
    * sort ([[graft.operators.Relational.withRowIndex]] — a sequence-id
    * node over a range-partitioned sort, never a single-partition window)
    * serves EVERY candidate count, since bucket membership is
    * `floor(idx * B / n)`; each candidate then costs one bucket-keyed
    * aggregate over (long, long) rows. Ties order by id, so the report is
    * engine-exact. */
  def paddingEfficiency(docs: DataFrame, idCol: String, textCol: String,
                        bucketCounts: Seq[Int]): DataFrame = {
    require(bucketCounts.nonEmpty && bucketCounts.forall(_ >= 1),
      s"paddingEfficiency needs bucket counts >= 1, got $bucketCounts")
    val lens = docs.select(col(idCol),
      size(graft.operators.TextAnalysis.tokens(col(textCol))).cast("long").as("len"))
    val idx = graft.operators.Relational.withRowIndex(lens, Seq("len", idCol), "_idx")
    val tot = idx.agg(count(lit(1)).as("_n"))
    bucketCounts.sorted.map { b =>
      idx.crossJoin(broadcast(tot))
        .withColumn("_bucket", floor(col("_idx") * b / col("_n")))
        .groupBy("_bucket")
        .agg(max("len").as("_mx"), sum("len").as("_sum"), count(lit(1)).as("_c"))
        .agg(sum("_sum").as("real_tokens"),
          sum(col("_c") * col("_mx")).as("padded_tokens"))
        .select(lit(b).cast("long").as("n_buckets"),
          col("real_tokens"), col("padded_tokens"),
          round(lit(1.0) - col("real_tokens").cast("double") /
            col("padded_tokens"), 6).as("waste_frac"))
    }.reduce(_ unionByName _)
  }

  /** G1 — fixed-count micro-batch id over an explicit total order
    * (process_test_train_Images.py:49). Distributed: global row index via
    * a sequence-id node over a range-partitioned sort
    * (Relational.withRowIndex), not a single-partition window; ids equal
    * `floor((row_number()-1)/batchSize)` exactly. */
  def microBatchId(df: DataFrame, orderCols: Seq[String], batchSize: Int,
                   out: String = "batch_id"): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    Relational.withRowIndex(df, orderCols, "_ridx")
      .withColumn(out, floor(col("_ridx").cast("double") / batchSize).cast("long"))
      .drop("_ridx")
  }

  /** G3 — running byte-budget chunk id (split_image_Script.py:22-54): row
    * size is estimated (the reference's `sum(len(str(v)))+1`, :35),
    * cumulated in order, bucketed by `floor((cum-1)/budget)`.
    *
    * Deliberate deviation: the reference cuts greedily BEFORE overflow
    * (stateful scan, inherently sequential); the cumulative-sum bucketing is
    * the parallelizable form and may overshoot a bucket by at most one row's
    * bytes — irrelevant at a 1 GiB budget, and the same formula is what the
    * DuckDB oracle computes, so parity holds by construction. */
  def byteBudgetChunkId(df: DataFrame, orderCols: Seq[String],
                        budgetBytes: Long, sizeCols: Seq[String],
                        out: String = "chunk_id"): DataFrame = {
    // per-column null guard: length(null) is null and would zero the WHOLE
    // row's estimate via + propagation; the reference counts str(None) =
    // 'None' = 4 bytes, so mirror that per column
    val rowBytes = sizeCols
      .map(c => coalesce(length(col(c).cast("string")), lit(4)))
      .reduce(_ + _) + lit(1)
    weightBudgetChunkId(df, orderCols, budgetBytes, rowBytes, out)
  }

  /** Generalized budgeted chunking: consecutive rows (in `orderCols` order)
    * are bucketed by their running `weight` sum, `floor((cum-1)/budget)`.
    * Byte-budget file chunking and LLM sequence packing (weight = token
    * count, budget = context length) are both instances; the cumulative sum
    * is the distributed two-phase [[prefixSum]], never a single-partition
    * window.
    *
    * Bound, precisely: a chunk's summed weight can EXCEED `budget` by up to
    * one row's weight minus one (the row that crosses a bucket boundary
    * lands in the bucket it crosses into, it is not split). True greedy
    * close-before-overflow packing is a stateful sequential scan that does
    * not decompose into a prefix sum; callers that need a hard cap (e.g. a
    * model's context window) must budget for `budget + maxRowWeight - 1`,
    * or pre-truncate rows to `weight <= budget - slack`. The same formula
    * is what the DuckDB oracle computes, so parity holds by construction. */
  def weightBudgetChunkId(df: DataFrame, orderCols: Seq[String], budget: Long,
                          weight: org.apache.spark.sql.Column,
                          out: String = "chunk_id"): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    prefixSum(df.withColumn("_w", weight.cast("long")), orderCols, "_w", "_cum")
      // leading zero/null-weight rows have cum = 0 -> floor(-1/budget) = -1;
      // clamp so chunk ids start at 0 (oracle computes the same greatest)
      .withColumn(out, greatest(
        floor((col("_cum") - 1).cast("double") / budget).cast("long"), lit(0L)))
      .drop("_w", "_cum")
  }

  /** LLM block packing WITH cross-document spillover: documents are laid
    * end-to-end (one EOS separator token after each) in `orderCols` order
    * and the token stream is cut into fixed `blockSize` blocks — the
    * actual pretraining tokenization layout, where a document routinely
    * straddles a block boundary. [[weightBudgetChunkId]] (q63) is the
    * whole-document variant that never splits; this one fills every block
    * exactly. Emits one row per (doc, block) overlap: the input columns
    * plus `(block_id, n_tokens)` — tokens of this document (incl. its
    * EOS) landing in this block.
    *
    * Scale shape: per-doc global offsets come from the distributed
    * two-phase [[prefixSum]]; each document then explodes to ONLY its
    * touched blocks (ceil(len/blockSize)+1 rows at most) with closed-form
    * overlap arithmetic — never a per-token explode — so the shuffle is
    * O(docs + doc-block overlaps), not O(tokens). */
  def blockPack(df: DataFrame, orderCols: Seq[String], blockSize: Int,
                tokenCount: org.apache.spark.sql.Column,
                out: String = "block_id"): DataFrame = {
    require(blockSize > 0, s"blockSize must be positive, got $blockSize")
    // null/negative token counts clamp to 0 (doc contributes its EOS only):
    // a null would otherwise null the whole offset chain and silently DROP
    // the document; a legacy -1 sentinel would make sequence() run backward
    // and emit phantom blocks
    val withLen = df.withColumn("_n",
      greatest(coalesce(tokenCount.cast("long"), lit(0L)), lit(0L)) + 1L)
    val cum = prefixSum(withLen, orderCols, "_n", "_end")
    val start = col("_end") - col("_n") // doc occupies [start, _end)
    val firstB = floor(start.cast("double") / blockSize).cast("long")
    val lastB = floor((col("_end") - 1).cast("double") / blockSize).cast("long")
    cum
      .withColumn(out, explode(sequence(firstB, lastB)))
      .withColumn("n_tokens",
        least(col("_end"), (col(out) + 1) * blockSize) -
          greatest(start, col(out) * blockSize))
      .drop("_n", "_end")
  }

  /** Length-bucketed inference batching with padding accounting: order
    * documents by `lenCol` (ties by `idCol`), cut into fixed `batchSize`
    * batches, and report each batch's padding efficiency — a padded batch
    * materializes `n_rows x max_len` slots, so
    * `padding_frac = 1 - sum_len / (n_rows x max_len)`. Length-sorting is
    * THE standard dynamic-batching trick for transformer inference: near-
    * equal lengths per batch collapse padding waste versus arrival-order
    * batching (pass `sortByLength = false` to measure that baseline on
    * the same data — the delta between the two runs is the measured win).
    * Output: (batch_id, n_rows, max_len, sum_len, padding_frac, first_id),
    * fully deterministic, so the whole operator is oracle-checkable
    * against a `row_number()` formulation.
    *
    * Scale shape: the global order rides [[Relational.withRowIndex]]
    * (a sequence-id node over a range-partitioned sort — distributed, never
    * a single-partition window); the rollup is one batch-keyed map-side-
    * combined aggregation. Null lengths clamp to 0 (sort first, never
    * dropped — the [[blockPack]] convention). */
  def paddedBatchStats(df: DataFrame, idCol: String, lenCol: String,
                       batchSize: Int, sortByLength: Boolean = true): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val slim = df.select(col(idCol),
      greatest(coalesce(col(lenCol).cast("long"), lit(0L)), lit(0L)).as("_len"))
    val orderCols = if (sortByLength) Seq("_len", idCol) else Seq(idCol)
    Relational.withRowIndex(slim, orderCols)
      .withColumn("batch_id", floor(col("idx").cast("double") / batchSize).cast("long"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_rows"),
        max("_len").as("max_len"),
        sum("_len").as("sum_len"),
        min(idCol).as("first_id"))
      .withColumn("padding_frac",
        round(when(col("max_len") > 0,
          lit(1.0) - col("sum_len").cast("double") /
            (col("n_rows") * col("max_len")).cast("double")).otherwise(0.0), 6))
      .select("batch_id", "n_rows", "max_len", "sum_len", "padding_frac", "first_id")
  }

  /** G1/G2/K1/K3/K4 physical form — chunked parquet/csv write without any
    * global sort: `maxRecordsPerFile` bounds records per output file the way
    * the reference bounds images per `.pt` (200) and rows per CSV chunk
    * (10^6). This is the 100-TB path. */
  def writeChunked(df: DataFrame, path: String, maxRecordsPerFile: Long,
                   format: String = "parquet"): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .format(format).save(path)

  /** K1 — header'd CSV chunk write (split_csv_script.py:36-40). */
  def writeCsvChunks(df: DataFrame, path: String, maxRecordsPerFile: Long): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("header", "true").csv(path)

  /** A5/O3 — resumable next-chunk number: `max(existing)+1` with default 0
    * (split_image_Script.py:13-20). */
  def nextChunkNumber(existing: DataFrame, c: String): Long =
    existing.agg(coalesce(max(col(c)), lit(-1L)) + 1L).collect()(0).getLong(0)

  /** Deterministic training-shard plan — the materialize-the-corpus step
    * between sampling/packing and the training loop. Every document gets
    * a reproducible `(shard, pos)` slot from two independent seeded
    * hashes ([[shardSlots]]): `shard = mix(seed ":" id) % nShards` spreads
    * documents uniformly across shards, and `pos` ranks a SECOND seeded
    * hash (`seed "~" id`, ties by id) within the shard — so each shard's
    * internal order is a seeded global shuffle, never id order (id order
    * is crawl order: source/time-correlated, exactly the structure a
    * training run must not see). Same seed ⇒ byte-identical epoch across
    * engines, runs, and retries — the reproducible-training contract; a
    * new seed re-deals both dimensions without touching the data.
    * Output: `(id, shard, pos, n_tokens)`, one row per document.
    *
    * Scale shape: both hashes are one codegen'd narrow projection
    * (poly-31 fold + affine mix, [[Stats.mixHash]]); the only exchange is
    * the shard-keyed window for `pos`, carrying `(id, int64, token
    * count)`. At extreme scale `pos` can swap for
    * [[Relational.withRowIndex]] per shard, but nShards windows over
    * narrow rows hold far past 100 TB. */
  def shardPlan(docs: DataFrame, idCol: String, textCol: String,
                nShards: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy(col("_ord").asc, col(idCol).asc)
    docs.select(Seq(col(idCol)) ++ shardSlots(idCol, nShards, seed) :+
        size(graft.operators.TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"): _*)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"), col("n_tokens"))
  }

  /** [[shardPlan]]'s and [[writeJsonlShards]]' seeded slot hashes:
    * `shard`, and `_ord`, whose `(_ord, id)` order within a shard is `pos`. */
  private def shardSlots(idCol: String, nShards: Int, seed: Long): Seq[Column] = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    Seq(Stats.hashBucket(concat(lit(s"$seed:"), col(idCol).cast("string")), nShards).as("shard"),
      Stats.mixHash(concat(lit(s"$seed~"), col(idCol).cast("string"))).as("_ord"))
  }

  /** Materialize the corpus as sharded JSONL under `path/shard=K/` —
    * [[shardPlan]]'s physical form and the hand-off format every training
    * stack ingests: one `{"id":…,"text":…}` object per line, lines in
    * the plan's `pos` order within each shard. Deterministic end-to-end:
    * same (corpus, nShards, seed) ⇒ byte-identical shard files. Rows with
    * a null id get no slot and are not written.
    *
    * Scale shape: ONE scan of `docs` computes slot hashes and JSON value,
    * ONE exchange repartitions by shard (each output task owns whole
    * shards), and a within-partition sort on `(shard, _ord, id)` — the
    * order `pos` ranks — lands in file order: no join back, no window. */
  def writeJsonlShards(docs: DataFrame, idCol: String, textCol: String,
                       nShards: Int, seed: Long, path: String): Unit =
    docs.where(col(idCol).isNotNull)
      .select(shardSlots(idCol, nShards, seed) :+ col(idCol) :+
        to_json(struct(col(idCol).as("id"), col(textCol).as("text"))).as("value"): _*)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "_ord", idCol)
      .select("shard", "value")
      .write.mode("overwrite").partitionBy("shard").text(path)
}
