package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed table layout — the write-once/join-free-forever lever
  * (SURVEY §4.4, §7.5).
  *
  * The reference re-pays a full pandas merge per chunk every time it joins
  * metadata to image batches (reference:
  * Image_Train_Model/process_test_train_Images.py:38-44 re-scans the
  * metadata lookup for every zip). The distributed analogue of that cost is
  * a shuffle on every equi-join of two fact tables. Bucketing is the layout
  * fix: hash-partition the data into a fixed number of buckets ON DISK at
  * write time, so every later equi-join or aggregation keyed on the bucket
  * columns reads matching buckets pairwise and plans WITHOUT an Exchange on
  * either bucketed side. At 100 TB this converts the recurring dominant
  * cost of a join pipeline (shuffling the fact table per query) into a
  * one-time write cost — the same trade the IVF cell layout makes
  * elsewhere in this library.
  *
  * Both join sides must be written with the SAME bucket count and key for
  * the pairwise read; `sortCols` additionally sorts within each bucket file
  * so a sort-merge join can skip its sort phase entirely. Spark only
  * trusts bucket-file sort order when each bucket is exactly ONE file and
  * `spark.sql.legacy.bucketedTableScan.outputOrdering` is true at read
  * time — the write below repartitions onto the bucket hash so every
  * bucket lands as a single file, making the sort-free SMJ reachable.
  */
object BucketedLayout {

  /** Write `df` as a bucketed (optionally bucket-sorted) external parquet
    * table registered under `table` with files at `path`. Overwrites both.
    * The frame is repartitioned onto the bucket hash first (Murmur3 on the
    * bucket columns — the same function bucketing uses), so each bucket is
    * one file: no small-file fan-out from wide upstream parallelism, and
    * the per-bucket `sortCols` order is usable at scan time. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCols: Seq[String], numBuckets: Int,
                    sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed needs at least one bucket column")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    import org.apache.spark.sql.functions.col
    val w = df.repartition(numBuckets, bucketCols.map(col): _*)
      .write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    ws.saveAsTable(table)
  }

  /** Read a bucketed table back. Bucket metadata lives in the catalog, not
    * the files: reading the same parquet `path` directly with
    * `spark.read.parquet` yields a plain (shuffling) scan — always read
    * through the table name. */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
}
