package graft.meta

import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata star schema (TESTDATA.md /
  * FIXTURES.md §A). One parquet file per table under `$sfDir/`.
  *
  * Timestamp policy: everything is TIMESTAMP_NTZ (wall-clock, session UTC),
  * matching the DuckDB oracle's naive TIMESTAMP so parquet outputs compare
  * bit-for-bit. `events.ts` has changed physical parquet type between
  * testdata generations — nanosecond int64 (which Spark 4 can only read via
  * `spark.sql.legacy.parquet.nanosAsLong`, which [[graft.GraftSession]]
  * sets) in one generation, plain `timestamp[us]` in another — so the
  * loader branches on the dataType the scan actually produced instead of
  * assuming either: LongType gets the nanos→micros truncation (what
  * DuckDB's `CAST(ts AS TIMESTAMP)` does), any timestamp flavor is cast
  * straight to TIMESTAMP_NTZ.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Route monolithic single-row-group snapshots through the split-layout
    // cache (see [[graft.sources.SplitLayout]]): same rows, same schema,
    // but the scan parallelizes. A no-op for multi-file/small inputs.
    val df = spark.read.parquet(
      graft.sources.SplitLayout.normalized(spark, s"$sfDir/$name.parquet"))
    name match {
      case "events" => normalizeEventTs(df)
      case "documents" => normalizeIds(df, Seq("doc_id", "n_chars"))
      case "embeddings" => normalizeIds(df, Seq("vec_id"))
      case _ => df
    }
  }

  /** Pin the non-TPC tables' integer columns to BIGINT whatever physical
    * width the parquet holds — the same never-assume-the-physical-type
    * guard as [[normalizeEventTs]], for the int32-vs-int64 drift axis a
    * testdata regeneration could flip (events.ts actually flipped between
    * rounds 8 and 9; 40+ queries read these tables). The cast is applied
    * only when the loaded type differs, so the current generation's plans
    * are byte-identical. Embedding element types need no pinning: every
    * consumer casts to its working width explicitly (Similarity casts to
    * `array<double>`), matching the oracle's `CAST(... AS DOUBLE[])`. */
  private[graft] def normalizeIds(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c) && d.schema(c).dataType != LongType)
        d.withColumn(c, col(c).cast(LongType))
      else d
    }

  /** Coerce `ts` to TIMESTAMP_NTZ whatever physical type the parquet holds.
    * Never assume the testdata's physical type: it flipped int64-nanos →
    * timestamp[us] between rounds 8 and 9 and broke every events query.
    */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // int64 nanos-as-long generation
        df.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case TimestampNTZType => df
      case _ => // TIMESTAMP_LTZ or any other timestamp flavor
        df.withColumn("ts", col("ts").cast(TimestampNTZType))
    }

  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame = load(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Register all tables as temp views so `spark.sql` mirrors the oracle SQL. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
