package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Data-quality audit operators (SURVEY §2.5 A1/A2).
  *
  * The reference audits per-column null counts before and after cleaning and
  * hard-asserts zero missing values before the sink
  * (reference: Image_Train_Model/read_csv_s3_train.py:86-94,112-116,137-139).
  * Each audit here is one hash-aggregate pass — no per-column jobs, no
  * collect of data rows.
  */
object Audit {

  /** A1 — single-row frame of per-column null counts, one agg pass. A
    * count, not a sum, so an empty frame reads 0 nulls rather than NULL. */
  def nullCounts(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("_rows"),
      df.columns.map(c => count_if(col(c).isNull).as(c)): _*)

  /** A1 (long form) — `(column, n_null)` rows; drops the `_rows` helper. */
  def nullCountsLong(df: DataFrame): DataFrame = {
    val wide = nullCounts(df)
    val stack = df.columns
      .map(c => s"'$c', `$c`")
      .mkString(s"stack(${df.columns.length}, ", ", ", ") as (column, n_null)")
    wide.selectExpr(stack)
  }

  /** A2 — total null count across all columns (the reference's
    * `isna().sum().sum()` assert input). */
  def totalNulls(df: DataFrame): Long = {
    val row = nullCounts(df).drop("_rows").collect()(0)
    (0 until row.length).map(i => row.getLong(i)).sum
  }

  /** A2 — the reference's pre-sink hard assertion (read_csv_s3_train.py:137-139). */
  def assertNoNulls(df: DataFrame): Unit = {
    val n = totalNulls(df)
    require(n == 0, s"Dataset contains $n missing values after cleaning")
  }

  /** Per-column data profile in ONE aggregate pass: min/max (as strings, so
    * heterogeneous column types fit one output schema), null count, and
    * distinct count. `exact = false` swaps exact ndv for the HLL++ sketch
    * (`approx_count_distinct`) — the 100 TB path, constant memory per
    * column. Output long-format: (column, min_val, max_val, n_null, n_distinct).
    *
    * Plan shape of the exact path (PLANS.md "q58_profile exact-ndv
    * audit"): Catalyst rewrites the multiple count(distinct)s into ONE
    * scan — an Expand with a gid per distinct column (rows x (1+cols)),
    * a (value, gid)-keyed partial dedup, and a constant-row final — not
    * N per-column jobs. Exact ndv therefore pays an Expand row multiplier
    * proportional to the column count; profile wide tables with
    * `exact = false`.
    *
    * Cross-engine caveat: float/double min/max rendered through
    * cast-to-string are engine-specific for values needing scientific
    * notation (Spark "1.0E7" vs DuckDB "10000000.0") — profile integral /
    * date / string columns when the output feeds an exact cross-engine
    * compare. */
  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"_min_$c"),
        max(col(c)).cast("string").as(s"_max_$c"),
        count_if(col(c).isNull).as(s"_null_$c"),
        (if (exact) countDistinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"_ndv_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stack = cols
      .map(c => s"'$c', `_min_$c`, `_max_$c`, `_null_$c`, `_ndv_$c`")
      .mkString(s"stack(${cols.length}, ", ", ",
        ") as (column, min_val, max_val, n_null, n_distinct)")
    wide.selectExpr(stack)
  }

  /** S7 schema echo — the Spark twin of the reference's `.npy` type
    * sniffer (Read_files/read_npy_format.py:14-32), which re-infers each
    * column's Python type from the first rows because the object-dtype
    * `.npy` sink erased them. Parquet is self-describing, so the echo is a
    * catalog read, NOT a data scan: one (position, column, dtype, nullable)
    * row per field, in schema order. Useful as the human-inspection step
    * of a round-trip check ([[roundTrip]]) and as a cheap schema-drift
    * assert between pipeline stages. */
  def schemaEcho(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    df.schema.fields.zipWithIndex
      .map { case (f, i) => (i, f.name, f.dataType.simpleString, f.nullable) }
      .toSeq.toDF("position", "column", "dtype", "nullable")
  }

  /** §5.1 row 2 — write-then-reload round-trip verification: persist to
    * parquet, re-read, check row count and schema echo. Returns the re-read
    * frame for further assertions. */
  def roundTrip(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    val back = spark.read.parquet(path)
    require(back.count() == df.count(), s"round-trip row-count mismatch at $path")
    back
  }
}
