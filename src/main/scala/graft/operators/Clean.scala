package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Cleaning / normalization operators (SURVEY §2.3, §2.7, §2.8).
  *
  * Re-expresses the reference's per-chunk pandas mutations
  * (reference: Image_Train_Model/read_csv_s3_train.py:57-118) as pure,
  * composable DataFrame projections. Everything here is a narrow
  * transformation except the fills, which are window ops — see
  * [[fillForwardBackward]] for the scale contract.
  */
object Clean {

  /** P1 — drop columns if present (`drop(columns=…, errors='ignore')`,
    * read_csv_s3_train.py:61). Spark's `drop` is already ignore-missing. */
  def dropColumns(df: DataFrame, cols: String*): DataFrame = df.drop(cols: _*)

  /** F1 — cast columns (`astype`, read_csv_s3_train.py:64-65). */
  def castColumns(df: DataFrame, casts: Map[String, DataType]): DataFrame =
    casts.foldLeft(df) { case (d, (c, t)) => d.withColumn(c, col(c).cast(t)) }

  /** F2 — trim string columns (`.str.strip()`, read_csv_s3_train.py:68-69). */
  def trimColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, trim(col(c))))

  /** NA-token → null, the CSV `na_values` analogue for already-loaded data
    * (read_csv_s3_train.py:52). */
  def sentinelsToNull(df: DataFrame, cols: Seq[String], tokens: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(c).isin(tokens: _*), lit(null)).otherwise(col(c))))

  /** F9 — replace a string sentinel with a value
    * (`np.where(x == '<NA>', 0, x)`, Best-Model-architecture-for-local.py:23). */
  def replaceSentinel(df: DataFrame, c: String, sentinel: String, value: Column): DataFrame =
    df.withColumn(c, when(col(c) === sentinel, value).otherwise(col(c)))

  /** F3 — epoch-millis → timestamp, coercing malformed to null
    * (`pd.to_datetime(unit='ms', errors='coerce')`, read_csv_s3_train.py:72). */
  def epochMillisToTimestamp(df: DataFrame, src: String, dst: String): DataFrame =
    df.withColumn(dst, timestamp_millis(col(src)))

  /** F4 — year/month/day parts with the reference's 1970/1/1 sentinels for
    * null timestamps (read_csv_s3_train.py:73-75). */
  def dateParts(df: DataFrame, ts: String): DataFrame = df
    .withColumn("year", coalesce(year(col(ts)), lit(1970)))
    .withColumn("month", coalesce(month(col(ts)), lit(1)))
    .withColumn("day", coalesce(dayofmonth(col(ts)), lit(1)))

  /** E4 — forward-fill then backward-fill (`ffill().bfill()`,
    * read_csv_s3_train.py:77-80).
    *
    * The reference fills along pandas row order within a 100k-row chunk —
    * an accident of physical CSV order (SURVEY §4.3.2). Here order is an
    * explicit contract: `orderCols` defines the fill direction and
    * `partitionCols` scopes the window. At 100 TB an unpartitioned fill
    * degenerates to a single-partition sort, so callers should partition by
    * a natural key (the oracle queries partition by `user_id`); the
    * unpartitioned variant exists for exact reference parity on small data.
    *
    * Plan: one exchange on `partitionCols` (to a single partition when
    * there are none), then one ascending and one descending running window
    * over the full rows of each partition.
    */
  def fillForwardBackward(df: DataFrame, cols: Seq[String],
                          orderCols: Seq[String],
                          partitionCols: Seq[String] = Nil): DataFrame = {
    require(orderCols.nonEmpty,
      "fillForwardBackward needs orderCols: without a total order the fill direction is undefined")
    // a key as a fill target means nothing: a partition key is constant
    // within its own window, and an order key's nulls would take a
    // neighbour's key after the sort that placed them; reject it with a
    // message that names the column
    val keyOverlap = cols.filter(c => orderCols.contains(c) || partitionCols.contains(c))
    require(keyOverlap.isEmpty,
      s"fill columns overlap order/partition keys: ${keyOverlap.mkString(", ")} " +
        "(keys are fill inputs, not fill targets)")
    // Both passes are RUNNING (unbounded-preceding) frames: Spark evaluates
    // an UnboundedFollowing frame by re-aggregating the remainder of the
    // partition for EVERY row — O(rows^2) per partition, a multi-minute
    // stall at just 10^5 rows — while the UnboundedPreceding frame
    // accumulates incrementally in O(rows). So bfill ("first non-null at or
    // after this row") is expressed as ffill over the REVERSED order, which
    // is identical whenever `orderCols` is a total order (already required:
    // a non-total order makes any fill nondeterministic).
    // All forward fills are computed in ONE batched projection and all
    // backward fills in a SECOND, then coalesced. Interleaving the two
    // specs per column (coalesce(ffill_c, bfill_c) column by column) reads
    // the same but plans catastrophically differently: each column's
    // coalesce forces its two Window ops to alternate asc/desc, Catalyst
    // cannot merge window ops across the intervening projections, and the
    // plan degenerates to 2 x |cols| Window+Sort passes over the frame —
    // measured 10 sorts instead of 2 for the 5-column osv5m fill.
    // Batching keeps every same-spec window expression adjacent, so the
    // whole fill is exactly one asc sort + one desc sort per partition.
    def runningWindow(desc: Boolean) = {
      val ord = orderCols.map(c => if (desc) col(c).desc else col(c).asc)
      val base = if (partitionCols.isEmpty) Window.orderBy(ord: _*)
                 else Window.partitionBy(partitionCols.map(col): _*).orderBy(ord: _*)
      base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    }
    val ffill = runningWindow(desc = false)
    val bfill = runningWindow(desc = true)
    val others = df.columns.filterNot(cols.contains).map(col)
    df.select(others ++ cols.map(c =>
        last(col(c), ignoreNulls = true).over(ffill).as(s"__ff_$c")) ++
      cols.map(c =>
        last(col(c), ignoreNulls = true).over(bfill).as(s"__bf_$c")): _*)
      .select(df.columns.map(c =>
        if (cols.contains(c)) coalesce(col(s"__ff_$c"), col(s"__bf_$c")).as(c)
        else col(c)): _*)
  }

  /** E5 — constant fill for string columns (`fillna("Unknown")`,
    * read_csv_s3_train.py:82-84). */
  def fillString(df: DataFrame, value: String, cols: Seq[String]): DataFrame =
    df.na.fill(value, cols)

  /** E6 — constant fill for every numeric column, dtype-driven selection
    * (`select_dtypes(float64/int64).fillna(0)`, read_csv_s3_train.py:102-104). */
  def fillNumeric(df: DataFrame, value: Double = 0d): DataFrame = {
    val numeric = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
    df.na.fill(value, numeric)
  }

  /** The reference's whole `process_batch` cleaning pipeline
    * (read_csv_s3_train.py:57-118) composed over an OSV5M-shaped frame, with
    * estimator fits made global rather than per-chunk (SURVEY §4.3.1) —
    * encoding/scaling live in [[Encode]] and are applied by callers.
    *
    * `fillPartitionCols` scopes the ffill/bfill windows. The FAITHFUL
    * setting is a derived chunk id (`floor(key / 100000)`, what q72 passes):
    * the reference fills within each 100k-row CSV chunk only — process_batch
    * runs `ffill().bfill()` per chunk (read_csv_s3_train.py:47,77-80) and
    * never fills across chunk boundaries — so the chunk-partitioned window
    * is exact parity AND shuffle-scalable (one hash exchange on the chunk
    * id, per-chunk sorts). A natural key (the q78 oracle uses the trimmed
    * `country`) is the alternative 100-TB shape when chunk provenance is
    * gone. Empty = a single global window (single-partition sort; only for
    * small data or debugging). Partition keys must be non-null BEFORE the
    * fill runs (they are fill inputs, not fill targets).
    */
  def osv5mClean(df: DataFrame, orderCol: String,
                 fillPartitionCols: Seq[String] = Nil): DataFrame = {
    import graft.meta.Schemas._
    val ts = osv5mPreFill(df)
    val filled = fillForwardBackward(ts, osv5mFfillCols, Seq(orderCol), fillPartitionCols)
    val strings = fillString(filled, "Unknown", Seq("unique_city", "creator_username"))
    fillNumeric(strings)
  }

  /** [[osv5mClean]] up to (excluding) the ffill/bfill — the drop / cast /
    * trim / date-parts prefix. Exposed because it is the correct ESTIMATOR
    * FIT frame for the chain's encoders: the fill only copies values that
    * already exist within a window partition, so it cannot change any
    * column's distinct non-null value set (label vocabularies), and the
    * scale columns are not fill targets at all, so their value multisets
    * are untouched too. Fitting on this frame (via the encoders' `fitOn`)
    * keeps each fit a narrow column-pruned scan — the window fill, the
    * chain's only wide sort, then runs exactly once, in the final apply
    * pass. The string/numeric constant fills still matter for fit parity
    * and are cheap narrow projections; [[osv5mFitFrame]] composes them. */
  def osv5mPreFill(df: DataFrame): DataFrame = {
    import graft.meta.Schemas._
    val cleaned = dropColumns(df, "thumb_original_url")
    val casted = castColumns(cleaned, Map("id" -> StringType, "creator_id" -> StringType))
    val trimmed = trimColumns(casted, osv5mCategoricals)
    dateParts(epochMillisToTimestamp(trimmed, "captured_at", "captured_ts"), "captured_ts")
  }

  /** The estimator-fit twin of [[osv5mClean]]'s output: [[osv5mPreFill]]
    * plus the same constant fills, WITHOUT the window fill. Label
    * vocabularies and scale statistics fit over this frame equal those fit
    * over the full clean (see [[osv5mPreFill]] for why); EncodeSpec pins
    * the equality. */
  def osv5mFitFrame(df: DataFrame): DataFrame =
    fillNumeric(fillString(osv5mPreFill(df), "Unknown",
      Seq("unique_city", "creator_username")))
}
