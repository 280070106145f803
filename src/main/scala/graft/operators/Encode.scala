package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Column}

/** Fit-then-transform encoders (SURVEY §2.8 E1-E3).
  *
  * The reference fits sklearn `LabelEncoder` / `StandardScaler` / per-tensor
  * `MinMaxScaler` — and, by accident, re-fits them inside every 100k-row
  * chunk so codes and stats drift across one dataset
  * (reference: Image_Train_Model/read_csv_s3_train.py:96-109,
  * model_architecture.py:132-135; SURVEY §4.3.1). We deliberately fit
  * GLOBALLY: stats come from one aggregate over the whole table. A
  * one-row fit ([[standardScale]]) is collected and applied as literals; a
  * table-shaped fit (vocabularies, per-group stats) is applied by a
  * broadcast join (the reference's J3 "broadcast small lookup to every row"
  * shape). Neither shuffles the fact side, so both scale to 100 TB.
  */
object Encode {

  /** E1 fit — deterministic label mapping: distinct values sorted ascending
    * get codes 0..n-1, exactly sklearn's sorted-classes semantics
    * (read_csv_s3_train.py:99-100). The distinct set is tiny relative to the
    * table, so the `row_number` window over it is cheap; the apply side is a
    * broadcast join. */
  def fitLabelMapping(df: DataFrame, c: String): DataFrame =
    df.select(col(c)).where(col(c).isNotNull).distinct()
      .withColumn(s"${c}_code",
        (row_number().over(Window.orderBy(col(c))) - 1).cast("long"))

  /** E1 apply — join the mapping back; null input stays null code. */
  def labelEncode(df: DataFrame, c: String): DataFrame =
    df.join(broadcast(fitLabelMapping(df, c)), Seq(c), "left")

  /** E1 over MANY string columns with a SINGLE fit scan.
    *
    * Folding [[labelEncode]] per column re-reads the input once PER fit —
    * at 100 TB five categoricals mean five full passes over the fact table
    * just to learn five tiny vocabularies. Here one pass explodes each row
    * into (column, value) pairs, distincts them (map-side partial
    * aggregation keeps the shuffle vocab-sized), and ranks values per
    * column; the vocab-sized result is materialized via
    * [[graft.operators.Relational.detach]] (see its durability contract)
    * so the per-column broadcast slices don't re-trigger the scan. Codes
    * are identical to per-column [[labelEncode]]: distinct non-null values
    * sorted ascending get 0..n-1. */
  def labelEncodeAll(df: DataFrame, cols: Seq[String],
                     fitOn: Option[DataFrame] = None): DataFrame = {
    require(cols.nonEmpty, "labelEncodeAll needs at least one column")
    require(cols.distinct.size == cols.size,
      s"labelEncodeAll got duplicate columns: ${cols.diff(cols.distinct).distinct.mkString(", ")}")
    // `fitOn` splits fit from apply (sklearn's fit/transform): the vocab is
    // learned from `fitOn` and applied to `df`. The caller owns the
    // equivalence argument — the split pays off when `df` hangs off an
    // expensive tail (a window fill, a join) that provably cannot change
    // the distinct non-null value set, so the fit scan stays a cheap
    // column-pruned pass over the upstream frame instead of re-running the
    // tail once per estimator. Values present in `df` but not in `fitOn`
    // take a null code (the left join below), same as applying a fitted
    // encoder to unseen data.
    val fitFrame = fitOn.getOrElse(df)
    cols.foreach { c =>
      require(df.schema(c).dataType == org.apache.spark.sql.types.StringType,
        s"labelEncodeAll fits string columns; '$c' is ${df.schema(c).dataType.sql} " +
          "(cast first, or use labelEncode per column)")
      require(fitFrame.schema(c).dataType == org.apache.spark.sql.types.StringType,
        s"labelEncodeAll fitOn column '$c' is ${fitFrame.schema(c).dataType.sql}, need string")
    }
    val pairs = fitFrame
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("_c"), col(c).as("_v"))): _*)).as("p"))
      .select(col("p._c").as("_c"), col("p._v").as("_v"))
      .where(col("_v").isNotNull)
      .distinct()
      .withColumn("_code", (row_number().over(
        Window.partitionBy(col("_c")).orderBy(col("_v"))) - 1).cast("long"))
    val fits = Relational.detach(pairs)
    cols.foldLeft(df)((d, c) =>
      d.join(broadcast(fits.where(col("_c") === c)
        .select(col("_v").as(c), col("_code").as(s"${c}_code"))), Seq(c), "left"))
  }

  /** E2 — z-score standardization with population stddev (sklearn ddof=0,
    * read_csv_s3_train.py:106-109). The fit is one aggregate over all
    * columns, collected eagerly while the frame is built (one collect); the
    * apply is a projection with the moments as literals. Output column
    * `<c>_z`; empty or all-null input gives null z-scores. */
  def standardScale(df: DataFrame, cols: Seq[String],
                    fitOn: Option[DataFrame] = None): DataFrame = {
    require(cols.nonEmpty, "standardScale needs at least one column")
    // Same fit/apply split as [[labelEncodeAll]]: stats come from `fitOn`
    // when given; the caller owns the argument that the multiset of values
    // in `cols` is identical there (e.g. the apply frame only adds columns
    // or rewrites columns outside `cols`).
    val stats = fitOn.getOrElse(df).agg(
      avg(col(cols.head)), cols.tail.map(c => avg(col(c))) ++
        cols.map(c => stddev_pop(col(c))): _*).head()
    // each literal keeps its aggregate's type (avg of a decimal is a decimal)
    def moment(i: Int) = lit(stats.get(i)).cast(stats.schema(i).dataType)
    cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.withColumn(s"${c}_z", (col(c) - moment(i)) / moment(cols.length + i))
    }
  }

  /** E3 — min-max scaling to [0,1] (model_architecture.py:132,135), with an
    * optional grouping key (per-group fit). Output column `<c>_mm`. */
  def minMaxScale(df: DataFrame, cols: Seq[String],
                  groupCols: Seq[String] = Nil): DataFrame = {
    require(cols.nonEmpty, "minMaxScale needs at least one column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    val applyOne = (d: DataFrame, c: String) =>
      d.withColumn(s"${c}_mm",
        (col(c) - col(s"${c}_min")) / (col(s"${c}_max") - col(s"${c}_min")))
    val joined =
      if (groupCols.isEmpty)
        df.crossJoin(broadcast(df.agg(aggs.head, aggs.tail: _*)))
      else {
        val stats = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
        df.join(broadcast(stats), groupCols)
      }
    cols.foldLeft(joined)(applyOne)
      .drop(cols.flatMap(c => Seq(s"${c}_min", s"${c}_max")): _*)
  }

  /** Percentile-fit fragment shared by [[winsorize]] / [[robustScale]].
    *
    * `exact = true` uses SQL `percentile` (linear interpolation, matches
    * DuckDB `quantile_cont` bit-for-bit) — it buffers every group value in
    * one aggregation buffer, so it is strictly the small-group / final-
    * report path. `exact = false` is the 100-TB path: `percentile_approx`
    * (Greenwald-Khanna sketch) holds O(accuracy) state per group regardless
    * of row count, merges associatively (map-side combinable), and never
    * OOMs an executor; estimates are engine-specific, so approx-fit queries
    * get rows-only correctness checks (same contract as the q59 HLL++
    * profile). */
  private[graft] def percentileFit(valueExpr: String, ps: Seq[Double],
                                   exact: Boolean, accuracy: Int): Column = {
    val arr = s"array(${ps.mkString(",")})"
    // exact lane: graft's primitive-buffer aggregate — same semantics and
    // buffering class as SQL percentile(), ~5x less per-row cost (the
    // built-in updates a boxed OpenHashMap per row; see ExactPercentiles)
    if (exact) graft.functions.GraftFunctions.exact_percentiles(expr(valueExpr), ps)
    else expr(s"percentile_approx($valueExpr, $arr, $accuracy)")
  }

  /** Winsorize (percentile clipping): clamp `valueCol` into its
    * [pLo, pHi] percentile band, optionally per group — the standard
    * outlier-taming transform before scaling. Same fit-then-broadcast-apply
    * shape as the scalers: ONE aggregate pass fits both band edges, no
    * window over the fact table. `exact = false` swaps the fit to the
    * sketch-based `percentile_approx` (see [[percentileFit]]) — the path
    * that survives a 100x group-size scale-up. Output `<valueCol>_w`. */
  def winsorize(df: DataFrame, valueCol: String, groupCols: Seq[String],
                pLo: Double, pHi: Double, exact: Boolean = true,
                accuracy: Int = 10000): DataFrame = {
    // percentile() would reject these too, but only at execution time from
    // inside a task, with the operator name lost — fail at the call site
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi,
      s"winsorize needs 0 <= pLo <= pHi <= 1, got [$pLo, $pHi]")
    require(accuracy >= 1, s"winsorize accuracy must be positive, got $accuracy")
    val band = percentileFit(valueCol, Seq(pLo, pHi), exact, accuracy).as("_band")
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(df.agg(band)))
      else df.join(broadcast(df.groupBy(groupCols.map(col): _*).agg(band)), groupCols)
    joined.withColumn(s"${valueCol}_w",
      least(greatest(col(valueCol), element_at(col("_band"), 1)),
        element_at(col("_band"), 2)))
      .drop("_band")
  }

  /** Quantile binning (the equi-depth bucketizer): fit `nBins - 1` interior
    * percentile boundaries, then bin each value as the COUNT OF BOUNDARIES
    * STRICTLY BELOW it — bins 0..nBins-1, ties at a boundary bin down, null
    * values bin null. Same fit-then-broadcast-apply shape as the scalers
    * (one aggregate, zero fact-side shuffle); the apply is a codegen'd
    * higher-order `filter`+`size` over the broadcast boundary array, so no
    * per-bin when-chain and no UDF. `exact = false` swaps the fit to the
    * Greenwald-Khanna sketch (see [[percentileFit]]) — the 100-TB path.
    * Output `<valueCol>_bin`. */
  def quantileBin(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  nBins: Int, exact: Boolean = true,
                  accuracy: Int = 10000): DataFrame = {
    require(nBins >= 2, s"quantileBin needs nBins >= 2, got $nBins")
    require(accuracy >= 1, s"quantileBin accuracy must be positive, got $accuracy")
    val ps = (1 until nBins).map(_.toDouble / nBins)
    val bounds = percentileFit(valueCol, ps, exact, accuracy).as("_bounds")
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(df.agg(bounds)))
      else df.join(broadcast(df.groupBy(groupCols.map(col): _*).agg(bounds)), groupCols)
    joined.withColumn(s"${valueCol}_bin",
      when(col(valueCol).isNull, lit(null))
        .otherwise(size(filter(col("_bounds"), b => b < col(valueCol))).cast("long")))
      .drop("_bounds")
  }

  /** Robust z-score: (x - median) / (1.4826 * MAD), per group — the
    * outlier-immune alternative to [[standardScale]] (mean/std are dragged
    * by the very outliers you're trying to flag). Two fit aggregates
    * (median, then median absolute deviation) each broadcast back — the
    * fact table is scanned, never shuffled. `exact = false` fits both
    * aggregates with `percentile_approx` (see [[percentileFit]]) — constant
    * memory per group, the 100-TB path. Output `<valueCol>_rz`. */
  def robustScale(df: DataFrame, valueCol: String, groupCols: Seq[String],
                  exact: Boolean = true, accuracy: Int = 10000): DataFrame = {
    require(accuracy >= 1, s"robustScale accuracy must be positive, got $accuracy")
    // empty groupCols = one global fit; joining on zero columns would plan
    // a condition-less join, so the global path gets the same explicit
    // broadcast cross join shape winsorize uses
    def fitJoin(fact: DataFrame, fit: DataFrame): DataFrame =
      if (groupCols.isEmpty) fact.crossJoin(broadcast(fit))
      else fact.join(broadcast(fit), groupCols)
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(element_at(percentileFit(valueCol, Seq(0.5), exact, accuracy), 1).as("_med"))
    val withMed = fitJoin(df, med)
    val mad = withMed.groupBy(groupCols.map(col): _*)
      .agg(element_at(
        percentileFit(s"abs($valueCol - _med)", Seq(0.5), exact, accuracy), 1).as("_mad"))
    // Pre-join the two group-sized fits so the fact side pays ONE broadcast
    // hash join instead of two (the MAD fit still reads withMed, but the
    // apply pass scans df fresh either way).
    val fits = if (groupCols.isEmpty) med.crossJoin(mad) else med.join(mad, groupCols)
    fitJoin(df, fits)
      .withColumn(s"${valueCol}_rz",
        (col(valueCol) - col("_med")) / (lit(1.4826) * col("_mad")))
      .drop("_med", "_mad")
  }
}
