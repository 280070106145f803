package graft

import graft.meta.Tables
import graft.operators._
import graft.functions.GraftFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 (+ north-star dedup/similarity/text operators), each with a
  * DuckDB-oracle SQL twin in [[oracleSql]].
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
  private def dirtyEvents(s: SparkSession, dir: String): DataFrame =
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
  private def cents(c: Column): Column = round(c * 100, 0).cast("long")

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

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A3-A8/G-agg: full-scan hash aggregate with decimal-exact sums (TPC-H Q1 shape).
    "q01_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(cents(col("l_quantity")).cast("decimal(28,0)")).cast("double") / 100.0).as("sum_qty"),
          (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0).as("sum_base_price"),
          (sum((cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
            .cast("decimal(38,0)")).cast("double") / 10000.0).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // A1/A2 — per-column null-count audit over dirty input.
    "q02_null_audit" -> ((s, dir) => {
      Audit.nullCountsLong(dirtyEvents(s, dir).select("v", "u"))
        .withColumnRenamed("column", "col_name")
        .orderBy("col_name")
    }),

    // F3/F4 — epoch-ms roundtrip + date parts with 1970/1/1 null sentinels.
    "q03_date_parts" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0, lit(null))
          .otherwise(col("o_orderdate")).as("ts"))
      val ms = unix_millis(col("ts").cast("timestamp")) // session is UTC
      base.select(
        col("o_orderkey"),
        ms.as("epoch_ms"),
        timestamp_millis(ms).cast("timestamp_ntz").as("ts_roundtrip"),
        coalesce(year(col("ts")), lit(1970)).as("year"),
        coalesce(month(col("ts")), lit(1)).as("month"),
        coalesce(dayofmonth(col("ts")), lit(1)).as("day"))
        .orderBy("o_orderkey")
    }),

    // F1/F2/F5/F6/F9/E5 — string cleaning: trim, sentinel replace, concat, regexp parse.
    "q04_string_clean" -> ((s, dir) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        trim(col("c_name")).as("name_trim"),
        upper(col("c_mktsegment")).as("seg_upper"),
        coalesce(nullif(trim(col("c_mktsegment")), lit("BUILDING")), lit("Unknown"))
          .as("seg_clean"),
        concat_ws("/", col("c_mktsegment"), col("c_nationkey").cast("string")).as("path"),
        regexp_extract(col("c_name"), "[0-9]+", 0).as("name_digits"))
        .orderBy("c_custkey")
    }),

    // E1 — global-fit label encoding (sorted distinct -> code, broadcast apply).
    "q05_label_encode" -> ((s, dir) => {
      Encode.labelEncode(Tables.customer(s, dir), "c_mktsegment")
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_mktsegment_code").as("seg_code"))
        .orderBy("c_custkey")
    }),

    // E2/A3/J3 — global z-score via one agg + broadcast apply.
    "q06_standard_scale" -> ((s, dir) => {
      Encode.standardScale(Tables.customer(s, dir), Seq("c_acctbal"))
        .select(col("c_custkey"), round(col("c_acctbal_z"), 6).as("acctbal_z"))
        .orderBy("c_custkey")
    }),

    // E3/A4 — per-group min-max scaling.
    "q07_minmax_scale" -> ((s, dir) => {
      Encode.minMaxScale(Tables.lineitem(s, dir), Seq("l_quantity"), Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity_mm"), 6).as("qty_mm"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // E4 — ffill().bfill() with explicit order + partition keys.
    "q08_ffill_bfill" -> ((s, dir) => {
      val base = dirtyEvents(s, dir).select("event_id", "user_id", "ts", "v")
      Clean.fillForwardBackward(base, Seq("v"), Seq("ts", "event_id"), Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("ts"), col("v").as("v_filled"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // E5/E6 — constant fill, dtype-driven.
    "q09_null_fill" -> ((s, dir) => {
      dirtyEvents(s, dir).select("event_id", "v", "u")
        .na.fill(0.0, Seq("v")).na.fill(-1L, Seq("u"))
        .select(col("event_id"), col("v").as("v_filled"), col("u").as("u_filled"))
        .orderBy("event_id")
    }),

    // J1/J2 — positional index + cyclic modulo join (broadcast small side).
    "q10_positional_join" -> ((s, dir) => {
      Relational.moduloJoin(
        Tables.orders(s, dir), Seq("o_orderkey"),
        Tables.customer(s, dir), Seq("c_custkey"))
        .select("o_orderkey", "c_custkey")
        .orderBy("o_orderkey")
    }),

    // J3 + hash joins — 3-way join with broadcast dim, filtered aggregate.
    "q11_join_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // Bucketed-layout round trip: write both fact tables hash-bucketed AND
    // bucket-sorted on the join key (the write-once co-location investment),
    // read back through the catalog, join WITHOUT an Exchange or a Sort on
    // either side (IngestStreamingSpec proves the plan), aggregate. The
    // oracle is the plain join — the layout must be invisible to results.
    // The 5-row aggregate is materialized inside the builder so the two
    // catalog tables and the tmp files can be dropped in the finally —
    // repeated driver runs must not accrete metastore/warehouse garbage.
    "q81_bucketed_join" -> ((s, dir) => {
      import graft.sources.BucketedLayout
      // Path and table names carry the application id: concurrent driver
      // processes (a BENCH_ONLY re-probe next to a full run) must not
      // overwrite each other's layout mid-read; within one session the
      // names are stable so a second bench pass cleanly overwrites.
      val tag = (dir + "_" + s.sparkContext.applicationId)
        .replaceAll("[^A-Za-z0-9]", "_")
      val base = System.getProperty("java.io.tmpdir") + "/graft_q81_" + tag
      val (liT, orT) = (s"graft_q81_li_$tag", s"graft_q81_or_$tag")
      val ordKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
      val prevOrd = s.conf.getOption(ordKey)
      try {
        // one file per bucket (writeBucketed guarantees it) + this conf =
        // the scan exposes the bucket-file sort, and the SMJ plans sort-free
        s.conf.set(ordKey, "true")
        BucketedLayout.writeBucketed(
          Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice"),
          liT, s"$base/li", Seq("l_orderkey"), 8, sortCols = Seq("l_orderkey"))
        BucketedLayout.writeBucketed(
          Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
          orT, s"$base/or", Seq("o_orderkey"), 8, sortCols = Seq("o_orderkey"))
        val agg = BucketedLayout.readBucketed(s, liT)
          .join(BucketedLayout.readBucketed(s, orT),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_lines"),
            (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0).as("revenue"))
          .orderBy("o_orderpriority")
        // |priorities| rows — localize so cleanup can run before returning
        s.createDataFrame(java.util.Arrays.asList(agg.collect(): _*), agg.schema)
      } finally {
        prevOrd match {
          case Some(v) => s.conf.set(ordKey, v)
          case None => s.conf.unset(ordKey)
        }
        s.sql(s"DROP TABLE IF EXISTS $liT")
        s.sql(s"DROP TABLE IF EXISTS $orT")
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }),

    // semi/anti joins.
    "q12_semi_anti" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val big = Tables.lineitem(s, dir).where(col("l_quantity") >= 45)
      val semi = o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), lit("has_bigline").as("tag"))
      val anti = o.join(big, o("o_orderkey") === big("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), lit("no_bigline").as("tag"))
      semi.unionByName(anti).orderBy("o_orderkey")
    }),

    // U-set — intersect / except, tagged.
    "q13_setops" -> ((s, dir) => {
      val cn = Tables.customer(s, dir).select(col("c_nationkey").as("nk")).distinct()
      val sn = Tables.supplier(s, dir).select(col("s_nationkey").as("nk")).distinct()
      cn.intersect(sn).select(col("nk"), lit("both").as("tag"))
        .unionByName(cn.except(sn).select(col("nk"), lit("customer_only").as("tag")))
        .unionByName(sn.except(cn).select(col("nk"), lit("supplier_only").as("tag")))
        .orderBy("tag", "nk")
    }),

    // U1 — union-all then aggregate.
    "q14_union" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val u = o.where(col("o_totalprice") > 100000).select("o_orderstatus")
        .unionByName(o.where(col("o_orderpriority") === "1-URGENT").select("o_orderstatus"))
      u.groupBy("o_orderstatus").agg(count(lit(1)).as("n")).orderBy("o_orderstatus")
    }),

    // G1 — fixed-count micro-batch ids + per-batch stats. The batching
    // order carries l_extendedprice as the final tiebreak because
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem:
    // without it the row index is only defined up to tie permutation and
    // the oracle agreed by the accident of identical file read order
    // (caught when SplitLayout changed the scan layout). Ties on all
    // three keys are price-equal, so any residual permutation cannot
    // change a batch's count or sum.
    "q15_microbatch" -> ((s, dir) => {
      Batching.microBatchId(
        Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_extendedprice"),
        Seq("l_orderkey", "l_linenumber", "l_extendedprice"), 200)
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0).as("batch_price"))
        .orderBy("batch_id")
    }),

    // G3 — running byte-budget chunking.
    "q16_byte_chunks" -> ((s, dir) => {
      Batching.byteBudgetChunkId(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"),
        Seq("l_orderkey", "l_linenumber"), 20000L,
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
        .groupBy("chunk_id").agg(count(lit(1)).as("n"))
        .orderBy("chunk_id")
    }),

    // O3 — top-k with deterministic tie-break (TakeOrderedAndProject).
    "q17_topk" -> ((s, dir) => {
      Relational.topK(Tables.orders(s, dir), 10,
        col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")
    }),

    // §2.11 — event-time tumbling window as batch group-by.
    "q18_window_hourly" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("value")).cast("decimal(28,0)")).cast("double") / 100.0).as("sum_value"))
        .orderBy("hour", "event_type")
    }),

    // JSON extraction (events.props) + aggregate.
    "q19_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"),
          round(avg("k"), 6).as("avg_k"))
        .orderBy("event_type")
    }),

    // Sessionization — gap > 30 min starts a new session (batch analogue of
    // stateful streaming; SURVEY §2.11).
    "q20_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("brk",
          when(lag("us", 1).over(w).isNull ||
            col("us") - lag("us", 1).over(w) > 1800000000L, 1).otherwise(0))
        .withColumn("session_id", sum("brk").over(cum))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
        .orderBy("user_id", "session_id")
    }),

    // Exact dedup keep-first (deterministic dropDuplicates).
    "q21_dedup_exact" -> ((s, dir) => {
      Dedup.dedupKeepFirst(Tables.events(s, dir),
        Seq("user_id", "event_type"), Seq("ts", "event_id"))
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    }),

    // Duplicate-cluster stats by fingerprint.
    "q22_dup_stats" -> ((s, dir) => {
      Dedup.duplicateStats(Tables.documents(s, dir),
        md5(concat_ws("|", col("lang"), col("source"))))
        .orderBy("fingerprint")
    }),

    // Document fingerprints: md5 + portable rolling hash (native expression).
    "q23_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
        TextAnalysis.fingerprint(col("text")).as("fp_roll"))
        .orderBy("doc_id")
    }),

    // MinHash + LSH banding near-dup candidates.
    "q24_minhash_lsh" -> ((s, dir) => {
      Dedup.lshCandidatePairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),

    // SimHash fingerprints.
    "q25_simhash" -> ((s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // n-gram Jaccard within a bounded id window (hash table computed once).
    "q26_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardWithinGap(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("id_a", "id_b")
    }),

    // Brute-force cosine top-k (exact ANN baseline; native fused kernel).
    "q27_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rank")
    }),

    // IVF-bucketed ANN (the 100-TB scale path).
    "q28_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8),
        emb.where(col("vec_id") >= 10 && col("vec_id") < 20), 3)
        .orderBy("probe_id", "rank")
    }),

    // Multi-probe IVF: each probe searches its 2 closest cells — the recall
    // lever for probes near a cell boundary; corpus work scales with nprobe,
    // never with corpus size.
    "q74_ann_multiprobe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8),
        emb.where(col("vec_id") >= 10 && col("vec_id") < 20), 3, nprobe = 2)
        .orderBy("probe_id", "rank")
    }),

    // Fuzzy near-dup pairs: prefix blocking + thresholded levenshtein
    // (banded DP) — typo-level dedup complementing MinHash/LSH.
    "q75_fuzzy_pairs" -> ((s, dir) => {
      Dedup.fuzzyPairs(Tables.documents(s, dir), "doc_id", "text", 6)
        .orderBy("id_a", "id_b")
    }),

    // Sparse TF-IDF cosine pairs via inverted-index join on hashed
    // 3-shingle features (term-at-a-time; work bounded by sum df^2).
    "q76_tfidf_cosine" -> ((s, dir) => {
      TextAnalysis.tfidfCosinePairs(Tables.documents(s, dir), "doc_id", "text",
        minCos = 0.3, maxDf = 1000)
        .orderBy("id_a", "id_b")
    }),

    // Embedding near-duplicate pairs above cosine threshold.
    "q29_embed_neardup" -> ((s, dir) => {
      Similarity.nearDupPairs(Tables.embeddings(s, dir), 0.2, 20)
        .orderBy("id_a", "id_b")
    }),

    // Language-ID by marker-token voting. One split per row: the token
    // array is bound once, every score_* is computed from it once, and the
    // argmax reads the BOUND score columns (languageId over raw text would
    // re-derive all five scores inside the argmax — Catalyst does not
    // de-duplicate the non-cheap HOF counts across the two call sites).
    "q30_lang_id" -> ((s, dir) => {
      val markers = SparkEntry.langMarkers
      val langs = markers.keys.toSeq.sorted
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextAnalysis.tokens(col("text")).as("_tk"))
      val scored = TextAnalysis.languageScoresOver(col("_tk"), markers)
        .foldLeft(d) { case (df, (l, c)) => df.withColumn(s"score_$l", c) }
      scored.select(
        col("doc_id") +: col("lang") +:
          langs.map(l => col(s"score_$l")) :+
          TextAnalysis.languageIdFromScores(langs.map(l => l -> col(s"score_$l")))
            .as("predicted"): _*)
        .orderBy("doc_id")
    }),

    // Quality scoring (Gopher/C4-style heuristics).
    "q31_quality" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.distinctTokenCount(t).as("n_types"),
        round(TextAnalysis.distinctTokenCount(t).cast("double") /
          TextAnalysis.tokenCount(t).cast("double"), 6).as("ttr"),
        TextAnalysis.qualityScore(t).as("quality"))
        .orderBy("doc_id")
    }),

    // Flagship — geolocation error report (haversine km + Euclidean-degree
    // reference parity), native codegen'd distance kernel.
    "q32_geo_error" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val pts = li.select(
        col("l_returnflag"),
        ((col("l_partkey") % 180).cast("double") - 90.0 + col("l_discount")).as("lat1"),
        ((col("l_suppkey") % 360).cast("double") - 180.0 + col("l_tax")).as("lon1"),
        ((col("l_orderkey") % 180).cast("double") - 90.0).as("lat2"),
        (((col("l_orderkey") * 7) % 360).cast("double") - 180.0).as("lon2"))
      Geo.errorReport(pts, Seq("l_returnflag"),
        col("lat1"), col("lon1"), col("lat2"), col("lon2"))
        .orderBy("l_returnflag")
    }),

    // Distinct aggregates (north-star dedup cardinality).
    "q34_distinct_stats" -> ((s, dir) => {
      Tables.customer(s, dir)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_nationkey")).as("n_nations"))
        .orderBy("c_mktsegment")
    }),

    // P6 — skip-list predicate (partition-pruning shape).
    "q35_skiplist" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .withColumn("part_bucket", col("l_suppkey") % 10)
        .where(!col("part_bucket").isin(3, 7))
        .groupBy("part_bucket").agg(count(lit(1)).as("n"))
        .orderBy("part_bucket")
    }),

    // Composed pipeline (SURVEY §7.2 shape): dirty ingest -> ffill/bfill ->
    // global z-score (broadcast fit) -> event-time window aggregate.
    "q38_pipeline" -> ((s, dir) => {
      val base = dirtyEvents(s, dir).select("event_id", "user_id", "ts", "v")
      val filled = Clean.fillForwardBackward(base, Seq("v"), Seq("ts", "event_id"), Seq("user_id"))
      val scaled = Encode.standardScale(filled, Seq("v"))
      scaled.groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"), round(avg("v_z"), 6).as("mean_z"))
        .orderBy("hour")
    }),

    // Hyperplane-LSH cosine bucketing (the ANN candidate generator).
    "q37_lsh_cosine" -> ((s, dir) => {
      Similarity.hyperplaneBuckets(Tables.embeddings(s, dir))
        .groupBy("bucket").agg(count(lit(1)).as("n"),
          min("vec_id").as("min_id"), max("vec_id").as("max_id"))
        .orderBy("bucket")
    }),

    // Pure-SQL surface: temp views + registered native functions
    // (haversine_km, rolling_hash) driven entirely through spark.sql.
    "q36_sql_surface" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      Tables.load(s, dir, "supplier").createOrReplaceTempView("supplier_v")
      s.sql(
        """SELECT s_nationkey,
          |count(*) AS n,
          |round(avg(haversine_km(
          |  CAST(s_suppkey % 90 AS DOUBLE), CAST(s_nationkey * 7 % 180 AS DOUBLE),
          |  0.0D, 0.0D)), 4) AS mean_km,
          |CAST(sum(rolling_hash(s_name) % 97) AS BIGINT) AS name_sig
          |FROM supplier_v GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    }),

    // As-of (point-in-time) join: each click picks the user's latest
    // prior-or-simultaneous purchase. Union+window plan — no range explosion.
    "q39_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("last_purchase_value"))
      Relational.asofJoin(clicks, purchases, Seq("user_id"), "ts",
        Seq("last_purchase_value"))
        .orderBy("event_id")
    }),

    // Broadcast range join: quantity mapped into per-nation [lo, hi) bands.
    "q40_range_join" -> ((s, dir) => {
      val ranges = Tables.nation(s, dir).select(
        col("n_name"),
        (col("n_nationkey").cast("double") * 2.0).as("lo"),
        (col("n_nationkey").cast("double") * 2.0 + 2.0).as("hi"))
      Relational.rangeJoin(Tables.lineitem(s, dir), ranges,
        col("l_quantity"), col("lo"), col("hi"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("l_quantity")).cast("decimal(28,0)")).cast("double") / 100.0).as("sum_qty"))
        .orderBy("n_name")
    }),

    // TF-IDF top terms per document (explode -> tf -> df -> rank window).
    "q41_tfidf" -> ((s, dir) => {
      TextAnalysis.tfidfTopK(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    }),

    // Corpus bigram frequency table, top-5 per language.
    "q42_ngram_top" -> ((s, dir) => {
      TextAnalysis.topNgrams(Tables.documents(s, dir), "lang", "text", 2, 5)
        .select(col("lang"), col("rank"), col("ngram"), col("n_occur"))
        .orderBy("lang", "rank")
    }),

    // Sketch-path heavy hitters (Spark 4 native approx_top_k frequent-items
    // sketch): per-group state bounded by maxItemsTracked, map-side
    // combinable — the 100-TB twin of q42's exact table. HASH-CHECKED, not
    // rows-only: the frequent-items sketch provably degenerates to exact
    // counts whenever the per-group vocabulary fits the tracked capacity
    // (31 distinct tokens per lang in this corpus vs 10000 tracked —
    // SketchParitySpec pins the degeneration property itself), so the
    // exact top-10 per lang IS the oracle at every SF the gate runs.
    "q80_heavy_hitters" -> ((s, dir) => {
      TextAnalysis.heavyHitterTokens(Tables.documents(s, dir), "lang", "text", 10)
        .orderBy("lang", "rank")
    }),

    // Rolling 5-row window per user: moving average via exact integer-cents
    // sums so sliding-window float drift can't split the engines.
    "q43_rolling" -> ((s, dir) => {
      val w5 = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), cents(col("value")).as("c"))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(sum("c").over(w5).cast("double") / (count(lit(1)).over(w5) * 100.0), 6).as("mov_avg"),
          count(lit(1)).over(w5).as("cum_n5"))
        .orderBy("event_id")
    }),

    // Exact linear-interpolation percentiles per group.
    "q44_percentiles" -> ((s, dir) => {
      Stats.percentiles(Tables.lineitem(s, dir), Seq("l_returnflag"),
        "l_extendedprice", Seq(0.25, 0.5, 0.75))
        .select(col("l_returnflag"),
          round(col("pct").getItem(0), 6).as("p25"),
          round(col("pct").getItem(1), 6).as("p50"),
          round(col("pct").getItem(2), 6).as("p75"))
        .orderBy("l_returnflag")
    }),

    // Top-k rows per group (rank window over a broadcast-joined dim).
    "q45_group_topk" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      Relational.groupTopK(o.join(broadcast(c), o("o_custkey") === c("c_custkey")),
        Seq("c_mktsegment"), 3, col("o_totalprice").desc, col("o_orderkey").asc)
        .select("c_mktsegment", "rank", "o_orderkey", "o_totalprice")
        .orderBy("c_mktsegment", "rank")
    }),

    // Pivot: event-type counts per user cohort (fixed pivot values keep the
    // schema static — no second pass to discover columns).
    "q46_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, dir)
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", types).count()
        .select(col("cohort") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy("cohort")
    }),

    // ROLLUP with grouping flags (subtotal lattice in one pass).
    "q47_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0).as("revenue"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("g_flag"), col("g_status"), col("n"), col("revenue"))
        .orderBy("flag", "status")
    }),

    // Fixed-width histogram (integer bucketing, one combinable aggregate).
    "q48_histogram" -> ((s, dir) => {
      Stats.histogram(Tables.orders(s, dir), col("o_totalprice"), 25000.0)
        .orderBy("bucket")
    }),

    // Correlation / covariance / stddev profile per group.
    "q49_corr_stats" -> ((s, dir) => {
      Stats.corrStats(Tables.lineitem(s, dir), Seq("l_returnflag"),
        "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag")
    }),

    // Deterministic hash sampling (reproducible corpus subset) + profile.
    "q50_sample_hash" -> ((s, dir) => {
      Stats.sampleByHash(Tables.documents(s, dir), col("text"), 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          round(avg(TextAnalysis.tokenCount(col("text")).cast("double")), 6).as("avg_tokens"))
        .orderBy("lang")
    }),

    // Generator surface: positional token explode (posexplode).
    "q51_explode_tokens" -> ((s, dir) => {
      Tables.documents(s, dir).where(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("token"))
        .orderBy("doc_id", "pos")
    }),

    // PII scrub: mask emails then digit runs (pre-training redaction pass).
    "q52_pii_scrub" -> ((s, dir) => {
      val synth = concat(col("c_name"), lit(" <"),
        lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
        lit("@mail.test> ref "), (col("c_custkey") * 7919).cast("string"))
      Tables.customer(s, dir).select(
        col("c_custkey"), synth.as("raw"),
        TextAnalysis.scrubPii(synth).as("scrubbed"))
        .orderBy("c_custkey")
    }),

    // Per-bucket embedding centroids via the native VectorAvg aggregate
    // (map-side-combined double[dims] buffers — shuffle bytes independent of
    // corpus size), exploded to (bucket, dim, value) for the oracle compare.
    "q53_centroids" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .groupBy((col("vec_id") % 8).as("bucket"))
        .agg(graft.functions.GraftFunctions.vector_avg(col("embedding")).as("centroid"),
          count(lit(1)).as("n_vecs"))
        .select(col("bucket"), col("n_vecs"), posexplode(col("centroid")))
        .select(col("bucket"), col("n_vecs"),
          (col("pos") + 1).as("dim"), round(col("col"), 6).as("c"))
        .orderBy("bucket", "dim")
    }),

    // CDC last-writer-wins upsert: a 10% update slice merged over the base
    // snapshot via union + rank window (no full-table join).
    "q54_upsert" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          lit(1L).as("version"))
      val updates = Tables.orders(s, dir)
        .where(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"), lit(2L).as("version"))
      Relational.upsert(base, updates, Seq("o_orderkey"), "version")
        .orderBy("o_orderkey")
    }),

    // Quartile bucketing per priority class (ntile window) + band stats.
    "q55_ntile" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("quartile", ntile(4).over(w))
        .groupBy("o_orderpriority", "quartile")
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").as("min_price"), max("o_totalprice").as("max_price"))
        .orderBy("o_orderpriority", "quartile")
    }),

    // Salted-join semantics proof: the skew-resistant salted join must be
    // row-identical to the plain equi-join the oracle runs.
    "q56_salted_join" -> ((s, dir) => {
      val prio = Tables.orders(s, dir)
        .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Relational.saltedJoin(Tables.lineitem(s, dir), prio, "l_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // Fuzzy matching: edit distance between adjacent customer names — the
    // classic fuzzy-dedup primitive (codegen'd levenshtein, no UDF).
    "q57_levenshtein" -> ((s, dir) => {
      val w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
      Tables.customer(s, dir)
        .withColumn("next_name", lead("c_name", 1).over(w))
        .where(col("next_name").isNotNull)
        .select(col("c_custkey"), col("c_mktsegment"),
          levenshtein(col("c_name"), col("next_name")).as("edit_dist"))
        .orderBy("c_custkey")
    }),

    // One-pass per-column data profile (min/max/nulls/exact ndv) — the
    // corpus-QA report every ingest runs before training.
    "q58_profile" -> ((s, dir) => {
      Audit.profile(Tables.orders(s, dir),
        Seq("o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus"))
        .orderBy("column")
    }),

    // Sketch-path profile: HLL++ ndv instead of exact — constant memory per
    // column at 100 TB. Sketch estimates are engine-specific, so this query
    // has no SQL oracle (driver records the weaker rows-only check).
    "q59_sketch_profile" -> ((s, dir) => {
      Audit.profile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"),
        exact = false)
        .orderBy("column")
    }),

    // Native bounded-buffer top-k aggregate (TopKByScore) — must be
    // row-identical to the q45 window form; the oracle proves it. At scale
    // this shuffles |groups| x k rows where the window shuffles everything.
    "q60_topk_agg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(graft.functions.GraftFunctions
          .topk_by_score(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("c_mktsegment"), posexplode(col("top")))
        .select(col("c_mktsegment"), (col("pos") + 1).as("rank"),
          col("col.id").as("o_orderkey"), col("col.v").as("o_totalprice"))
        .orderBy("c_mktsegment", "rank")
    }),

    // Winsorize: clamp prices into the per-flag [p05, p95] percentile band
    // (fit once, broadcast-apply — no window over the fact table).
    "q61_winsorize" -> ((s, dir) => {
      Encode.winsorize(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_returnflag"), 0.05, 0.95)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice_w"), 6).as("price_w"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Stratified deterministic sampling: 20% of English docs, 5% of the
    // rest — the data-mix lever, reproducible across engines and retries.
    "q62_stratified" -> ((s, dir) => {
      Stats.stratifiedSampleByHash(Tables.documents(s, dir), col("text"),
        col("lang"), Map("en" -> 20), defaultPct = 5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("first_doc"))
        .orderBy("lang")
    }),

    // LLM sequence packing: consecutive docs bucketed by running token
    // count against a 512-token budget (distributed prefix sum, no
    // single-partition window). A pack can overshoot the budget by up to
    // one doc's tokens (see Batching.weightBudgetChunkId's bound) — cap-
    // sensitive callers budget for 512 + maxDocTokens - 1.
    "q63_seq_pack" -> ((s, dir) => {
      Batching.weightBudgetChunkId(
        Tables.documents(s, dir).select("doc_id", "text"),
        Seq("doc_id"), 512, TextAnalysis.tokenCount(col("text")), out = "pack_id")
        .withColumn("w", TextAnalysis.tokenCount(col("text")).cast("long"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("total_tokens"))
        .orderBy("pack_id")
    }),

    // Deterministic train/val/test split assignment (80/10/10 by content
    // hash): survives retries and engine swaps, unlike rand() splits.
    "q64_split_assign" -> ((s, dir) => {
      val b = Stats.hashBucket(col("text"), 100)
      val split = when(b < 80, "train").when(b < 90, "val").otherwise("test")
      Tables.documents(s, dir)
        .groupBy(col("lang"), split.as("split"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
        .orderBy("lang", "split")
    }),

    // Dedup clusters: LSH candidate pairs -> connected components (min-label
    // propagation, keyed joins only). Cluster id = smallest member doc_id,
    // i.e. the canonical representative a dedup pass would keep.
    "q65_dedup_clusters" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = Dedup.lshCandidatePairs(d, "doc_id", "text").select("id_a", "id_b")
      Dedup.connectedComponents(d.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
        .orderBy("doc_id")
    }),

    // The extreme-scale CC twin: same clusters as q65 via alternating
    // large-star/small-star rounds (O(log^2 n) rounds vs graph diameter) —
    // the algorithm to run when dup chains are deep. Same oracle as q65.
    "q79_cc_star" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = Dedup.lshCandidatePairs(d, "doc_id", "text").select("id_a", "id_b")
      Dedup.connectedComponentsStar(d.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
        .orderBy("doc_id")
    }),

    // §2.11 — SLIDING event-time windows (1h window, 15min slide) as batch
    // group-by: each event lands in 4 overlapping windows (same TimeWindow
    // expansion Structured Streaming uses).
    "q66_sliding_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("n"))
        .orderBy("win_start", "event_type")
    }),

    // CUBE — the full grouping lattice (both one-dim subtotal planes that
    // ROLLUP omits), one Expand + aggregate pass.
    "q67_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("g_flag"), col("g_status"), col("n"))
        .orderBy("flag", "status", "g_flag", "g_status")
    }),

    // Robust (median/MAD) z-score — outlier-immune scaling, two broadcast
    // fits, fact table never shuffled.
    "q68_robust_scale" -> ((s, dir) => {
      Encode.robustScale(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice_rz"), 6).as("robust_z"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Null-safe equality join (<=>): null keys match the null group — the
    // semantics dirty-key enrichment needs (a plain equi-join drops them).
    "q69_nullsafe_join" -> ((s, dir) => {
      val d = dirtyEvents(s, dir).select(col("event_id"), col("u"))
      val counts = d.groupBy("u").agg(count(lit(1)).as("n_per_user"))
        .withColumnRenamed("u", "cu")
      d.join(counts, d("u") <=> counts("cu"))
        .select(col("event_id"), col("n_per_user"))
        .orderBy("event_id")
    }),

    // Token statistics per language bucket.
    "q33_token_stats" -> ((s, dir) => {
      val t = col("text")
      Tables.documents(s, dir)
        .select(col("lang"), TextAnalysis.tokenCount(t).as("n_tok"), col("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("total_tokens"),
          round(avg(col("n_tok").cast("double")), 6).as("avg_tokens"),
          round(avg(col("n_chars").cast("double")), 6).as("avg_chars"))
        .orderBy("lang")
    }),

    // Sketch-path winsorize: the percentile band is fit with
    // percentile_approx (constant memory per group) — the fit that survives
    // a 100x group-size scale-up where the exact fit (q61) OOMs. Sketch
    // estimates are engine-specific, so no SQL oracle (rows-only check,
    // same contract as q59). Aggregated so the output is small and stable.
    "q70_winsorize_sketch" -> ((s, dir) => {
      Encode.winsorize(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_returnflag"), 0.05, 0.95, exact = false)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(min("l_extendedprice_w"), 2).as("min_w"),
          round(max("l_extendedprice_w"), 2).as("max_w"))
        .orderBy("l_returnflag")
    }),

    // The reference's WHOLE process_batch trace end-to-end
    // (read_csv_s3_train.py:57-118): drop -> cast -> trim -> date parts w/
    // 1970 sentinels -> ffill/bfill -> Unknown-fill -> label encode (global
    // sorted-distinct fit) -> zero-fill numerics -> standard scale (global
    // fit, broadcast apply). The flagship oracle row for SURVEY §3.1.
    //
    // The fill is CHUNK-SCOPED: the reference fills within each 100k-row
    // CSV chunk only (read_csv_s3_train.py:47,77-80 — `ffill().bfill()`
    // runs per `process_batch` call, never across chunk boundaries), so the
    // faithful window is PARTITION BY floor(key/100k), not a global window.
    // That also removes the single-partition sort: the fill shuffles once
    // on the derived chunk id and each chunk sorts independently — the
    // 100-TB shape. The chunk id is a pure narrow projection of the key
    // (computed while `id` is still numeric, before osv5mClean's cast).
    "q72_osv5m_clean" -> ((s, dir) => {
      import graft.meta.Schemas
      // One fit scan for all five categoricals (labelEncodeAll) instead of
      // five — and BOTH estimators fit on Clean.osv5mFitFrame, the
      // pre-window-fill twin of the cleaned frame: the fill cannot change
      // label vocabularies (it only copies values that already exist) and
      // never touches the scale columns, so the fits are narrow
      // column-pruned scans and the expensive parity fill runs exactly
      // once, in the final apply pass (it would otherwise re-run per
      // estimator fit). EncodeSpec pins the fit-frame equivalence.
      val chunked = osv5mFrame(s, dir)
        .withColumn("fill_chunk", floor(col("id") / lit(100000L)))
      val fitFrame = Clean.osv5mFitFrame(chunked)
      val cleaned = Clean.osv5mClean(chunked, orderCol = "id",
        fillPartitionCols = Seq("fill_chunk"))
      val encoded = Encode.labelEncodeAll(cleaned, Schemas.osv5mCategoricals,
        fitOn = Some(fitFrame))
      val scaled = Encode.standardScale(encoded, Schemas.osv5mScaleCols,
        fitOn = Some(fitFrame))
      scaled.select(
        col("id"), col("year"), col("month"), col("day"),
        col("region"), col("city"), col("unique_city"), col("creator_username"),
        col("country_code"), col("region_code"),
        col("sub-region_code").as("subregion_code"),
        col("city_code"), col("unique_country_code"),
        round(col("latitude_z"), 6).as("latitude_z"),
        round(col("longitude_z"), 6).as("longitude_z"),
        round(col("dist_sea_z"), 6).as("dist_sea_z"),
        round(col("road_index_z"), 6).as("road_index_z"))
        .orderBy("id")
    }),

    // Real-text tokenization (regex whitespace runs + punctuation-immune
    // word extraction) over deliberately messy text — multi-space, tabs-
    // equivalent runs, punctuation, leading/trailing whitespace.
    "q73_tokenize" -> ((s, dir) => {
      val messy = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("  ("), col("text"), lit(")...  end!!  ")).as("t"))
      messy.select(col("doc_id"),
        size(TextAnalysis.tokensWs(col("t"))).as("n_ws"),
        size(TextAnalysis.wordTokens(col("t"))).as("n_words"),
        get(TextAnalysis.wordTokens(col("t")), lit(0)).as("first_word"))
        .orderBy("doc_id")
    }),

    // Sketch-path robust scale: both fits (median, MAD) via
    // percentile_approx — the 100-TB path twin of q68. Rows-only check.
    "q71_robust_sketch" -> ((s, dir) => {
      Encode.robustScale(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_returnflag"), exact = false)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(avg("l_extendedprice_rz"), 4).as("mean_rz"),
          round(max(abs(col("l_extendedprice_rz"))), 4).as("max_abs_rz"))
        .orderBy("l_returnflag")
    }),

    // The 100-TB shape of q72's fill: the same osv5m cleaning chain with
    // the ffill/bfill windows PARTITIONED by the trimmed country key —
    // one shuffle on the key, per-partition sorts, no single-partition
    // degeneration (q72 keeps the unpartitioned reference-parity fill).
    // Output observes every fill-affected column plus the Unknown/zero
    // fills that run after it.
    "q78_osv5m_partfill" -> ((s, dir) => {
      val cleaned = Clean.osv5mClean(osv5mFrame(s, dir), orderCol = "id",
        fillPartitionCols = Seq("country"))
      cleaned.select(
        col("id"), col("country"), col("year"),
        col("region"), col("sub-region").as("subregion"), col("city"),
        col("unique_country"), col("unique_city"), col("creator_username"),
        col("latitude").as("lat0"))
        .orderBy("id")
    }),

    // Bloom-prefiltered semi join (build -> collect -> narrow probe -> exact
    // semi join). The oracle is a plain IN-subquery semi join: false
    // positives are absorbed by the exact join and false negatives cannot
    // occur, so hash-parity holds by construction.
    "q77_bloom_semijoin" -> ((s, dir) => {
      val urgent = Tables.orders(s, dir).where(col("o_orderpriority") === "1-URGENT")
      Relational.bloomSemiJoin(Tables.lineitem(s, dir), urgent,
        "l_orderkey", "o_orderkey", numBits = 1 << 17)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0)
            .as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // Benchmark decontamination (GPT-3 §C-style n-gram overlap): training
    // docs sharing any word 5-gram with the held-out benchmark source
    // (src0). Hashed-gram broadcast semi-join — the corpus side never
    // shuffles text.
    "q82_decontaminate" -> ((s, dir) => {
      TextAnalysis.contaminationHits(Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0", n = 5)
        .orderBy("doc_id")
    }),

    // Gopher-style repetition quality: duplicate-word fraction + top-bigram
    // share per doc, thresholded keep flag. Zero-shuffle projection (the
    // top-gram count is a per-row fold over the sorted gram array).
    "q83_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Mixture rebalancing: every language downsampled to the smallest one
    // with data-derived hash keep rates; observe per-language kept counts.
    "q84_mixture_resample" -> ((s, dir) => {
      Stats.mixtureResample(Tables.documents(s, dir), col("lang"), col("text"))
        .groupBy("lang")
        .agg(max("keep_ppm").as("keep_ppm"), count(lit(1)).as("n_kept"),
          min("doc_id").as("first_doc"))
        .orderBy("lang")
    }),

    // Ordered conversion funnel (view -> click -> purchase, 24h deadlines):
    // one row per entered user with stage timestamps + stages completed.
    // All stages are windows over ONE user-keyed exchange, no joins.
    "q85_funnel" -> ((s, dir) => {
      Behavior.funnel(Tables.events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowSec = 86400)
        .orderBy("user_id")
    }),

    // Cohort retention triangle: first-event week cohorts x day offsets,
    // distinct active users per cell.
    "q86_retention" -> ((s, dir) => {
      Behavior.retention(Tables.events(s, dir), "user_id", "ts")
        .orderBy("cohort_week", "day_offset")
    }),

    // Full Gopher quality rule set (Rae et al. 2021 A1.1): one column per
    // rule plus the conjunction keep — zero-shuffle codegen'd projection,
    // q83's twin for the non-repetition rules.
    "q87_gopher_quality" -> ((s, dir) => {
      TextAnalysis.gopherQualityFlags(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // C4 line-level cleaning (Raffel 2020 2.2). The synthetic corpus is
    // single-line, so the query first synthesizes a deterministic line
    // structure (synthesizeLines: 8-token lines, every 3rd left without
    // terminal punctuation) — mirrored exactly in the oracle — then runs
    // the real line rules: terminal punct, >= 5 words, no boilerplate.
    "q88_c4_line_clean" -> ((s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = true)
      TextAnalysis.c4LineClean(lined, "doc_id", "text").orderBy("doc_id")
    }),

    // Exact-count per-stratum sample: exactly 20 docs per language, picked
    // by universal-mixed hash rank — deterministic and prefix-stable,
    // unlike any rate-based sampler.
    "q89_take_per_stratum" -> ((s, dir) => {
      Stats.takePerStratum(Tables.documents(s, dir), col("lang"), col("text"),
        20, tieBreak = Seq("doc_id"))
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }),

    // Embedding-space diversity subsample: IVF-quantize to 8 cells, keep
    // the 10 most-central vectors per cell — cluster-balanced corpus
    // subsetting (takePerStratum's embedding twin).
    "q90_diversity_sample" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.diversitySample(emb, emb.where(col("vec_id") < 8), 10)
        .orderBy("cell_id", "rank")
    }),

    // C4 span-level dedup: corpus-wide 3-line-span duplicate stats over
    // the SAME synthesized line structure as q88 (duplicate TEXTS in the
    // corpus make their spans corpus-wide dups).
    "q91_span_dedup" -> ((s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      Dedup.spanDupStats(lined, "doc_id", "text", 3).orderBy("doc_id")
    }),

    // LLM block packing with cross-document spillover: docs laid end-to-
    // end (EOS-separated) and cut into fixed 512-token blocks — the
    // pretraining layout where a doc straddles block boundaries (q63 is
    // the never-split whole-doc twin). Per-block rollup bounds the output.
    "q92_block_pack" -> ((s, dir) => {
      Batching.blockPack(Tables.documents(s, dir).select("doc_id", "text"),
        Seq("doc_id"), 512, TextAnalysis.tokenCount(col("text")))
        .groupBy("block_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          min("doc_id").as("first_doc"))
        .orderBy("block_id")
    }),

    // Product-quantization ANN end-to-end: fit 8x16 codebooks (the test
    // tables are already fit-sample-sized; at 100 TB the fit input is a
    // bounded sample, see fitPqCodebooks scaladoc), compress the corpus to
    // 8 codes/vector — the 32x-smaller index a 100-TB store persists
    // instead of raw floats — then ADC top-10 for 8 probes over CODES
    // only. Rows-only: Lloyd's float averages are engine-specific, same
    // contract as the sketch queries.
    "q93_pq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val books = Similarity.fitPqCodebooks(emb, m = 8, ksub = 16, iterations = 3)
      val codes = Similarity.pqEncode(emb, books)
      Similarity.pqTopK(codes, books, emb.where(col("vec_id") < 8), 10)
        .orderBy("probe_id", "rank")
    }),

    // SemDeDup-shaped semantic dedup: drop any vector with an earlier
    // same-LSH-bucket neighbor above cosine 0.35 (keep-first), MEAN-
    // CENTERED — buckets and cosines both run on v - mu (the measured
    // concentration fix; BASELINE.md "Round-19: mean-centering closes the
    // LSH concentration hole"). The
    // deterministic hyperplane buckets (q37's) plus the 6-dp-rounded mean
    // (fitMeanVector's cross-engine constant) keep the oracle exact.
    "q94_sem_dedup" -> ((s, dir) => {
      Similarity.semanticDedup(Tables.embeddings(s, dir), threshold = 0.35,
          center = true)
        .orderBy("vec_id")
    }),

    // Vocabulary induction + OOV coverage: top-20 words by corpus
    // frequency (the synthetic corpus has 31 types, so the cut is real),
    // then each document's out-of-vocab rate — the pre-tokenizer
    // diagnostic for vocab sizing.
    "q95_vocab_coverage" -> ((s, dir) => {
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), "doc_id", "text", 20)
        .orderBy("doc_id")
    }),

    // INT8 scalar quantization: exact per-dimension [min,max] fit, 8-bit
    // codes, per-vector reconstruction-error summary. sum(codes) is a
    // whole-vector checksum, so a single mis-encoded element fails the
    // hash compare.
    "q96_int8_quant" -> ((s, dir) => {
      Similarity.scalarQuantize(Tables.embeddings(s, dir))
        .select(col("vec_id"),
          aggregate(col("qcodes"), lit(0L), (acc, c) => acc + c).as("sum_codes"),
          col("max_abs_err"))
        .orderBy("vec_id")
    }),

    // Per-group closed-form linear regression (price ~ quantity per return
    // flag): the "fit a trend per key" one-pass primitive.
    "q97_group_linfit" -> ((s, dir) => {
      Stats.groupLinearFit(Tables.lineitem(s, dir), Seq("l_returnflag"),
        "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag")
    }),

    // Equi-depth quantile binning: 8 per-flag price bins, rolled up to
    // per-bin counts and exact bin edges — the feature bucketizer with a
    // fit-then-broadcast-apply plan (no fact-side shuffle before the
    // rollup).
    "q98_quantile_bin" -> ((s, dir) => {
      Encode.quantileBin(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_returnflag"), 8)
        .groupBy(col("l_returnflag"), col("l_extendedprice_bin").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min("l_extendedprice"), 2).as("lo"),
          round(max("l_extendedprice"), 2).as("hi"))
        .orderBy("l_returnflag", "bin")
    }),

    // Character-trigram LM quality score (CCNet-style perplexity proxy):
    // corpus-fit smoothed trigram log-probs, averaged per document.
    "q99_char_lm" -> ((s, dir) => {
      TextAnalysis.charTrigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // IVF-PQ ANN (Faiss composition): 8 coarse cells + 8x16 PQ on cell
    // residuals, multi-probe nprobe=2 ADC search over codes only — finer
    // than flat PQ at the same code budget (residuals are centered), and
    // corpus rows outside probed cells are never read. Rows-only like the
    // other Lloyd-fit queries; recall anchor in SketchParitySpec.
    "q100_ivfpq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainCentroids(emb, 8, 3)
      val books = Similarity.fitIvfPqCodebooks(emb, cents, m = 8, ksub = 16,
        iterations = 3)
      val enc = Similarity.ivfPqEncode(emb, cents, books)
      Similarity.ivfPqTopK(enc, cents, books, emb.where(col("vec_id") < 8),
        10, nprobe = 2)
        .orderBy("probe_id", "rank")
    }),

    // Binary sign quantization + Hamming top-k: the cheapest ANN tier
    // (8 bytes/vector, bit_count(xor) per candidate). Training-free and
    // fully deterministic, so unlike the Lloyd-fit indexes the whole
    // pipeline gets an exact oracle.
    "q101_binary_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hammingTopK(emb, emb.where(col("vec_id") < 8), 10)
        .orderBy("probe_id", "rank")
    }),

    // Two-stage retrieval: 50-wide binary shortlist, exact cosine re-rank
    // to top-10 — the production ANN shape (cheap filter, exact finisher),
    // deterministic end-to-end so the whole pipeline has an exact oracle.
    "q102_rerank_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.rerankTopK(emb, emb.where(col("vec_id") < 8),
        shortlist = 50, k = 10)
        .orderBy("probe_id", "rank")
    }),

    // The composite pretraining filter — the user-story endpoint chaining
    // four independently-oracled stages into one per-doc verdict: Gopher
    // quality rules AND repetition rules AND char-LM score above -0.78
    // (6-dp-rounded compare; the corpus's closest score sits 1e-5 off the
    // boundary at every SF) AND exact-dup keep-first. Docs too short to
    // emit a trigram fail the LM gate via the null coalesce.
    "q103_pretrain_filter" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val gq = TextAnalysis.gopherQualityFlags(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("g_keep"))
      val rep = TextAnalysis.repetitionStats(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("r_keep"))
      val lm = TextAnalysis.charTrigramLogProb(docs, "doc_id", "text")
        .select(col("doc_id"), col("avg_logp"))
      val firsts = Dedup.dedupKeepFirst(docs, Seq("text"), Seq("doc_id"))
        .select(col("doc_id"), lit(true).as("_first"))
      docs.select("doc_id")
        .join(gq, "doc_id").join(rep, "doc_id")
        .join(lm, Seq("doc_id"), "left")
        .join(firsts, Seq("doc_id"), "left")
        .withColumn("lm_keep", coalesce(col("avg_logp") > lit(-0.78), lit(false)))
        .withColumn("dup_keep", coalesce(col("_first"), lit(false)))
        .withColumn("kept",
          col("g_keep") && col("r_keep") && col("lm_keep") && col("dup_keep"))
        .select("doc_id", "g_keep", "r_keep", "lm_keep", "dup_keep", "kept")
        .orderBy("doc_id")
    }),

    // Poisson-bootstrap 95% CI for the per-flag price mean: 100
    // hash-seeded replicas, one embarrassingly parallel pass — error bars
    // at scale, reproducible across engines/runs/retries. Replica count
    // and alpha are pinned by BootReplicas/BootAlpha, which the oracle
    // interpolates from the same vals.
    "q104_bootstrap_ci" -> ((s, dir) => {
      Stats.bootstrapMeanCI(Tables.lineitem(s, dir), Seq("l_returnflag"),
        "l_extendedprice",
        concat_ws("-", col("l_orderkey"), col("l_linenumber")),
        replicas = BootReplicas, alpha = BootAlpha)
        .orderBy("l_returnflag")
    }),

    // C4 span-level SCRUB: the transform twin of q91's audit — same
    // synthesized line structure, same 3-line spans and canonical-first
    // rank, but emitting the CLEANED text with covered lines deleted.
    "q105_span_scrub" -> ((s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      Dedup.spanScrub(lined, "doc_id", "text", 3).orderBy("doc_id")
    }),

    // IVF-PQ fit-once/probe-many: q100's search served from a PERSISTED
    // index (Similarity.saveIvfPqIndex parquet convention) — the
    // production ANN shape. The fit+encode runs at most once per (sf dir,
    // JVM-independent cache on disk); the query body itself is load +
    // probe, so its cost is the probed cells' codes, not two Lloyd fits.
    // Rows-only like every Lloyd-fit query; round-trip identity is pinned
    // by DedupSimilaritySpec.
    "q106_ivfpq_prefit" -> ((s, dir) => {
      val idx = prefitIvfPqIndex(s, dir)
      Similarity.ivfPqTopK(idx.encoded, idx.centroids, idx.codebooks,
        Tables.embeddings(s, dir).where(col("vec_id") < 8), 10, nprobe = 2)
        .orderBy("probe_id", "rank")
    }),

    // Corpus-vs-corpus IVF-PQ retrieval (the bitext-mining / whole-corpus
    // nearest-neighbor shape): EVERY vector in the embeddings table probes
    // the persisted index. The probe set is a plain DataFrame side of the
    // cell-id equi-join (`broadcastProbes = false`) — per-probe lookup
    // tables are built by the narrow PqLut kernel on the probe side, so
    // nothing probe-sized is ever collected to the driver or broadcast:
    // the shape that scales to millions of probes. Rows-only like the
    // other Lloyd-fit queries; distributed-vs-broadcast path identity is
    // pinned in DedupSimilaritySpec.
    "q191_pq_bigprobe" -> ((s, dir) => {
      val idx = prefitIvfPqIndex(s, dir)
      Similarity.ivfPqTopK(idx.encoded, idx.centroids, idx.codebooks,
        Tables.embeddings(s, dir), 3, nprobe = 2, broadcastProbes = false)
        .orderBy("probe_id", "rank")
    }),

    // IMAGE near-dup dedup end-to-end — the multimodal arm of the dedup
    // ladder as a driver query: 64 deterministic synthetic images (16
    // patterns x 4 renderings; renderings alternate PNG/JPEG, so each
    // pattern's cluster holds exact byte-dups AND true re-encode
    // near-dups) -> perceptual dHash (Media.imageDHashes: bytes never
    // shuffle, the hash is computed where the row lives) -> Manku-banded
    // Hamming pairs (never all-pairs). The images are synthesized because
    // the container ships no image corpora; the generator is seeded by
    // construction (Media.syntheticImage), so the PAIR STRUCTURE is the
    // oracle: ids pair iff they share a pattern (id % 16), which plain SQL
    // can state without decoding anything. MediaSpec pins the distance
    // margins (within-pattern <= 3 bits, cross-pattern far) that make the
    // equivalence hold.
    "q192_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val entries = s.range(64).as[Long].map { k =>
        val fmt = if ((k / 16) % 2 == 0) "png" else "jpg"
        Media.ZipEntryRow("synth", f"img_$k%03d.$fmt",
          Media.syntheticImage((k % 16).toInt, fmt))
      }
      val hashes = Media.imageDHashes(entries)
        .select(regexp_extract(col("entry"), "img_(\\d+)", 1)
          .cast("long").as("img_id"), col("dhash"))
      Dedup.hammingNearDupPairs64(hashes, "img_id", "dhash", maxHamming = 3)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    // AUDIO near-dup dedup end-to-end — q192's construction on the third
    // modality: 64 deterministic synthetic recordings (16 patterns x 4
    // renderings at different sample rates AND gains — the two edits a
    // re-encoded copy actually has) -> WAV decode + energy-contour hash
    // (Sound.audioAudit: bytes never shuffle) -> the SAME Manku-banded
    // Hamming pair machinery. Near-dup structure is a pure function of the
    // id (renderings pair iff same pattern), so the check is a full hash
    // match; SoundSpec pins the rate/gain-invariance and cross-pattern
    // margins the equivalence rests on.
    "q194_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val renders = Seq((8000, 1.0), (16000, 1.0), (8000, 0.5), (11025, 0.8))
      val files = s.range(64).as[Long].map { k =>
        val (rate, gain) = renders((k / 16).toInt)
        (f"rec_$k%03d.wav", Sound.syntheticWav((k % 16).toInt, rate, gain))
      }.toDF("path", "content")
      val hashes = Sound.audioAudit(files)
        .select(regexp_extract(col("path"), "rec_(\\d+)", 1)
          .cast("long").as("rec_id"), col("ehash"))
      Dedup.hammingNearDupPairs64(hashes, "rec_id", "ehash", maxHamming = 3)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),

    // Fuzzy-dedup SCRUB: the transform twin of q65's cluster audit — keep
    // exactly one document (the smallest-id member) per MinHash-LSH
    // near-dup cluster and hand back the deduplicated corpus.
    "q108_fuzzy_scrub" -> ((s, dir) => {
      Dedup.fuzzyDedupKeepFirst(Tables.documents(s, dir), "doc_id", "text")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // Length-bucketed inference batching: sort by token count, cut into
    // 64-doc batches, report per-batch padding waste — the dynamic-
    // batching shape transformer serving uses (near-equal lengths per
    // batch collapse the n_rows x max_len padding cost).
    "q109_length_batching" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).as("n_tok"))
      Batching.paddedBatchStats(d, "doc_id", "n_tok", 64)
        .orderBy("batch_id")
    }),

    // Quality-aware fuzzy dedup: q108's clusters, but keep the LONGEST
    // member per near-dup cluster (ties by smallest id) — the canonical
    // selection production pipelines run. At sf0.01, 11 of 24 multi-member
    // clusters pick a different survivor than keep-first.
    "q110_fuzzy_keep_best" -> ((s, dir) => {
      Dedup.fuzzyDedupKeepBest(Tables.documents(s, dir), "doc_id", "text",
        col("n_chars"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // Intra-document repeated-line scrub on the lined corpus, salted by
    // appending each doc's first two lines (trailing repeated boilerplate
    // — the nav-bar/footer shape). Zero-shuffle: one codegen'd projection.
    "q111_line_dedup" -> ((s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      val salted = lined.select(col("doc_id"),
        concat_ws("\n", col("text"),
          concat_ws("\n", slice(split(col("text"), "\n", -1), 1, 2))).as("text"))
      Dedup.lineDedupInDoc(salted, "doc_id", "text").orderBy("doc_id")
    }),

    // Incremental ingest dedup: even-id docs are the already-ingested
    // corpus (fingerprint index); the new batch = odd docs (genuinely
    // new) + re-crawled copies of every 6th even doc (must drop: seen
    // fingerprint) + re-issued copies of every 10th odd doc (intra-batch
    // dup: keep-first retains the smaller original id). Survivors are
    // exactly the odd docs under their original ids.
    "q112_incremental_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val seen = Dedup.fingerprints(d.where(col("doc_id") % 2 === 0), "text")
      val batch = d.where(col("doc_id") % 2 === 1)
        .unionByName(d.where(col("doc_id") % 6 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
        .unionByName(d.where(col("doc_id") % 10 === 1)
          .withColumn("doc_id", col("doc_id") + 2000000L))
      Dedup.incrementalDedupKeepFirst(batch, "doc_id", "text", seen)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // CCNet-style perplexity bucketing: char-LM score per doc, then split
    // each language into head/middle/tail terciles by score (bucket 1 =
    // best-scoring third — the slice CCNet keeps for pretraining). Exact
    // ntile is the oracle-able report form; at extreme scale swap the
    // per-lang window for q71-style GK-sketch score thresholds (fit
    // boundaries, broadcast, bucket by compare — the q68/q71 twin
    // precedent) since an exact tercile needs a per-lang sort.
    "q113_ppl_buckets" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val scored = TextAnalysis.charTrigramLogProb(d, "doc_id", "text")
        .join(d.select("doc_id", "lang"), "doc_id")
      val w = Window.partitionBy("lang").orderBy(col("avg_logp").desc, col("doc_id"))
      scored.withColumn("bucket", ntile(3).over(w).cast("long"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(min("avg_logp"), 6).as("min_logp"),
          round(max("avg_logp"), 6).as("max_logp"),
          min("doc_id").as("first_doc"))
        .orderBy("lang", "bucket")
    }),

    // Target-weight mixture: resample documents to a SPECIFIED 50/25/25
    // en/de/zh mix (fr/es dropped), never duplicating rows — the
    // bottleneck language keeps 100% (rate pinned at 1e6 ppm) and the
    // rest downsample to the largest total the mix allows. Weights are
    // binary-exact and pre-normalized so oracle arithmetic is identical.
    "q107_mixture_weights" -> ((s, dir) => {
      Stats.mixtureResampleToWeights(Tables.documents(s, dir), col("lang"),
        col("text"), Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.25))
        .groupBy("lang")
        .agg(max("keep_ppm").as("keep_ppm"), count(lit(1)).as("n_kept"),
          min("doc_id").as("first_doc"))
        .orderBy("lang")
    }),

    // HTML extraction: the lined corpus re-wrapped as a real page (one
    // <p> per line plus an entity-laden footer — including the
    // double-escape &amp;amp; that must decode to the literal "&amp;"),
    // then markup-stripped. Zero-shuffle codegen'd regexp chain.
    "q114_markup_strip" -> ((s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      val html = lined.select(col("doc_id"),
        concat(lit("<html><body><p>"),
          regexp_replace(col("text"), "\n", "</p>\n<p>"),
          lit("</p><p>Tom&#39;s page &amp;amp; &lt;tags&gt;&nbsp;&quot;quoted&quot;</p></body></html>"))
          .as("text"))
      TextAnalysis.markupStrip(html, "doc_id", "text").orderBy("doc_id")
    }),

    // Encoding-quality gate: every 7th doc corrupted with a control char,
    // a U+FFFD replacement char and a non-ASCII letter (the mojibake
    // signature of a mis-decoded byte stream); charClassStats must count
    // each class and fail exactly those docs' keep verdict.
    "q115_char_quality" -> ((s, dir) => {
      val corrupted = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit("\u0001\uFFFD\u00E9"))).otherwise(col("text"))
          .as("text"))
      TextAnalysis.charClassStats(corrupted, "doc_id", "text").orderBy("doc_id")
    }),

    // Boilerplate-line scrub: lines of the lined corpus appearing in >2
    // distinct documents are nav/footer-class boilerplate — every
    // occurrence deleted (no canonical survivor, unlike q105's span
    // scrub). DF aggregates over int64 line hashes only.
    "q116_boilerplate_scrub" -> ((s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      Dedup.boilerplateLineScrub(lined, "doc_id", "text", maxDocFreq = 2)
        .orderBy("doc_id")
    }),

    // ExactSubstr dedup (Lee et al. 2021) at 10-token windows over the
    // RAW corpus text: every token covered by a non-canonical duplicated
    // window is deleted; overlapping windows merge via the covered-index
    // union (969 duplicated 10-token windows exist at sf0.01).
    "q117_token_span_scrub" -> ((s, dir) => {
      Dedup.tokenSpanScrub(Tables.documents(s, dir), "doc_id", "text", 10)
        .orderBy("doc_id")
    }),

    // RAG chunking: 32-token chunks with 8-token overlap (stride 24) on
    // the fixed arithmetic grid — 128-token docs emit 5 chunks, the last
    // truncated at the document end. Zero-shuffle explode.
    "q118_rag_chunks" -> ((s, dir) => {
      TextAnalysis.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_id")
    }),

    // Multilingual alpha-sampling at temperature 0.3 (the mT5 default):
    // dominant langs downsample toward uniform, low-resource langs keep
    // everything. Same per-lang audit shape as q107.
    "q119_temperature_mix" -> ((s, dir) => {
      Stats.mixtureResampleTemperature(Tables.documents(s, dir), col("lang"),
        col("text"), alpha = 0.3)
        .groupBy("lang")
        .agg(max("keep_ppm").as("keep_ppm"), count(lit(1)).as("n_kept"),
          min("doc_id").as("first_doc"))
        .orderBy("lang")
    }),

    // Budget-capped selection: best-quality docs first (q31's score, ties
    // by doc_id) until a 15k-token budget fills. Exact greedy prefix via
    // the distributed two-phase prefix sum — no single-partition window.
    "q120_token_budget" -> ((s, dir) => {
      val t = col("text")
      val d = Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(t).as("quality"))
      Stats.selectByBudget(d, Seq(col("quality").desc, col("doc_id").asc),
        "n_tokens", budget = 15000L, out = "cum_tokens")
        .orderBy("doc_id")
    }),

    // tau-VERIFIED fuzzy scrub: q108's pipeline with the estimated-Jaccard
    // >= 0.8 gate between LSH banding and CC. At corpus scale a 4-slot band
    // key WILL collide for dissimilar documents, and an unverified edge
    // merges unrelated dup families into one cluster (silently deleting
    // live docs); the gate re-reads only the int64 signatures already on
    // the candidate pair — no text, the verify arm stays fixed-width.
    "q121_fuzzy_scrub_tau" -> ((s, dir) => {
      Dedup.fuzzyDedupKeepFirst(Tables.documents(s, dir), "doc_id", "text",
        tau = Some(0.8))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // TWO-GENERATION incremental dedup — the production contract across
    // ingest waves: %3==0 docs are the initial corpus (index gen 0); wave 1
    // = %3==1 docs + re-crawls of %9==0 (drop: gen-0 fingerprint); the
    // index then GROWS by wave 1's survivors; wave 2 = %3==2 docs +
    // re-crawls of %9==4 content (in the index ONLY via wave-1 growth —
    // the second-generation drop q112 never exercised) + re-crawls of
    // %9==0 again (gen-0 fingerprints still held). Output: survivors of
    // both waves, wave-tagged.
    "q122_incremental_two_waves" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val seen0 = Dedup.fingerprints(d.where(col("doc_id") % 3 === 0), "text")
      val wave1 = d.where(col("doc_id") % 3 === 1)
        .unionByName(d.where(col("doc_id") % 9 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      // detached: s1 feeds BOTH the output union and the grown index —
      // without severing, the wave-1 anti-join subtree plans twice
      val s1 = Relational.detach(
        Dedup.incrementalDedupKeepFirst(wave1, "doc_id", "text", seen0))
      val seen1 = Dedup.growFingerprints(seen0, s1, "text")
      val wave2 = d.where(col("doc_id") % 3 === 2)
        .unionByName(d.where(col("doc_id") % 9 === 4)
          .withColumn("doc_id", col("doc_id") + 3000000L))
        .unionByName(d.where(col("doc_id") % 9 === 0)
          .withColumn("doc_id", col("doc_id") + 4000000L))
      val s2 = Dedup.incrementalDedupKeepFirst(wave2, "doc_id", "text", seen1)
      s1.select(lit(1L).as("wave"), col("doc_id"), col("lang"), col("n_chars"))
        .unionByName(
          s2.select(lit(2L).as("wave"), col("doc_id"), col("lang"), col("n_chars")))
        .orderBy("wave", "doc_id")
    }),

    // URL-level dedup audit — the first dedup stage of web pipelines
    // (RefinedWeb exact-URL pass): synthesized crawl URLs carrying the
    // classic variant noise (scheme case, www., trailing slash, utm
    // params, fragments) collapse to one canonical form; report each
    // canonical URL's variant count and its keep-first survivor.
    "q123_url_dedup" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.canonicalizeUrl(crawlUrl).as("url_canon"))
        .groupBy("url_canon")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("kept_doc"))
        .orderBy("url_canon")
    }),

    // Domain-level curation (C4 badlist / RefinedWeb per-domain stage):
    // per-host doc counts, exact-fingerprint dup fraction, and a keep
    // verdict (not blocklisted AND dup_frac <= 0.5) over the synthesized
    // crawl URLs. Hosts, not documents, are the curation unit here.
    "q125_host_stats" -> ((s, dir) => {
      TextAnalysis.hostQualityStats(
        Tables.documents(s, dir).withColumn("url", crawlUrl),
        "url", "text",
        blocklist = Seq("src0.example.com"), maxDupFrac = 0.5)
        .orderBy("host")
    }),

    // SimHash Hamming-ball near-dup pairs (Manku banding): candidates from
    // 4 equi-joins on 4-bit fingerprint blocks (pigeonhole covers hamming
    // <= 1 exactly — never all-pairs), then the exact bit_count verify.
    "q124_simhash_neardup" -> ((s, dir) => {
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 1)
        .orderBy("id_a", "id_b")
    }),

    // Corpus snapshot diff (corpus versioning): old = %4 in {0,1,2}, new
    // = %4 in {1,2,3} with %4==1 re-rendered — so 0->removed, 1->changed,
    // 2->unchanged, 3->added. Only added+changed re-enter the expensive
    // clean/dedup/embed stages; removed ids evict from indexes.
    "q126_corpus_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val oldGen = d.where(col("doc_id") % 4 =!= 3)
      val newGen = d.where(col("doc_id") % 4 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 4 === 1, concat(col("text"), lit(" updated")))
            .otherwise(col("text")))
      Dedup.corpusDiff(oldGen, newGen, "doc_id", "text")
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_id"))
        .orderBy("status")
    }),

    // Normalized exact dedup: every 6th doc re-enters as a SHOUTING
    // re-render (upper-case + '!!!' + doubled spaces). Raw fingerprints
    // miss these; dedup on the normalized form collapses them — survivors
    // are exactly the original corpus. The Dolma/RefinedWeb pre-dedup
    // normalization demonstrated end-to-end.
    "q127_normalized_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val shouting = d.where(col("doc_id") % 6 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(upper(col("text")), lit("!!!  ")))
      val corpus = d.unionByName(shouting)
        .withColumn("_norm", TextAnalysis.normalizeForDedup(col("text")))
      Dedup.dedupKeepFirst(corpus, Seq("_norm"), Seq("doc_id"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // Shingle containment (quote/excerpt detection): every 8th doc spawns
    // a 12-token excerpt at the adjacent id; containment flags it at 1.0
    // where Jaccard (~10/|full|) never would. Asymmetric near-dup — the
    // report symmetric dedup is blind to.
    "q128_containment" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val base = d.select((col("doc_id") * 10).as("doc_id"), col("text"))
      val quotes = d.where(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 10 + 1).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 12)).as("text"))
      Dedup.containmentWithinGap(base.unionByName(quotes), "doc_id", "text", 1L)
        .where(col("cont_a_in_b") >= 0.9 || col("cont_b_in_a") >= 0.9)
        .orderBy("id_a", "id_b")
    }),

    // Per-language Zipf fit — the corpus-health metric (natural language
    // sits near slope -1; template/boilerplate corpora flatten, spam
    // steepens): token frequencies ranked within language, then
    // log-log least squares via one-pass regr_slope/regr_r2. The rank
    // window partitions by lang over the DISTINCT token set — bounded by
    // |vocabulary| like the E1 label-code window, never corpus-sized.
    "q129_zipf_slope" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      val freq = tok.groupBy("lang", "tok").agg(count(lit(1)).as("freq"))
      val ranked = freq.withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(col("freq").desc, col("tok"))))
      ranked.groupBy("lang").agg(
        count(lit(1)).as("n_types"),
        round(expr("regr_slope(ln(freq), ln(rank))"), 6).as("zipf_slope"),
        round(expr("regr_r2(ln(freq), ln(rank))"), 6).as("fit_r2"))
        .orderBy("lang")
    }),

    // Model-based quality filter (the FineWeb-Edu/DCLM stage): seed junk
    // docs (repeated gibberish + a 40-char real-text tail), fit a linear
    // probe on the even-id half (label: junk=0, clean=1) over the three
    // oracled heuristic features, then score + threshold the WHOLE
    // corpus. The closed-form OLS fit is engine-reproducible — weights
    // snap to the 1e-6 grid before scoring, so the LEARNED filter is
    // hash-checked end-to-end, not just its input features.
    "q130_quality_probe" -> ((s, dir) =>
      probeScored(s, dir)
        .select("doc_id", "stop_frac", "dup_word_frac", "lm_logp", "score", "keep")
        .orderBy("doc_id")),

    // Word-bigram stupid-backoff LM (the KenLM-class tier above q99's
    // char model), CCNet-shaped: fit bigram/unigram tables on the even-id
    // REFERENCE slice, score every document — odd docs exercise the
    // backoff arm with genuinely unseen bigrams, and backoff_frac is the
    // out-of-domain signal.
    "q131_word_lm" -> ((s, dir) => {
      TextAnalysis.wordBigramLogProb(Tables.documents(s, dir), "doc_id", "text",
        fitPred = col("doc_id") % 2 === 0)
        .orderBy("doc_id")
    }),

    // Near-dup-aware corpus diff: q126's versioning primitive with the
    // `changed` class split by simhash distance — %4==1 docs get a
    // trivial re-render (one appended token), %4==2 a from-scratch
    // rewrite. Only added+rewritten re-enter the expensive stages;
    // re-rendered ids just refresh stored text. Per-doc statuses (not
    // just counts) so every doc's hamming classification is hash-checked.
    "q132_neardiff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val oldGen = d.where(col("doc_id") % 4 =!= 3)
      val newGen = d.where(col("doc_id") % 4 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 4 === 1, concat(col("text"), lit(" updated")))
            .when(col("doc_id") % 4 === 2,
              concat(lit("totally different content about "),
                col("doc_id").cast("string"),
                lit(" rewritten from scratch with new vocabulary")))
            .otherwise(col("text")))
      Dedup.corpusDiff(oldGen, newGen, "doc_id", "text", nearHamming = Some(3))
        .orderBy("doc_id")
    }),

    // Incremental NEAR-dup dedup — the fuzzy twin of q112/q122's exact
    // incremental contract: %3==0 docs are the accepted corpus (persisted
    // LSH index); the wave = %3!=0 docs + near-dup re-crawls of indexed
    // content (%9==0, 3-token footer appended -> drop via the index) +
    // within-batch near-dup clones (%15==1, one-token variant ->
    // keep-first in the batch cluster). Survivors only; tau = 0.8 means
    // >= 13/16 signature slots agree (exact binary boundary).
    "q133_incremental_fuzzy" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val index = Dedup.lshIndex(d.where(col("doc_id") % 3 === 0), "doc_id", "text")
      val wave = d.where(col("doc_id") % 3 =!= 0)
        .unionByName(d.where(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" extra recrawl footer")).as("text")))
        .unionByName(d.where(col("doc_id") % 15 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" variant")).as("text")))
      Dedup.incrementalFuzzyDedupKeepFirst(wave, "doc_id", "text", index, tau = 0.8)
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // Per-language token-distribution drift between two corpus snapshots:
    // %4==1 docs in the new generation get a spam footer — the injected
    // mass shows up as nonzero KL/JS for every language while type counts
    // expose the new spam vocabulary. The release-gate health metric run
    // BEFORE any document-level filter.
    "q134_corpus_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "lang", "text")
      val newGen = d.withColumn("text",
        when(col("doc_id") % 4 === 1,
          concat(col("text"), lit(" buy cheap pills now click here")))
          .otherwise(col("text")))
      TextAnalysis.tokenDivergence(d, newGen, Seq("lang"), "text")
        .orderBy("lang")
    }),

    // BPE iteration 0: frequency-weighted adjacent char-pair counts — the
    // what-would-a-tokenizer-learn corpus profile; top pair = BPE's first
    // merge. Vocabulary-sized after the one corpus explode.
    "q135_bpe_pairs" -> ((s, dir) => {
      TextAnalysis.bpePairStats(Tables.documents(s, dir), "text", topK = 50)
        .orderBy(col("n").desc, col("pair").asc)
    }),

    // Full BPE merge-table training, 20 rounds — the Sennrich et al.
    // iterative fit (argmax pair -> greedy merge, repeat). Driver-loop
    // fit like the Lloyd queries: rows-only check; the merge recurrence
    // is pinned against the paper's worked example in TextAnalysisSpec.
    "q136_bpe_merges" -> ((s, dir) => {
      TextAnalysis.trainBpeMerges(Tables.documents(s, dir), "text", nMerges = 20)
        .orderBy("rank")
    }),

    // Probe evaluation on the HELD-OUT (odd-id) slice — the fit (q130)
    // used even ids only, so this is true out-of-sample AUC + confusion
    // metrics: the go/no-go gate before a fitted quality scorer is allowed
    // to filter a corpus. Junk docs (id >= 2M) are the negative class.
    "q137_probe_eval" -> ((s, dir) =>
      probeEvalFrom(probeScored(s, dir))),

    // DSIR data selection: English docs are the in-domain TARGET exemplar;
    // the non-English pool is importance-weighted by hashed-unigram
    // log p_target/p_pool and Gumbel-top-k resampled to a quarter of the
    // pool — the learn-what-to-keep counterpart of q84's fixed-rate mixture.
    "q138_dsir_select" -> ((s, dir) => {
      Stats.dsirSelect(Tables.documents(s, dir), "doc_id", "text",
          targetPred = col("lang") === "en")
        .orderBy("doc_id")
    }),

    // Fuzzy decontamination: the near-dup net behind q82's exact n-gram
    // probe. Eval set = re-rendered copies of %7==3 docs (3-token footer —
    // est-Jaccard above tau, the leak exact matching misses) + genuinely
    // fresh benchmark items from %11==5 ids (must NOT flag). Flagged train
    // docs with hit counts and the max estimated Jaccard.
    "q139_neardup_decontam" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val evalSet = d.where(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" eval suite footer")).as("text"))
        .unionByName(d.where(col("doc_id") % 11 === 5)
          .select((col("doc_id") + 4000000L).as("doc_id"),
            concat(lit("benchmark question about topic "),
              col("doc_id").cast("string"),
              lit(" with entirely fresh phrasing")).as("text")))
      Dedup.nearContaminationHits(d, evalSet, "doc_id", "text", tau = 0.8)
        .orderBy("doc_id")
    }),

    // Tokenizer APPLY — q136's downstream stage: a FIXED merge table
    // (corpus-derived, in training order) encoded over every document.
    // Per doc: word count, subtoken count, fertility (subtokens/word) —
    // the does-this-tokenizer-fit-this-corpus diagnostic. The table is
    // passed as data, keeping the apply stage oracle-expressible where
    // the iterative training fit (q136) is rows-only.
    "q140_bpe_encode" -> ((s, dir) => {
      TextAnalysis.bpeEncodeStats(Tables.documents(s, dir), "doc_id", "text",
          BpeApplyMerges)
        .orderBy("doc_id")
    }),

    // Corpus-wide paragraph-level dedup SCRUB (the Dolma/RefinedWeb
    // paragraph stage): every blank-line-delimited paragraph occurring
    // more than once corpus-wide is deleted from all but its canonical
    // (min (id, pos)) occurrence; docs rebuild from survivors. The
    // granularity between q116's frequency-thresholded line scrub and
    // q21's whole-document keep-first.
    "q141_paragraph_scrub" -> ((s, dir) => {
      val pared = synthesizeParagraphs(Tables.documents(s, dir))
      Dedup.paragraphScrub(pared, "doc_id", "text").orderBy("doc_id")
    }),

    // Deterministic training-shard plan: seed-keyed hash shard + an
    // independent seeded within-shard shuffle rank — the materialize-the-
    // corpus slot map every training run replays byte-identically. Crawl
    // (id) order never survives into a shard.
    "q142_shard_plan" -> ((s, dir) => {
      Batching.shardPlan(Tables.documents(s, dir), "doc_id", "text",
          nShards = 8, seed = 42L)
        .orderBy("doc_id")
    }),

    // End-to-end curation FUNNEL datasheet — the RefinedWeb/Dolma release
    // report: the corpus through URL dedup (q123) -> normalized exact
    // dedup (q127) -> Gopher quality (q87) -> eval-set decontamination
    // (q82), each stage over the PREVIOUS stage's survivors (ordering
    // changes keep-first canonicals, so composition is load-bearing),
    // rolled up per language with after-stage doc counts and surviving
    // token volume — the numbers every dataset card publishes. Stage
    // keys here are the oracle-parity canonical strings; production runs
    // the same chain on urlDedupKeepFirst/fingerprints(wide = true).
    "q143_curation_funnel" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("url", crawlUrl)
      val s1 = Dedup.dedupKeepFirst(
        d.withColumn("_canon", TextAnalysis.canonicalizeUrl(col("url"))),
        Seq("_canon"), Seq("doc_id")).drop("_canon")
      val s2 = Dedup.dedupKeepFirst(
        s1.withColumn("_norm", TextAnalysis.normalizeForDedup(col("text"))),
        Seq("_norm"), Seq("doc_id")).drop("_norm")
      val s3 = s2.join(
        TextAnalysis.gopherQualityFlags(s2, "doc_id", "text")
          .where(col("keep")).select("doc_id"), Seq("doc_id"))
      val hits = TextAnalysis.contaminationHits(d, "doc_id", "text",
        col("source") === "src0", n = 5)
      val s4 = s3.where(col("source") =!= "src0")
        .join(hits.select("doc_id"), Seq("doc_id"), "left_anti")
      def flag(sv: DataFrame, name: String) =
        sv.select(col("doc_id"), lit(true).as(name))
      d.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("_nt"))
        .join(flag(s1, "_f1"), Seq("doc_id"), "left")
        .join(flag(s2, "_f2"), Seq("doc_id"), "left")
        .join(flag(s3, "_f3"), Seq("doc_id"), "left")
        .join(flag(s4, "_f4"), Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_raw"),
          count(col("_f1")).as("n_after_url"),
          count(col("_f2")).as("n_after_dedup"),
          count(col("_f3")).as("n_after_quality"),
          count(col("_f4")).as("n_final"),
          coalesce(sum(when(col("_f4"), col("_nt"))), lit(0L)).as("n_tokens_final"))
        .orderBy("lang")
    }),

    // Winnowed (MOSS) match pairs: per-window min-hash selection samples
    // gram fingerprints at density ~2/(w+1) while GUARANTEEING any
    // shared run of >= w+k-1 tokens still pairs — the index-size lever
    // over q22's full gram inventory. Pairs with >= 2 shared prints.
    "q144_winnow_pairs" -> ((s, dir) => {
      Dedup.winnowedMatchPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 3, w = 4, minShared = 2)
        .orderBy("id_a", "id_b")
    }),

    // C4 badword filter: whole-token case-insensitive blocklist hits +
    // the drop-on-any-hit verdict (Raffel et al. 2020 §2.2). Blocklist
    // drawn from the corpus vocabulary (plus one absent word) so both
    // verdicts are exercised.
    "q145_badwords" -> ((s, dir) => {
      TextAnalysis.badwordFilter(Tables.documents(s, dir), "doc_id", "text",
          badwords = Seq("batch", "stream", "forbidden"))
        .orderBy("doc_id")
    }),

    // Cluster-quality report for the ANN family: centroid-based
    // silhouette (the O(n*k) production form — full silhouette is O(n^2))
    // over q28's centroid convention (vec_id < 8), cosine distance.
    "q146_silhouette" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.centroidSilhouette(emb, emb.where(col("vec_id") < 8))
        .orderBy("cell_id")
    }),

    // Hard-negative mining (DPR/Contriever): per probe, the top-5 most-
    // similar vectors of a DIFFERENT label — contrastive training's
    // gradient-dense negatives. q27's probe set; brute tier (q28's IVF
    // candidates are the scale swap, per the operator scaladoc).
    "q147_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rank")
    }),

    // k-NN label-noise detection: majority label disagreement among the
    // 5 nearest cell-local neighbors flags likely mislabeled vectors —
    // the dataset-QA gate before a labeled set trains anything. Cell-
    // bounded candidates (q28's assignment), never all-pairs.
    "q148_label_noise" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnLabelNoise(emb, emb.where(col("vec_id") < 8), 5)
        .orderBy("probe_id")
    }),

    // Unicode NFC audit: seed decomposed sequences (e + combining acute,
    // u + combining diaeresis) into %3==0 docs, then report which docs
    // the canonical composition actually changes and the code-point
    // shrink — the defensive pre-pass every exact-dedup/tokenize stage
    // needs (decomposed vs precomposed text silently splits fingerprints).
    "q149_nfc_audit" -> ((s, dir) => {
      import graft.functions.GraftFunctions.nfc_normalize
      // combining marks as explicit escapes (e+U+0301, u+U+0308): the
      // oracle seeds chr(769)/chr(776) DECOMPOSED — a raw "caf\u00e9"-looking
      // literal would be silently NFC'd by an editor/formatter/git filter
      val raw = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" cafe\u0301 u\u0308"))
          .otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), raw.as("_raw"), nfc_normalize(raw).as("_nfc"))
        .select(col("doc_id"),
          (col("_raw") =!= col("_nfc")).as("changed"),
          length(col("_raw")).cast("long").as("len_raw"),
          length(col("_nfc")).cast("long").as("len_nfc"))
        .orderBy("doc_id")
    }),

    // Character-entropy filter: near-zero entropy = repeated-char junk
    // that word-level Gopher checks can miss; implausibly high = binary
    // noise posing as text. The bracket verdicts on the rounded value.
    "q150_char_entropy" -> ((s, dir) => {
      TextAnalysis.charEntropy(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // SOFT dedup (data-constrained training): %4==0 docs get a re-crawl
    // clone; every copy stays but carries weight 1/n_copies, so a
    // weighted sampler sees each distinct text with equal total mass.
    // The one-pass twin of q21's hard keep-first.
    "q151_soft_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = d.unionByName(d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.softDedupWeights(corpus, "doc_id", "text").orderBy("doc_id")
    }),

    // Card-number PII with Luhn validation: %6==0 docs carry a VALID test
    // card (must flag), %6==3 an off-by-one INVALID number (candidate but
    // never PII) — the checksum is what separates card PII from order ids.
    "q152_card_pii" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 6 === 0, lit(" card 4532015112830366 on file"))
            .when(col("doc_id") % 6 === 3, lit(" card 4532015112830367 on file"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.cardNumberPii(seeded, "doc_id", "text").orderBy("doc_id")
    }),

    // Filter-interaction matrix (the ablation table curation reports
    // publish): every (gopher, repetition, entropy) verdict combination
    // with its population — shows which filters overlap and which kill
    // uniquely, i.e. whether a filter earns its compute.
    "q153_filter_matrix" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val gq = TextAnalysis.gopherQualityFlags(d, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("g_keep"))
      val rep = TextAnalysis.repetitionStats(d, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("r_keep"))
      val ent = TextAnalysis.charEntropy(d, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("e_keep"))
      d.select("doc_id").join(gq, "doc_id").join(rep, "doc_id")
        .join(ent, "doc_id")
        .groupBy("g_keep", "r_keep", "e_keep")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .orderBy("g_keep", "r_keep", "e_keep")
    }),

    // SFT role-protocol validation: system-then-strict-user/assistant
    // alternation, no empty turns. %11==0 convs are seeded assistant-
    // first (protocol breach), %13==5 get an empty turn — both must
    // fail their specific flag; one bad role corrupts loss masking.
    "q154_chat_validate" -> ((s, dir) => {
      Chat.validateTurns(synthesizeTurns(Tables.documents(s, dir)),
          "conv_id", "turn_idx", "role", "content")
        .orderBy("conv_id")
    }),

    // SFT flatten: role-tagged training text trimmed to the system turn
    // + LAST 4 turns (the context-budget policy — recent turns carry the
    // signal, the system prompt never drops).
    "q155_chat_flatten" -> ((s, dir) => {
      Chat.flattenChat(synthesizeTurns(Tables.documents(s, dir)),
          "conv_id", "turn_idx", "role", "content", keepLastTurns = Some(4))
        .orderBy("conv_id")
    }),

    // SFT loss masks: [start, end) char spans of every assistant turn in
    // q155's flattened text — what the loss actually trains on. Same
    // keepLastTurns=4 policy; ChatSpec pins substring identity.
    "q156_chat_spans" -> ((s, dir) => {
      Chat.assistantSpans(synthesizeTurns(Tables.documents(s, dir)),
          "conv_id", "turn_idx", "role", "content", keepLastTurns = Some(4))
        .orderBy("conv_id", "span_idx")
    }),

    // ICT retrieval pairs (ORQA recipe): a hash-seeded line becomes the
    // pseudo-query, the remaining lines its positive context — the self-
    // supervised pair generator dense retrievers pretrain on. Runs over
    // the line-synthesized corpus; deterministic at seed 77.
    "q157_ict_pairs" -> ((s, dir) => {
      TextAnalysis.ictPairs(
          synthesizeLines(Tables.documents(s, dir), withPunct = false),
          "doc_id", "text", seed = 77L)
        .orderBy("doc_id")
    }),

    // Probe calibration curve (q137's other half: AUC says the scorer
    // RANKS; calibration says the scores MEAN something): equal-width
    // clamped-score deciles vs observed clean rate on the held-out slice.
    "q158_probe_calibration" -> ((s, dir) =>
      probeCalibrationFrom(probeScored(s, dir))),

    // RLHF preference-pair audit: chosen = the doc, rejected = its
    // truncated-and-spammed variant; %17==0 pairs are seeded IDENTICAL
    // (zero-gradient, must be unusable). chosen_longer rate exposes the
    // verbosity bias a reward model would learn instead of quality.
    "q159_pref_audit" -> ((s, dir) => {
      val pairs = Tables.documents(s, dir).select(col("doc_id"),
        col("text").as("chosen"),
        when(col("doc_id") % 17 === 0, col("text"))
          .otherwise(concat(substring(col("text"), 1, 60),
            lit(" buy cheap pills now"))).as("rejected"))
      Chat.preferenceAudit(pairs, "doc_id", "chosen", "rejected")
        .orderBy("doc_id")
    }),

    // Matryoshka truncation recall: top-5 overlap between the full 64-d
    // index and a 16-d prefix index (4x smaller) — the keep-or-re-embed
    // decision metric. q27's probe set.
    "q160_mrl_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.truncatedRecall(emb, emb.where(col("vec_id") < 10),
          k = 5, dims = 16)
        .orderBy("probe_id")
    }),

    // Reciprocal-rank fusion of the full-width brute arm and the cheap
    // 16-d truncated arm — rank-only ensembling, no score calibration.
    "q161_rrf_fuse" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 10)
      val full = Similarity.bruteForceTopK(emb, probes, 5)
      val sliced = (df: DataFrame) =>
        df.withColumn("embedding", slice(col("embedding"), 1, 16))
      val cheap = Similarity.bruteForceTopK(sliced(emb), sliced(probes), 5)
      Similarity.rrfFuse(full, cheap, k = 5)
        .orderBy("probe_id", "rank")
    }),

    // Flesch reading ease over the sentence-synthesized corpus (lines
    // rejoined as '. '-terminated sentences): 206.835 − 1.015·(W/S) −
    // 84.6·(Syl/W), syllables = vowel-group runs (min 1/word) — the
    // classic readability score quality pipelines report per source.
    "q162_readability" -> ((s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      val t2 = concat(replace(col("text"), lit("\n"), lit(". ")), lit("."))
      val d = lined.select(col("doc_id"), t2.as("_t2"),
        TextAnalysis.wordTokens(t2).as("_w"))
      val nw = size(col("_w")).cast("long")
      val ns = size(filter(split(col("_t2"), "\\."), x => trim(x) =!= ""))
        .cast("long")
      val syl = aggregate(col("_w"), lit(0L), (acc, w) =>
        acc + greatest(lit(1),
          size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))))
          .cast("long"))
      d.select(col("doc_id"), ns.as("n_sentences"), nw.as("n_words"),
          syl.as("n_syllables"))
        .withColumn("flesch", round(
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")), 6))
        .orderBy("doc_id")
    }),

    // IVF recall vs exact ground truth: the contract metric behind the
    // approximate tiers, measured as a QUERY on q28's exact setup (8
    // cells, probes 10..20, k=3) instead of only a spec assert.
    "q164_ivf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") >= 10 && col("vec_id") < 20)
      val truth = Similarity.bruteForceTopK(emb, probes, 3)
      val approx = Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8),
        probes, 3)
      Similarity.rankingRecall(truth, approx, 3).orderBy("probe_id")
    }),

    // Embedding ingest audit: %97==0 vectors zeroed, %89==3 poisoned
    // with a NaN — per label: defect counts + healthy-norm stats, the
    // QA gate before a vector batch reaches any ANN tier.
    "q165_embedding_audit" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val seeded = emb.withColumn("embedding",
        when(col("vec_id") % 97 === 0,
          array_repeat(lit(0.0f), 64))
          .when(col("vec_id") % 89 === 3,
            concat(array(lit(Float.NaN)), slice(col("embedding"), 2, 63)))
          .otherwise(col("embedding")))
      Similarity.embeddingAudit(seeded).orderBy("grp")
    }),

    // Language-ID confusion matrix: q30's marker classifier rolled up
    // against the true lang label — per (true, predicted) populations and
    // row fractions, the eval every lang-ID stage publishes.
    "q163_langid_confusion" -> ((s, dir) => {
      val markers = SparkEntry.langMarkers
      val langs = markers.keys.toSeq.sorted
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextAnalysis.tokens(col("text")).as("_tk"))
      val scored = TextAnalysis.languageScoresOver(col("_tk"), markers)
        .foldLeft(d) { case (df, (l, c)) => df.withColumn(s"score_$l", c) }
      scored.withColumn("predicted",
          TextAnalysis.languageIdFromScores(langs.map(l => l -> col(s"score_$l"))))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("row_frac", round(col("n_docs").cast("double") /
          sum("n_docs").over(Window.partitionBy("lang")), 6))
        .orderBy("lang", "predicted")
    }),

    // Main-content extraction (jusText/trafilatura-class boilerplate
    // removal — the stage between Warc payloads and EVERY text stage):
    // each doc rendered into a chrome-laden page (nav links, h1, even-id
    // share strip, link+copyright footer); the block classifier must keep
    // the body paragraph and drop the chrome stripMarkup would leak.
    "q166_main_content" -> ((s, dir) => {
      // 50‰ stopword bar: the synthetic corpus is keyword soup (median
      // stopword ratio 62‰ vs real prose's ~300‰), so the prose default
      // of 200‰ would blanket-drop every body; 50‰ splits the corpus
      // meaningfully, and the chrome still drops via link density/length
      TextAnalysis.extractMainContent(
        Tables.documents(s, dir).select(col("doc_id"), synthPage.as("_html")),
        "doc_id", "_html", minStopPerMille = 50)
        .orderBy("doc_id")
    }),

    // TRAINED language ID, evaluated exactly like the heuristic (q163):
    // trigram profiles fit on the even-id labeled slice of the
    // language-seeded corpus (langSeedSuffix — the raw synthetic text
    // carries no language signal at all), held-out odd-id confusion
    // matrix. TextAnalysisSpec pins that the trained diagonal strictly
    // dominates the q30 marker heuristic on this same corpus.
    "q167_trained_langid" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir)
        .withColumn("text", concat(col("text"), langSeedSuffix))
      TextAnalysis.trigramLangId(seeded, "doc_id", "text",
          "lang", fitPred = col("doc_id") % 2 === 0)
        .where(col("doc_id") % 2 === 1)
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("row_frac", round(col("n_docs").cast("double") /
          sum("n_docs").over(Window.partitionBy("lang")), 6))
        .orderBy("lang", "predicted")
    }),

    // Margin-based bitext mining (CCMatrix/NLLB): even vecs play the
    // source language, odd vecs the target; each source's top-4 targets
    // are margin-scored (ratio margin = hubness-corrected cosine) and
    // gated at 1.02. Source probes capped at vec_id < 400 to bound the
    // oracle's cross join (q27's probe-set discipline).
    "q168_bitext_mine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.marginTranslationPairs(
          emb.where(col("vec_id") % 2 === 0 && col("vec_id") < 400),
          emb.where(col("vec_id") % 2 === 1),
          k = 4, tau = 1.02)
        .orderBy("src_id", "tgt_id")
    }),

    // Per-host quota cap (RefinedWeb/CCNet anti-concentration): at most
    // 25 docs per canonical host of the q123/q125 crawl-URL synthesis,
    // preferring longer documents (ties by id) — link farms stop
    // dominating the mixture by page count.
    "q169_host_quota" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("url", crawlUrl)
        .withColumn("score", length(col("text")).cast("long"))
      TextAnalysis.hostQuotaCap(d, "doc_id", "url", "score", quota = 25)
        .select(col("host"), col("rank"), col("doc_id"), col("score"))
        .orderBy("host", "rank")
    }),

    // Per-language adaptive quantile gate (CCNet/Dolma): each doc must
    // clear its OWN language's p25 of n_chars — keep RATE uniform across
    // languages where a global threshold would gut the slices whose
    // length distribution sits lower.
    "q170_lang_quantile_gate" -> ((s, dir) => {
      Quality.perGroupQuantileFilter(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("lang"), col("n_chars")),
          "n_chars", Seq("lang"), p = 0.25)
        .orderBy("doc_id")
    }),

    // NDCG@3 of the IVF arm against brute-force truth — q164's recall
    // with position discounts: an index that surfaces the right
    // neighbors out of order scores below one preserving the order.
    "q171_ivf_ndcg" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") >= 10 && col("vec_id") < 20)
      val truth = Similarity.bruteForceTopK(emb, probes, 3)
      val approx = Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8),
        probes, 3)
      Similarity.ndcgAtK(truth, approx, 3).orderBy("probe_id")
    }),

    // BM25 lexical retrieval: queries = first-4-token prefixes of docs
    // 0..9, top-5 per query over the corpus — the lexical arm beside the
    // dense ANN stack (RRF fuses the two for hybrid retrieval).
    "q172_bm25" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val queries = d.where(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 4)).as("qtext"))
      TextAnalysis.bm25TopK(d, "doc_id", "text", queries, "query_id", "qtext",
          k = 5)
        .orderBy("query_id", "rank")
    }),

    // Compression-ratio gate (Gopher/DCLM zlib signal): %6==0 docs are
    // replaced by a repeated template phrase (the re-crawled boilerplate
    // page whose long-range repetition n-gram and entropy filters
    // under-detect) and must fall below the bracket. DEFLATE bytes are
    // zlib-version-dependent -> rows-only check; the ordering contract
    // is pinned in FunctionsSpec.
    "q173_compression_gate" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          expr("repeat('all work and no play makes jack a dull boy ', 30)"))
          .otherwise(col("text")).as("text"))
      TextAnalysis.compressionQuality(seeded, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // q173's exact twin: the BOILERPLATE-FLOOR verdict alone is a pure
    // function of the doc id on this corpus — repeated-template docs
    // compress ~20x (ratio 0.047) while the most compressible natural doc
    // sits near 0.38, an 8x margin on BOTH sides of the 0.1 floor, so the
    // below-floor bit is robust to any conforming DEFLATE implementation
    // even though the byte counts themselves are zlib-version-dependent
    // (why q173 stays rows-only). This makes the gate's core detection
    // signal — the re-crawled-boilerplate catch — hash-checked against a
    // DuckDB oracle that never decompresses anything.
    "q193_compression_floor" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          expr("repeat('all work and no play makes jack a dull boy ', 30)"))
          .otherwise(col("text")).as("text"))
      TextAnalysis.compressionQuality(seeded, "doc_id", "text")
        .select(col("doc_id"), (col("deflate_ratio") < lit(0.1)).as("below_floor"))
        .orderBy("doc_id")
    }),

    // Weighted per-language sampling without replacement (A-ES): 20 docs
    // per language, longer docs proportionally more likely — the
    // "sample N per slice, quality-weighted" mixture primitive;
    // hash-deterministic and prefix-stable like every sampler here.
    "q174_weighted_sample" -> ((s, dir) => {
      Stats.weightedSamplePerGroup(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("lang"), col("text"), col("n_chars")),
          Seq("lang"), col("text"), "n_chars", k = 20, tieBreak = Seq("doc_id"))
        .select(col("lang"), col("sample_rank"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "sample_rank")
    }),

    // Heaps-law vocabulary-growth curve: cumulative tokens vs cumulative
    // distinct types in ingest order — "is more crawl still adding
    // vocabulary". Cumulatives ride the distributed prefix-sum, never a
    // single-partition window.
    "q175_vocab_growth" -> ((s, dir) => {
      TextAnalysis.vocabGrowthCurve(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Token-budget mixture plan (Llama/DoReMi-style): per-language
    // epochs/keep-rate to hit a 1M-token budget at the target mix, with
    // the >4-epoch repetition guardrail flagged per stratum.
    "q176_token_budget" -> ((s, dir) => {
      Stats.tokenBudgetPlan(Tables.documents(s, dir), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long"),
          Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.1, "es" -> 0.1, "fr" -> 0.1),
          budgetTokens = 1000000L)
        .orderBy("stratum")
    }),

    // Distinct-n diversity (synthetic-data QA): %3==0 docs play a
    // mode-collapsed generator (5 templates); its distinct-bigram ratio
    // must crater vs the human slice — the detector that fires long
    // before exact dedup sees a duplicate.
    "q177_distinct_ngrams" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, lit("synthetic"))
          .otherwise(lit("human")).as("src"),
        when(col("doc_id") % 3 === 0,
          concat(lit("as an ai model i think topic "),
            (col("doc_id") % 5).cast("string"),
            lit(" is interesting and worth discussing today")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.distinctNgramStats(d, col("src"), "doc_id", "text", n = 2)
        .orderBy("grp")
    }),

    // Cross-host template-farm detection: %7==0 docs are stamped with one
    // of 8 SEO templates (7 is coprime with the 20-host crawl, so each
    // template spans 5 hosts) and must flag, while every natural doc
    // stays host-unique and silent.
    "q178_template_farms" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir).withColumn("url", crawlUrl)
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(lit("Welcome to our site! Best deals on topic "),
              (col("doc_id") % 8).cast("string"),
              lit(" click here to learn more and subscribe")))
            .otherwise(col("text")))
      TextAnalysis.templateFarms(seeded, "doc_id", "url", "text", minHosts = 3)
        .orderBy("fp")
    }),

    // Padding-efficiency curve: waste fraction when batching within
    // 1/2/4/8/16/32 equi-depth length buckets, padded to bucket max —
    // the measured knee-picker for the trainer's bucket count, all
    // candidates served by ONE distributed row-index sort.
    "q179_padding_efficiency" -> ((s, dir) => {
      Batching.paddingEfficiency(Tables.documents(s, dir), "doc_id", "text",
          Seq(1, 2, 4, 8, 16, 32))
        .orderBy("n_buckets")
    }),

    // Fill-in-middle transform (code-pretraining augmentation): a
    // hash-selected half of the corpus re-emits in PSM sentinel order
    // with hash-seeded cut points — reproducible across engines and
    // retries like every sampler here.
    "q180_fim_transform" -> ((s, dir) => {
      TextAnalysis.fimTransform(Tables.documents(s, dir), "doc_id", "text",
          ratePct = 50)
        .orderBy("doc_id")
    }),

    // Special-token contamination audit: %9==0 docs get a literal
    // <|endoftext|> spliced in (%27==0 twice) — the tokenizer-safety /
    // prompt-injection gate; everything else must read clean.
    "q181_special_tokens" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 9 === 0,
          concat(lit("<|endoftext|> "), col("text"),
            when(col("doc_id") % 27 === 0, lit(" <|endoftext|>"))
              .otherwise(lit(""))))
          .otherwise(col("text")).as("text"))
      TextAnalysis.specialTokenAudit(seeded, "doc_id", "text",
          Seq("<|endoftext|>", "<fim_prefix>", "<|im_start|>"))
        .orderBy("doc_id")
    }),

    // PageRank over a synthesized doc link graph (two modular out-links
    // per doc; the %11==5 slice is dangling) — the crawl-authority
    // signal link-graph curation keys on, 3 power-iteration rounds.
    "q182_pagerank" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"))
      val n = d.count()
      val linkers = d.where(col("doc_id") % 11 =!= 5)
      val edges = linkers
        .select(col("doc_id").as("src"), ((col("doc_id") * 3 + 1) % n).as("dst"))
        .unionByName(linkers
          .select(col("doc_id").as("src"), ((col("doc_id") * 7 + 3) % n).as("dst")))
      // parallel-edge dedup happens inside pageRank (operator contract)
      Graph.pageRank(d.select(col("doc_id").as("id")), edges, iters = 3)
        .orderBy("id")
    }),

    // Second-moment fit over the embedding column via the native
    // matrix_gram kernel (ONE corpus pass, d(d+3)/2-double task buffers,
    // O(d^2) bytes to the driver) — surfaced as the upper-left 4x4 of
    // (mean, population covariance) so the kernel arithmetic is pinned
    // against DuckDB's covar_pop. The |cells|-row localization pattern:
    // the result frame is 10 fit rows, never corpus data.
    "q183_embedding_gram" -> ((s, dir) => {
      import s.implicits._
      val (n, mean, cov) = Decomp.fitMeanCov(Tables.embeddings(s, dir), "embedding")
      // + 0.0 normalizes -0.0 (a tiny-negative mean would otherwise hash
      // differently from DuckDB's 0.0 in the binary compare — q186's guard)
      (for (i <- 0 to 3; j <- i to 3) yield
        (i, j, n, math.rint(mean(i) * 1e6) / 1e6 + 0.0,
          math.rint(cov(i)(j) * 1e6) / 1e6 + 0.0))
        .toDF("i", "j", "n", "mean_i", "cov_ij")
        .orderBy("i", "j")
    }),

    // PCA spectrum of the embedding space (fit = q183's one pass +
    // driver-side cyclic Jacobi on the 64x64 covariance): eigenvalues,
    // variance ratios, and each component's dominant dimension — the
    // "is this encoder collapsed?" audit (a healthy space spreads
    // variance; 2-3 dominant eigenvalues = representation collapse).
    // Eigen output has no SQL form -> rows-only; DecompSpec pins the
    // decomposition (orthonormality, reconstruction, trace) and
    // determinism (fixed sweep order, sign-normalized components).
    "q184_pca_spectrum" -> ((s, dir) => {
      import s.implicits._
      val model = Decomp.fitPca(Tables.embeddings(s, dir), "embedding")
      val vr = model.varianceRatio
      (0 until 8).map { c =>
        val comp = model.components(c)
        val topDim = comp.indices.maxBy(k => (math.abs(comp(k)), -k))
        (c + 1, math.rint(model.eigenvalues(c) * 1e6) / 1e6,
          math.rint(vr(c) * 1e6) / 1e6, topDim,
          math.rint(comp(topDim) * 1e6) / 1e6)
      }.toDF("component", "eigenvalue", "var_ratio", "top_dim", "top_loading")
        .orderBy("component")
    }),

    // Mahalanobis outlier triage: squared distance through the fitted
    // eigenbasis (ridge-floored), top-20 — the distribution-aware rank
    // that q165's norm audit cannot produce (far-along-a-TIGHT-direction
    // scores high even at small L2 norm; DecompSpec plants exactly that
    // point and this ranking finds it). Fit is driver-side state from
    // ONE corpus pass; the score pass is a codegen'd nested
    // higher-order expression, zero shuffle, zero UDF. Rows-only (the
    // eigenbasis has no SQL form).
    "q185_mahalanobis" -> ((s, dir) => {
      Decomp.mahalanobis(Tables.embeddings(s, dir),
          "embedding", Decomp.fitPca(Tables.embeddings(s, dir), "embedding"))
        .select(col("vec_id"), round(col("maha2"), 4).as("maha2"))
        .orderBy(desc("maha2"), col("vec_id")).limit(20)
    }),

    // Whitening, self-certified by composition: whiten the embeddings
    // through the fitted basis (EigenProject kernel), then run the SAME
    // matrix_gram kernel over the whitened output — the 4x4 corner of
    // the whitened covariance must be the identity (diag 1, off-diag 0
    // at 4 dp) and the whitened mean must be 0. One query exercises both
    // new kernels back to back and certifies the algebra end to end.
    // Rows-only (the whitening basis has no SQL form).
    "q186_whiten_gram" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val model = Decomp.fitPca(emb, "embedding")
      val (n, wMean, wCov) =
        Decomp.fitMeanCov(Decomp.whiten(emb, "embedding", model, model.d),
          "embedding_w")
      (for (i <- 0 to 3; j <- i to 3) yield
        (i, j, n, math.rint(wMean(i) * 1e4) / 1e4 + 0.0,
          math.rint(wCov(i)(j) * 1e4) / 1e4 + 0.0))
        .toDF("i", "j", "n", "w_mean_i", "w_cov_ij")
        .orderBy("i", "j")
    }),

    // Multiclass linear probe (one-vs-rest ridge, λ=1e-3): the
    // quality-classifier fit of a curation pipeline, done in ONE Gram
    // pass over [embedding ; onehot(label)] (Decomp.fitRidgeProbes) and
    // scored through the fused EigenProject kernel. Self-certified by a
    // SECOND Gram pass over [embedding ; residuals]: the ridge normal
    // equations force Cov(x_j, y_c − ŷ_c) = λ·β_cj exactly, so grad_max
    // (the largest |Cov(x, r_c) − λβ_c| over dims) must print 0 at 4 dp
    // for every class — the optimality certificate, computed
    // distributedly. Per-class accuracy here is TRAIN accuracy (the
    // confusion diagonal, chance = 1/k) — q188's out-of-fold twin shows
    // this corpus's ~4x lift is pure memorization (OOF ≈ chance), which
    // is exactly why a pipeline runs BOTH: q187 certifies the fit,
    // q188 audits whether it generalizes.
    // Rows-only (the spectral solve has no SQL form); DecompSpec pins
    // the algebra on closed-form cases.
    "q187_linear_probe" -> ((s, dir) => {
      import s.implicits._
      val lambda = 1e-3
      val emb = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
      val k = emb.agg(max("label")).head.getInt(0) + 1 // scalar agg (A5 class)
      val oneHot = (0 until k).map(c => when(col("label") === c, 1.0).otherwise(0.0))
      val model = Decomp.fitRidgeProbes(emb, "embedding", oneHot, lambda)
      val scored = Decomp.probeScores(emb, "embedding", model)
        .withColumn("pred",
          expr("array_position(probe_scores, array_max(probe_scores))") - 1)
      val resid = scored.withColumn("_r",
        zip_with(array(oneHot: _*), col("probe_scores"), (y, sc) => y - sc))
      val (_, _, jcov) = Decomp.fitMeanCov(
        resid.select(concat(col("embedding").cast("array<double>"), col("_r"))
          .as("_xr")), "_xr")
      val d = model.d
      val gradMax = (0 until k).map(c =>
        (0 until d).map(j =>
          math.abs(jcov(j)(d + c) - lambda * model.weights(c)(j))).max)
      val fitDf = (0 until k).map(c =>
        (c, math.rint(model.r2(c) * 1e4) / 1e4 + 0.0,
          math.rint(gradMax(c) * 1e4) / 1e4 + 0.0))
        .toDF("class", "r2", "grad_max")
      scored.groupBy(col("label").cast("int").as("class"))
        .agg(count(lit(1)).as("n_class"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("correct"))
        .join(broadcast(fitDf), "class")
        .select(col("class"), col("n_class"), col("correct"),
          round(col("correct") / col("n_class"), 4).as("acc"),
          col("r2"), col("grad_max"))
        .orderBy("class")
    }),

    // One-pass k-fold cross-validated probe (q187's honest twin): fold
    // Grams are ADDITIVE, so all five leave-fold-out models come from a
    // single groupBy(fold).agg(matrix_gram) pass — full 5-fold CV costs
    // ONE fit pass + ONE scoring pass where the naive protocol pays 5
    // fit scans. Every row is scored by the model that NEVER saw its
    // fold (all folds' weights fused into one EigenProject call, the
    // row's fold sliced out), so per-fold accuracy here is the
    // OUT-OF-FOLD generalization estimate — the probe-overfitting audit
    // a curation pipeline runs before trusting probe-based filtering
    // (in-fold-only separation means the probe memorizes, not
    // measures). Rows-only (spectral solve); DecompSpec pins fold
    // additivity exactly and the overfit-detection contract.
    "q188_probe_cv" -> ((s, dir) => {
      import s.implicits._
      val nFolds = 5
      val emb = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
      val k = emb.agg(max("label")).head.getInt(0) + 1 // scalar agg (A5 class)
      val oneHot = (0 until k).map(c => when(col("label") === c, 1.0).otherwise(0.0))
      val fold = pmod(col("vec_id"), lit(nFolds))
      val models = Decomp.fitRidgeProbesPerFold(emb, "embedding", oneHot,
        fold, nFolds, lambda = 1e-3)
      val scored = Decomp.probeScoresByFold(emb, "embedding", fold, models)
        .withColumn("pred",
          expr("array_position(probe_scores, array_max(probe_scores))") - 1)
      val r2Df = models.zipWithIndex.map { case (m, f) =>
        (f, m.n, math.rint(m.r2.sum / m.r2.length * 1e4) / 1e4 + 0.0)
      }.toSeq.toDF("fold", "n_fit", "mean_r2")
      scored.groupBy(fold.cast("int").as("fold"))
        .agg(count(lit(1)).as("n_oof"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("correct"))
        .join(broadcast(r2Df), "fold")
        .select(col("fold"), col("n_oof"), col("n_fit"), col("correct"),
          round(col("correct") / col("n_oof"), 4).as("oof_acc"), col("mean_r2"))
        .orderBy("fold")
    }),

    // Unicode script profile + confusable-script (homoglyph) detection:
    // %7==0 docs get Cyrillic, %7==2 CJK, %7==6 Greek suffixes, and
    // %7==4 gets Latin words with EMBEDDED Cyrillic а/е — the
    // "pаypаl" homoglyph-spam shape that must flip confusable_mix while
    // the pure-script seeds must not. Counts are length-diffs over
    // literal BMP-range regex classes — identical arithmetic in DuckDB,
    // so the whole signal is oracle-paired (TextAnalysis.scriptProfile).
    "q189_script_mix" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" привет мир из Сети"))
            .when(col("doc_id") % 7 === 2, lit(" 你好世界网络文本"))
            .when(col("doc_id") % 7 === 4, lit(" pаypаl sеcurity аlert"))
            .when(col("doc_id") % 7 === 6, lit(" αβγ δοκιμή κείμενο"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.scriptProfile(seeded, "doc_id", "text").orderBy("doc_id")
    }),

    // k-anonymity / l-diversity audit (Stats.kAnonymity): equivalence
    // classes on the (nation, market-segment) quasi-identifiers with a
    // bucketed account balance as the sensitive attribute — classes
    // under k=10 members are linkage-re-identifiable, k-anonymous
    // classes with under l=3 distinct balances still leak via the
    // homogeneity attack. One class-keyed aggregate; fully
    // oracle-paired.
    "q190_k_anonymity" -> ((s, dir) => {
      Stats.kAnonymity(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"), k = 10, l = 3)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // Z-order (Morton) clustering key over (user_id, event time) — the
    // lake-maintenance layout pass (Clustering.zOrderWrite) that makes
    // 2-D box predicates (one user cohort in one time window) prune
    // files on BOTH dimensions. The query surfaces the key math the
    // layout rests on: equi-width int64 buckets (exact DIV arithmetic,
    // no float boundary — the oracle recomputes it verbatim) bit-
    // interleaved into zkey, aggregated per coarse z-cell (top 8 bits).
    // Each cell's tight (user, time) envelope IS the pruning claim;
    // ClusteringSpec measures it end-to-end on written files.
    "q195_zorder" -> ((s, dir) => {
      // ts is TIMESTAMP_NTZ; the session TZ is pinned UTC everywhere
      // (Bench/Verify/tests), so the cast-to-instant micros equal
      // DuckDB's epoch_us over the same naive value.
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      graft.sources.Clustering.withZKey(e, Seq("user_id", "ts_us"), bits = 8)
        .groupBy(shiftright(col("zkey"), 8).as("zcell"))
        .agg(count(lit(1)).as("n_events"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("ts_us").as("min_ts_us"), max("ts_us").as("max_ts_us"))
        .orderBy("zcell")
    }),

    // Unigram-LM tokenizer TRAINING (Kudo 2018, the SentencePiece fit) —
    // the probabilistic sibling of q136's BPE merges: over-complete
    // substring seed, EM on the word-type table, prune to vocabSize,
    // final re-fit. Iterative driver-loop fit like q136/Lloyd -> rows-
    // only check; the E-step is pinned against brute-force segmentation
    // enumeration and the EM monotone-likelihood guarantee in
    // TextAnalysisSpec.
    "q196_unigram_lm" -> ((s, dir) => {
      TextAnalysis.trainUnigramLm(Tables.documents(s, dir), "text",
          vocabSize = 120, maxPieceLen = 4, emIters = 2)
        .orderBy("rank")
    }),

    // Tokenizer APPLY for a FIXED unigram vocab (q196's downstream, the
    // q140 pattern): Viterbi segmentation per word type, per-doc word/
    // piece counts, fertility, and total Viterbi log-likelihood. The DP
    // has no SQL form -> rows-only; Viterbi optimality, tie-breaks, and
    // unk coverage are pinned in TextAnalysisSpec.
    "q197_unigram_encode" -> ((s, dir) => {
      TextAnalysis.unigramEncodeStats(Tables.documents(s, dir), "doc_id", "text",
          UnigramApplyVocab)
        .orderBy("doc_id")
    }),

    // q197's exact plumbing twin (the q193 pattern): restrict the vocab
    // to its single-char rows and the Viterbi lattice degenerates to the
    // per-char path — counts, log-likelihood, and fertility become pure
    // SQL over exploded characters, so the explode / distinct-word /
    // join-back / aggregate machinery gets a FULL hash oracle while the
    // DP itself stays spec-pinned (TextAnalysisSpec).
    "q198_unigram_char_twin" -> ((s, dir) => {
      TextAnalysis.unigramEncodeStats(Tables.documents(s, dir), "doc_id", "text",
          UnigramApplyVocab.filter(_._1.length == 1))
        .orderBy("doc_id")
    }),

    // OPQ-rotated PQ retrieval (Ge et al. 2013 parametric variant) —
    // q93's pipeline with the missing Faiss-standard preprocessing rung:
    // PCA-derived orthogonal rotation with balanced eigenvalue
    // allocation across subspaces, applied to corpus and probes before
    // the PQ fit/encode/ADC scan. Rows-only like the whole Lloyd-fit PQ
    // family; the rotation's own contracts (orthogonality, EXACT cosine
    // invariance, quantization-error parity within 2% on this
    // near-isotropic synthetic fixture — the gain appears on correlated
    // real embeddings) are pinned in DedupSimilaritySpec.
    "q199_opq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val r = Similarity.fitOpqRotation(emb, m = 8)
      val rot = Similarity.opqRotate(emb, r)
      val books = Similarity.fitPqCodebooks(rot, m = 8, ksub = 16, iterations = 3)
      val codes = Similarity.pqEncode(rot, books)
      Similarity.pqTopK(codes, books,
          Similarity.opqRotate(emb.where(col("vec_id") < 8), r), 10)
        .orderBy("probe_id", "rank")
    }),

    // LAION-style image size/aspect gate over all four sniffed container
    // formats: 64 deterministic synthetic images (q192's construction)
    // at id-derived dimensions, audited by the HEADER-ONLY dimension
    // sniff (Media.imageAudit — no pixel decode, the 100-TB shape for a
    // corpus-wide image filter). Every output column is a pure function
    // of the id and the generator arithmetic, so the whole verdict —
    // format canonicalization included — gets a FULL hash oracle that
    // never encodes an image; the sniffers' agreement with real encoder
    // output is pinned in MediaSpec.
    "q200_image_audit" -> ((s, dir) => {
      import s.implicits._
      val fmts = Seq("png", "jpg", "gif", "bmp")
      val entries = s.range(64).as[Long].map { k =>
        val fmt = fmts((k / 16).toInt)
        val w = 32 + (k % 16).toInt * 24
        val h = 48 + (k % 8).toInt * 40
        Media.ZipEntryRow("synth", f"img_$k%03d.$fmt",
          Media.syntheticImage((k % 16).toInt, fmt, w, h))
      }
      Media.imageAudit(entries, minDim = 128, maxAspect = 2.0)
        .select(regexp_extract(col("entry"), "img_(\\d+)", 1)
            .cast("long").as("img_id"),
          col("fmt"), col("width"), col("height"), col("aspect"),
          col("keep"), col("reject_reason"))
        .orderBy("img_id")
    }),

    // Subword-regularization sampling (Kudo 2018 §4) over q197's fixed
    // vocab — the apply mode a training pipeline feeds a model: one
    // seeded FFBS draw per word type from the alpha-scaled lattice.
    // Seed-deterministic but DP-shaped -> rows-only; the FFBS posterior
    // frequencies, alpha->inf Viterbi recovery, and replay idempotence
    // are pinned in TextAnalysisSpec; q202 is the hash-matched twin.
    "q201_unigram_sample" -> ((s, dir) => {
      TextAnalysis.unigramSampleStats(Tables.documents(s, dir), "doc_id", "text",
          UnigramApplyVocab, alpha = 0.5, seed = 42L)
        .orderBy("doc_id")
    }),

    // q201's exact plumbing twin (the q198 pattern): a single-char vocab
    // leaves ONE lattice path, so the sampled segmentation is the
    // character sequence regardless of seed/alpha and the whole explode /
    // distinct-word / FFBS / join-back / aggregate machinery gets a FULL
    // hash oracle while the sampler itself stays spec-pinned.
    "q202_unigram_sample_twin" -> ((s, dir) => {
      TextAnalysis.unigramSampleStats(Tables.documents(s, dir), "doc_id", "text",
          UnigramApplyVocab.filter(_._1.length == 1), alpha = 0.5, seed = 42L)
        .orderBy("doc_id")
    }),

    // Per-OCCURRENCE subword-regularization sampling (Kudo §4's actual
    // per-sentence draw — q201's paper-faithful sibling): every
    // (doc, position, word) occurrence draws from its own splitmix64
    // stream, so one pass yields maximum segmentation diversity. Rows-
    // only; independence/posterior/Viterbi-limit pinned in
    // TextAnalysisSpec; q209 is the hash-matched twin.
    "q208_unigram_sample_occ" -> ((s, dir) => {
      TextAnalysis.unigramSampleStatsPerOccurrence(Tables.documents(s, dir),
          "doc_id", "text", UnigramApplyVocab, alpha = 0.5, seed = 42L)
        .orderBy("doc_id")
    }),

    // q208's exact plumbing twin (q202's argument): single-char vocab ->
    // one lattice path per word -> the per-occurrence machinery
    // (posexplode, forward-array join-back, occurrence-keyed walk,
    // aggregate) is deterministic and hash-checkable in SQL.
    "q209_unigram_sample_occ_twin" -> ((s, dir) => {
      TextAnalysis.unigramSampleStatsPerOccurrence(Tables.documents(s, dir),
          "doc_id", "text", UnigramApplyVocab.filter(_._1.length == 1),
          alpha = 0.5, seed = 42L)
        .orderBy("doc_id")
    }),

    // q184's exact twin (the q198 degenerate-case trick, for SPECTRA): a
    // 256-row factorial fixture whose 4-dim covariance is EXACTLY
    // 2x2-block-diagonal with dyadic-rational entries (n = 2^8, integer
    // Gram sums — both engines compute the covariance bit-identically),
    // so the eigendecomposition reduces to the closed 2x2 quadratic the
    // oracle evaluates in SQL. The full fitMeanCov -> Jacobi -> ranking
    // -> sign-normalization chain gets a hash oracle; the general-d
    // decomposition invariants stay pinned in DecompSpec.
    "q203_pca_block_twin" -> ((s, dir) => {
      import s.implicits._
      val model = Decomp.fitPca(blockSpectrumFixture(s), "embedding")
      val vr = model.varianceRatio
      (0 until 4).map { c =>
        val comp = model.components(c)
        val topDim = comp.indices.maxBy(k => (math.abs(comp(k)), -k))
        (c + 1, math.rint(model.eigenvalues(c) * 1e6) / 1e6,
          math.rint(vr(c) * 1e6) / 1e6, topDim,
          math.rint(comp(topDim) * 1e6) / 1e6)
      }.toDF("component", "eigenvalue", "var_ratio", "top_dim", "top_loading")
        .orderBy("component")
    }),

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
    "q205_image_scrub_stream" -> ((s, dir) => {
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
    }),

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
    "q206_text_scrub_stream" -> ((s, dir) => {
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
    }),

    // Round-15's fit ladder composed end-to-end: balance-constrained
    // coarse centroids (Zipf-hot cells split at fit time), a
    // non-parametric OPQ rotation (parametric init + one alternating
    // Procrustes/Lloyd round), and sample-fit residual PQ codebooks
    // (the fitSample contract), serving ADC top-k through the salted
    // distributed join. Rows-only like the whole Lloyd family; every
    // stage's own contracts are pinned in DedupSimilaritySpec
    // (balancing, MSE, orthogonality, salt identity, sample-fit band).
    "q207_balanced_opq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val fitPred = Some(pmod(xxhash64(col("vec_id")), lit(2)) === 0)
      val rot = Similarity.refineOpqRotation(emb,
        Similarity.fitOpqRotation(emb, m = 8, fitSample = fitPred),
        m = 8, ksub = 16, pqIterations = 2, rounds = 1, fitSample = fitPred)
      val rotated = Relational.detach(Similarity.opqRotate(emb, rot))
      // trainBalancedCentroids detaches its result itself (r21)
      val cents = Similarity.trainBalancedCentroids(
        rotated, 8, 2, maxCellFrac = 0.3, splitRounds = 2, fitSample = fitPred)
      val books = Similarity.fitIvfPqCodebooks(rotated, cents, m = 8,
        ksub = 16, iterations = 2, fitSample = fitPred)
      val enc = Similarity.ivfPqEncode(rotated, cents, books)
      Similarity.ivfPqTopK(enc, cents, books,
          Similarity.opqRotate(emb.where(col("vec_id") < 8), rot),
          10, nprobe = 2, broadcastProbes = false)
        .orderBy("probe_id", "rank")
    }),

    // q186's exact twin on the same fixture: whitening through the
    // fitted basis must return the identity covariance and zero mean —
    // provable algebra on a full-rank fit, so the oracle is the closed
    // identity. Hash-matching it pins the whiten kernel's output frame
    // (column names, rounding, -0.0 normalization) end to end.
    "q204_whiten_block_twin" -> ((s, dir) => {
      import s.implicits._
      val fix = blockSpectrumFixture(s)
      val model = Decomp.fitPca(fix, "embedding")
      val (n, wMean, wCov) = Decomp.fitMeanCov(
        Decomp.whiten(fix, "embedding", model, model.d), "embedding_w")
      (for (i <- 0 to 3; j <- i to 3) yield
        (i, j, n, math.rint(wMean(i) * 1e4) / 1e4 + 0.0,
          math.rint(wCov(i)(j) * 1e4) / 1e4 + 0.0))
        .toDF("i", "j", "n", "w_mean_i", "w_cov_ij")
        .orderBy("i", "j")
    }),

    // q185's exact twin (the q203/q204 trick extended): on
    // [[diagSpectrumFixture]] the covariance is EXACTLY diagonal with
    // distinct dyadic eigenvalues (1.25 * 4^j), so Jacobi performs ZERO
    // rotations (every off-diagonal entry is an exact 0.0), the
    // eigenbasis is the identity, and Mahalanobis reduces to the weighted
    // Euclidean form DuckDB states directly: sum_j (x_j - mu_j)^2 / var_j.
    // The full fitMeanCov -> Jacobi -> MahalanobisScore kernel chain gets
    // a cross-engine hash gate; the general-position behavior stays
    // pinned in DecompSpec.
    "q211_maha_diag_twin" -> ((s, dir) => {
      val fix = diagSpectrumFixture(s)
      Decomp.mahalanobis(fix, "embedding", Decomp.fitPca(fix, "embedding"))
        .select(col("vec_id"), round(col("maha2"), 4).as("maha2"))
        .orderBy("vec_id")
    }),

    // q187's exact twin: ridge on a diagonal-covariance design has the
    // scalar closed form beta_cj = cov(x_j, y_c) / (var_j + lambda) per
    // coefficient, and r2 follows from the same moments — the oracle
    // mirrors solveRidge's arithmetic OPERATION BY OPERATION (raw integer
    // moment sums, /256 which is exact, the same accumulation order for
    // the bb / btb quadratic forms), so the pre-rounding doubles are
    // bit-identical, not merely close. Labels = least(f0, f1) put signal
    // on two dims with different eigenvalues; the no-signal dims pin the
    // exact-zero path (cov 0.0 -> beta 0.0, no ridge leakage).
    "q212_ridge_diag_twin" -> ((s, dir) => {
      import s.implicits._
      val emb = diagSpectrumFixture(s)
      val cls = least(col("vec_id") % 4, expr("(vec_id DIV 4) % 4"))
      val oneHot = (0 until 4).map(c => when(cls === c, 1.0).otherwise(0.0))
      val model = Decomp.fitRidgeProbes(emb, "embedding", oneHot, lambda = 1e-3)
      (for (c <- 0 until 4; j <- 0 until 4) yield
        (c, j, math.rint(model.weights(c)(j) * 1e6) / 1e6 + 0.0,
          math.rint(model.r2(c) * 1e6) / 1e6 + 0.0))
        .toDF("class", "dim", "beta", "r2")
        .orderBy("class", "dim")
    }),

    // q188's exact twin: leave-fold-out moments by Gram ADDITIVITY
    // (total - fold, integer sums so the subtraction is exact), then the
    // same diagonal closed-form solve per fold. fold = top factor's high
    // bit, so each fold-complement is STILL a product design (f3
    // restricted to two levels, var 16 instead of 80) and the held-out
    // covariance stays exactly diagonal — the one fixture shape where
    // k-fold CV is closed-form in SQL. Hash-gates the per-fold Gram
    // aggregate + moment subtraction + solve end to end.
    "q213_ridge_cv_twin" -> ((s, dir) => {
      import s.implicits._
      val emb = diagSpectrumFixture(s)
      val cls = least(col("vec_id") % 4, expr("(vec_id DIV 4) % 4"))
      val oneHot = (0 until 4).map(c => when(cls === c, 1.0).otherwise(0.0))
      val models = Decomp.fitRidgeProbesPerFold(emb, "embedding", oneHot,
        expr("(vec_id DIV 128) % 2"), nFolds = 2, lambda = 1e-3)
      (for (f <- 0 until 2; c <- 0 until 4; j <- 0 until 4) yield
        (f, models(f).n, c, j,
          math.rint(models(f).weights(c)(j) * 1e6) / 1e6 + 0.0,
          math.rint(models(f).r2(c) * 1e6) / 1e6 + 0.0))
        .toDF("fold", "n_fit", "class", "dim", "beta", "r2")
        .orderBy("fold", "class", "dim")
    }),

    // The PRODUCTION z-order bucket map (rank buckets) at the driver's
    // hash gate — q195 pins only the equi-width map; this pins the
    // skew-robust path real layouts use (Clustering.withRankZKeySplits).
    // Exact-percentile discipline: 2049 rows with cuts at p = i/8 land on
    // positions i * 256 exactly (no interpolation), so Spark's exact
    // `percentile` and DuckDB's `quantile_cont` return the SAME integer-
    // valued cut points, and the rank-bucket assignment + Morton
    // interleave are pure integer arithmetic both engines state. Column a
    // is quadratically skewed (id^2 — equi-width would collapse it into
    // the low buckets; rank buckets hold 256 rows each), column b a
    // co-prime permutation (uniform).
    "q214_rankz_gate" -> ((s, dir) => {
      val fix = s.range(2049).select(col("id"),
        (col("id") * col("id")).as("a"),
        ((col("id") * 1237) % 2049).as("b"))
      val probs = (1 to 7).map(i => i / 8.0)
      val cuts = fix.agg(
        expr(s"percentile(a, array(${probs.mkString(", ")}))").as("qa"),
        expr(s"percentile(b, array(${probs.mkString(", ")}))").as("qb")).head()
      graft.sources.Clustering.withRankZKeySplits(fix,
          Seq("a" -> cuts.getSeq[Double](0), "b" -> cuts.getSeq[Double](1)))
        .select(col("id"), col("_zb_a").as("zb_a"), col("_zb_b").as("zb_b"),
          col("zkey"))
        .orderBy("id")
    }),

    // The streaming dedup ladder's FUZZY (MinHash-LSH) rung at the driver
    // gate — the steady-state scrub a crawl pipeline actually runs, and
    // the last dedup tier that was unit-only. q206's two-wave retroactive-
    // flip replay on NEAR-DUP text (not exact copies — the LSH banding and
    // the est-Jaccard >= tau comparison both do real work): wave 1 is a
    // re-crawl (ids +1e6, one token mutated) arriving FIRST, wave 2 the
    // originals — so every wave-1 keeper must be retroactively flipped by
    // a smaller-id original through the Update-mode re-emission, and the
    // reader contract (LAST row per (bucket, id), AND over an id's
    // buckets) must land on exactly the batch keep-first answer. The
    // fixture ([[fuzzyScrubDocs]]) is a 24-cluster corpus whose MinHash
    // margins make banding EXACT (q205's pigeonhole argument, pinned in
    // EventStreamsSpec): within-cluster pairs est >= 11/16 and share >= 1
    // of the 4 bands, cross-cluster pairs share NO band and est = 0 — so
    // at tau = 0.5 the kept set has the closed form "min doc_id per
    // cluster" = {4c : c < 24}, which the oracle states without computing
    // a single MinHash.
    "q210_fuzzy_scrub_stream" -> ((s, dir) => {
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
    }),

    // The streaming dedup ladder's SEMANTIC (embedding) rung at the
    // driver gate — the last tier that was unit-only. q210's two-wave
    // retroactive-flip replay on NEAR-DUP vectors: wave 1 is a re-crawl
    // (ids +1e6, perturbed copies) arriving FIRST, wave 2 the originals —
    // every wave-1 keeper must be flipped by a smaller-id original
    // through the Update-mode re-emission, and the reader contract (LAST
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
    "q215_semantic_scrub_stream" -> ((s, dir) => {
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
    }),

    // The BPE merge-table FIT behind an exact cross-engine gate — the
    // last iterative fit that had none (q136 fits the real corpus and is
    // rows-only; q140 twins only the APPLY side). The q198 degenerate-
    // lattice trick applied to BPE: a five-word corpus whose pair
    // frequencies are strictly decreasing AT EVERY ROUND (20, 15, 12, 9,
    // 8 — two interleaved merge chains, no ties anywhere, so the
    // tie-break never fires and the greedy argmax sequence is FORCED),
    // which gives the merge table a closed form the oracle states as
    // five literal rows. Exercises the full fold, not just iteration 0:
    // merges 3 and 5 consume symbols created by merges 1 and 3.
    // Round-by-round counts are re-derived in TextAnalysisSpec.
    "q216_bpe_fit_twin" -> ((s, dir) => {
      import s.implicits._
      val words = Seq(("abcd", 8), ("abc", 4), ("ab", 8), ("efg", 9), ("ef", 6))
      val docs = words.toDF("w", "f")
        .select(explode(expr("transform(sequence(1, f), i -> w)")).as("text"))
      TextAnalysis.trainBpeMerges(docs, "text", nMerges = 5)
        .orderBy("rank")
    }),

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
    "q217_sessionize_stream" -> ((s, dir) => {
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
    }),

    // q173's FULL-BRACKET twin (q193 gates only the floor bit): on a
    // three-class fixture the keep verdict is pure id arithmetic. Class
    // %3=0 is the repeated template phrase (period-44 repetition, any
    // zlib level emits back-references -> ratio ~0.042, 2.4x under the
    // 0.1 floor); class %3=1 is Murmur3-driven printable-ASCII noise
    // (94-char alphabet = 6.55 bits/char entropy, patternless to
    // DEFLATE's LZ77+Huffman -> ratio ~0.85, above the 0.75 ceiling);
    // class %3=2 keeps the real document text, restricted to
    // n_chars >= 300 where this corpus's prose sits in [0.39, 0.51] —
    // ~3x above the floor and ~1.5x under the ceiling (shorter docs
    // drift toward 0.75 as the fixed DEFLATE block overhead dominates:
    // the sub-100-char tail reaches 0.91). The floor margin is PROVABLE
    // for any compressor that emits matches; the ceiling margin is
    // entropy-capped (no printable-text class can exceed ~0.85 before
    // zlib's stored-block fallback caps the ratio near 1.0 only for
    // BINARY payloads) and therefore measured, not provable — EntrySpec
    // pins all three class brackets and documents why no fixture can
    // prove the ceiling across zlib versions.
    "q218_compression_bracket_twin" -> ((s, dir) => {
      val seeded = Tables.documents(s, dir).where(col("n_chars") >= 300)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            expr("repeat('all work and no play makes jack a dull boy ', 30)"))
          .when(col("doc_id") % 3 === 1,
            expr("array_join(transform(sequence(1, 1200), " +
              "j -> chr(33 + pmod(hash(doc_id, j), 94))), '')"))
          .otherwise(col("text")).as("text"))
      TextAnalysis.compressionQuality(seeded, "doc_id", "text")
        .select(col("doc_id"), col("keep"))
        .orderBy("doc_id")
    }),

    // q94's OR-construction sibling: two independent 6-plane bands,
    // candidate = same bucket in EITHER band — the recall-recovery lever
    // BASELINE.md "Round-18 probe: the nPlanes lever" motivates (one
    // band's pair recall r becomes 1-(1-r)^2). Deterministic plane
    // arithmetic keeps the oracle exact: DuckDB rebuilds both bands and
    // ORs the join condition.
    "q219_sem_dedup_banded" -> ((s, dir) => {
      Similarity.semanticDedupBanded(Tables.embeddings(s, dir),
          threshold = 0.35, nPlanes = 6, bands = 2, center = true)
        .orderBy("vec_id")
    }),

    // The BANDED semantic rung at the driver gate — q215's two-wave
    // retroactive-flip replay through semanticDedupStreamBanded, with the
    // AND-over-bands reader (fuzzyDedupStream's contract) made explicit.
    // The fixture's shared-bucket pigeonhole is weight-agnostic (see
    // [[semanticScrubVecs]]), so it holds in EACH band independently:
    // every cluster occupies exactly one bucket per band, cross-cluster
    // cosine is exactly 0, and the kept set stays the q215 closed form
    // "min vec_id per cluster" no matter how band buckets collide.
    "q220_semantic_scrub_stream_banded" -> ((s, dir) => {
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
    }),

    // The PQ/ADC pipeline behind an exact cross-engine gate — the q216
    // degenerate-fixture trick applied to the Lloyd fit (q93 itself stays
    // rows-only: float centroid averages are engine-specific ON REAL
    // DATA). Here every cell is a point mass, so the float fit has a
    // closed form: 4 planted norm-5 subvectors per 2-dim subspace
    // ((0,5),(3,4),(4,3),(5,0) — integer coordinates, distinct dots
    // {0,3,4,5} against (1,0)); ids 0-3 are the diagonal combinations, so
    // the first-ksub-by-id seeds hit all 4 values per subspace, Lloyd
    // assignment is distance-0 stable, and every centroid update averages
    // identical integer vectors (exact in any summation order). PQ
    // encoding is then LOSSLESS, and ADC cosine = dot/(10*|q|) with dots
    // = 4-digit base-8 numbers (probe weights 8^j per subspace, digits in
    // {0,3,4,5}) — all 256 corpus dots are DISTINCT INTEGERS, norms all
    // equal, so the top-10 ordering is forced by construction margins and
    // the oracle states it literally, no float dot products anywhere.
    // Exercises the full fit -> encode -> LUT -> fused-ADC -> bounded
    // top-k path (3 Lloyd iterations run, they are just stationary).
    "q221_pq_ann_twin" -> ((s, dir) => {
      import s.implicits._
      val values = Seq(Seq(0.0, 5.0), Seq(3.0, 4.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      val diag = Seq(0, 85, 170, 255) // k with c0=c1=c2=c3
      val ks = diag ++ (0 until 256).filterNot(diag.contains)
      val corpus = ks.zipWithIndex.map { case (k, id) =>
        (id.toLong, (0 until 4).flatMap(j => values((k >> (2 * j)) & 3)))
      }.toDF("vec_id", "embedding")
      val probe = Seq((999L, Seq(1.0, 0.0, 8.0, 0.0, 64.0, 0.0, 512.0, 0.0)))
        .toDF("vec_id", "embedding")
      val books = Similarity.fitPqCodebooks(corpus, m = 4, ksub = 4, iterations = 3)
      val codes = Similarity.pqEncode(corpus, books)
      Similarity.pqTopK(codes, books, probe, 10)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
        .orderBy("rank")
    }),

    // q221's trick extended through the OPQ tier (q199 stays rows-only on
    // real data: PCA rotation + Lloyd are float fits). The forcing
    // argument here needs NO control of the rotation at all: with ksub =
    // |corpus| and seeds = the whole corpus, every Lloyd cell in rotated
    // space is a point mass (singleton or exact duplicates), so PQ is
    // LOSSLESS under whatever exact orthogonal R the eigen-allocation
    // picks, and ADC cosine = rotated cosine = ORIGINAL cosine (orthogonal
    // maps preserve dots and norms — the opqRotate invariance contract).
    // The fixture forces the original ordering with integer margins:
    // vector(i)[d] = (-1)^popcount(i & (d+1)) * 2^d (Walsh signs on
    // power-of-two scales — 16 distinct signed-binary dots against the
    // all-ones probe, all norms equal), so the top-10 is a literal. The
    // Walsh masks also make the covariance EXACTLY diagonal (balanced
    // sign products of exact powers of two cancel in any summation
    // order), so the Jacobi solve runs zero sweeps and R is an exact
    // permutation — belt and suspenders on top of the invariance
    // argument. Gap between adjacent cosines >= 2/(|q||v|) ~ 4.8e-3,
    // nine orders above rotation float noise.
    "q222_opq_ann_twin" -> ((s, dir) => {
      import s.implicits._
      val corpus = (0 until 16).map { i =>
        (i.toLong, (0 until 8).map { d =>
          val sign = if (Integer.bitCount(i & (d + 1)) % 2 == 1) -1.0 else 1.0
          sign * (1 << d)
        })
      }.toDF("vec_id", "embedding")
      val probe = Seq((999L, Seq.fill(8)(1.0))).toDF("vec_id", "embedding")
      val r = Similarity.fitOpqRotation(corpus, m = 4)
      val rot = Similarity.opqRotate(corpus, r)
      val books = Similarity.fitPqCodebooks(rot, m = 4, ksub = 16, iterations = 3)
      val codes = Similarity.pqEncode(rot, books)
      Similarity.pqTopK(codes, books, Similarity.opqRotate(probe, r), 10)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
        .orderBy("rank")
    }),

    // And the trick through the full IVF-PQ composition (q100's family —
    // coarse Lloyd + residual PQ + multi-cell ADC). Forcing adds two
    // ingredients to q221/q222's: (1) DISJOINT-SUPPORT clusters (cluster
    // c owns dims 2c/2c+1, the q215 pigeonhole) make the coarse
    // assignment strict — own-cell cosine > 0, every other cell exactly
    // 0 — and the Lloyd mean ((0+3+4+5)/4 = 3 per dim) exact, so the
    // coarse fit is closed-form; (2) residuals are then exact small
    // integers-minus-3, point-mass per subspace, so the residual PQ is
    // lossless (ksub = |corpus|, q222's argument) and ADC cosine is the
    // exact original cosine. nprobe = nCells removes cell pruning from
    // the equation; per-cluster probe weights 8^c make the 12 nonzero
    // dots distinct integers (a * 8^c, a in {3,4,5}) with the four
    // zero-dot rows safely below rank 10 — the top-10 is this literal.
    "q223_ivfpq_ann_twin" -> ((s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      // ids 0-3: the (3,4) member of cluster 0-3 (the Lloyd seeds, with
      // strictly positive dot against every own-cluster member); ids
      // 4+3c..6+3c: cluster c's remaining members
      val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      val probe = Seq((999L,
        Seq.tabulate(8)(d => if (d % 2 == 0) math.pow(8.0, d / 2) else 0.0)))
        .toDF("vec_id", "embedding")
      val cents = Similarity.trainCentroids(corpus, 4, 3)
      val books = Similarity.fitIvfPqCodebooks(corpus, cents, m = 4, ksub = 16,
        iterations = 3)
      val enc = Similarity.ivfPqEncode(corpus, cents, books)
      Similarity.ivfPqTopK(enc, cents, books, probe, 10, nprobe = 4)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
        .orderBy("rank")
    }),

    // q223's fixture through the PERSISTED index path (q106's family):
    // fit + encode + parquet save + load + serve in one call. Same
    // forced literal — which is exactly the point: the round-trip must
    // not perturb the serve (the one load-bearing ordering is the
    // collected centroid array's, which loadIvfPqIndex re-sorts by id;
    // a regression there reorders cell ids and this hash gate catches
    // it where the rows-only q106 could not).
    "q224_ivfpq_prefit_twin" -> ((s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      val probe = Seq((999L,
        Seq.tabulate(8)(d => if (d % 2 == 0) math.pow(8.0, d / 2) else 0.0)))
        .toDF("vec_id", "embedding")
      val idxDir = gateTempDir("graft_q224")
      val idx = Similarity.buildIvfPqIndex(corpus, idxDir, nCells = 4, m = 4,
        ksub = 16, iterations = 3)
      Similarity.ivfPqTopK(idx.encoded, idx.centroids, idx.codebooks, probe,
          10, nprobe = 4)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
        .orderBy("rank")
    }),

    // q223's fixture through the DISTRIBUTED serve path (q191's shape):
    // probes = the whole corpus, broadcastProbes = false, and a
    // codesPerSalt low enough (2, vs 4 codes per cell) that every probed
    // cell genuinely splits across salt buckets — the skew-salted
    // corpus-vs-corpus join, end-to-end, behind an exact hash gate (the
    // bit-identical-to-broadcast contract as a DRIVER gate, not just a
    // spec). Ordering per probe: the 2-3 same-cluster peers by their
    // exact integer dots (all norms 5), then the exactly-0.0 cross-
    // cluster ties broken by id ASC — the literal below, 16 probes x 10.
    "q225_ivfpq_bigprobe_twin" -> ((s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      val cents = Similarity.trainCentroids(corpus, 4, 3)
      val books = Similarity.fitIvfPqCodebooks(corpus, cents, m = 4, ksub = 16,
        iterations = 3)
      val enc = Similarity.ivfPqEncode(corpus, cents, books)
      Similarity.ivfPqTopK(enc, cents, books, corpus, 10, nprobe = 4,
          broadcastProbes = false, codesPerSalt = 2L, maxSalt = 4)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
        .orderBy("probe_id", "rank")
    }),

    // Cross-snapshot semantic scrub behind an exact gate: q223's corpus
    // is the fitted REFERENCE index (served from codes), the new wave is
    // four exact re-crawls of reference members (ids 100-103, copies of
    // 15/9/4/0 — ADC cosine exactly 1.0 > tau, dropped) plus four fresh
    // vectors (ids 104-107, (-3,-4) on cluster c's dims: NEGATIVE dot
    // with their own cell's centroid, so nprobe=1 probes a zero-cosine
    // foreign cell deterministically — every candidate scores exactly
    // 0.0 < tau, kept). The whole verdict is forced arithmetic; the
    // oracle states the survivor ids.
    "q226_semantic_scrub_index_twin" -> ((s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      val cents = Similarity.trainCentroids(corpus, 4, 3)
      val books = Similarity.fitIvfPqCodebooks(corpus, cents, m = 4, ksub = 16,
        iterations = 3)
      val idx = Similarity.IvfPqIndex(cents, books,
        Similarity.ivfPqEncode(corpus, cents, books))
      val newWave = (Seq(
        (100L, member(3, vals(3))), // re-crawl of id 15
        (101L, member(1, vals(3))), // re-crawl of id 9
        (102L, member(0, vals(1))), // re-crawl of id 4
        (103L, member(0, vals(0)))  // re-crawl of id 0
      ) ++ (0 until 4).map(c => ((104 + c).toLong, member(c, Seq(-3.0, -4.0)))))
        .toDF("vec_id", "embedding")
      Similarity.scrubAgainstIvfPqIndex(newWave, idx, threshold = 0.9,
          nprobe = 1)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

    // Index APPEND behind an exact gate — the cross-wave production loop
    // q226 opens (scrub wave N against the index, then GROW the index
    // with its survivors) closed with NO refit. The books fit on the full
    // 16-vector design snapshot (the fitSample production shape: books
    // anticipate the distribution, not the exact rows) while the index
    // ENCODES only the 12-vector current corpus — the (5,0) members are
    // held out as wave 1. Wave 1 survives a scrub of the un-appended
    // index (its best candidate cosine is exactly 0.8 < tau — provable:
    // lossless integer reconstructions), gets appended (residual (2,-3)
    // is EXACTLY a codebook entry, so the append encode is lossless), and
    // then wave-2 re-crawls of the appended docs (ids 200-203) score ADC
    // cosine exactly 1.0 and drop — a drop ONLY the appended codes can
    // cause, which is the gate's point. A re-crawl of original id 0
    // (id 208) drops the same way (the old snapshot still serves), and
    // the fresh (-3,-4) class (ids 204-207, q226's forced-zero argument)
    // survives — every candidate in its probed foreign cell, including
    // the appended members, has disjoint support and scores exactly 0.0.
    // The post-append balance check passes exactly at the default cap
    // (4 rows/cell of 16). Margins pinned in EntrySpec.
    "q227_ivfpq_append_twin" -> ((s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      val design = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      // current corpus = design minus the (5,0) members — ids 4 + 3c + j
      // with j = 2, i.e. 6, 9, 12, 15
      val current = design.where(!col("vec_id").isin(6L, 9L, 12L, 15L))
      val cents = Similarity.trainCentroids(design, 4, 3)
      val books = Similarity.fitIvfPqCodebooks(design, cents, m = 4, ksub = 16,
        iterations = 3)
      val idx = Similarity.IvfPqIndex(cents, books,
        Similarity.ivfPqEncode(current, cents, books))
      val wave1 = (0 until 4).map(c => ((104 + c).toLong, member(c, vals(3))))
        .toDF("vec_id", "embedding")
      val survivors1 = Similarity.scrubAgainstIvfPqIndex(wave1, idx,
        threshold = 0.9, nprobe = 1)
      val grown = Similarity.appendToIvfPqIndex(idx, survivors1)
      val wave2 = ((0 until 4).map(c => ((200 + c).toLong, member(c, vals(3)))) ++
        (0 until 4).map(c => ((204 + c).toLong, member(c, Seq(-3.0, -4.0)))) :+
        (208L, member(0, vals(0))))
        .toDF("vec_id", "embedding")
      Similarity.scrubAgainstIvfPqIndex(wave2, grown, threshold = 0.9,
          nprobe = 1)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

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
    "q228_semantic_scrub_stream_centered" -> ((s, dir) => {
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
    }),

    // The CENTERED index family end to end — buildIvfPqIndex(center =
    // true) fits, persists, and reloads the mean; scrubAgainstIvfPqIndex
    // centers its probes with it automatically, so the dedup and index
    // families share ONE similarity space (the r19 coherence note,
    // resolved). The q223/q226 fixture keeps the verdict forced in
    // centered space because every quantity is an exact dyadic: the
    // fitted mean is exactly 0.75 per dim (sum 12 over 16 rows), the
    // centered Lloyd centroids are exactly (2.25, 2.25 | -0.75...), the
    // residuals are EXACTLY q223's integers (x - 3 on owned dims, 0
    // elsewhere — centering cancels against the centroid shift), so the
    // encode is lossless and re-crawls 100-103 score ADC cosine exactly
    // 1.0 > tau (dropped) while the fresh (-3,-4) class probes its
    // deterministic foreign cell (ties at exactly 5.25 break by cell id)
    // where every candidate's centered cosine is <= 0.22 < tau (kept).
    // Margins pinned in EntrySpec; survivors = the oracle's literal.
    "q229_ivfpq_centered_scrub_twin" -> ((s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      val idxDir = gateTempDir("graft_q229")
      val idx = Similarity.buildIvfPqIndex(corpus, idxDir, nCells = 4, m = 4,
        ksub = 16, iterations = 3, center = true)
      val newWave = (Seq(
        (100L, member(3, vals(3))), // re-crawl of id 15
        (101L, member(1, vals(3))), // re-crawl of id 9
        (102L, member(0, vals(1))), // re-crawl of id 4
        (103L, member(0, vals(0)))  // re-crawl of id 0
      ) ++ (0 until 4).map(c => ((104 + c).toLong, member(c, Seq(-3.0, -4.0)))))
        .toDF("vec_id", "embedding")
      Similarity.scrubAgainstIvfPqIndex(newWave, idx, threshold = 0.9,
          nprobe = 1)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),

    // The STABLE-ID re-crawl case behind its own driver gate — the r19
    // ADVICE regression class: when probe and index id spaces OVERLAP
    // (a re-crawled doc keeps its id from the reference snapshot — the
    // common crawl-pipeline convention), a probe-side self-filter would
    // exclude the identically-id'd reference twin and the exact
    // duplicate would silently survive. q226 gives re-crawls fresh ids
    // and so cannot catch that; here ids 15/9/4/0 re-crawl UNDER THEIR
    // OWN IDS (exact copies, ADC cosine exactly 1.0 — dropped via
    // excludeSelfMatches = false) while the fresh (-3,-4) class keeps
    // its q226 forced-zero survival. Survivors = the fresh ids only.
    "q230_scrub_stable_id_twin" -> ((s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      val cents = Similarity.trainCentroids(corpus, 4, 3)
      val books = Similarity.fitIvfPqCodebooks(corpus, cents, m = 4, ksub = 16,
        iterations = 3)
      val idx = Similarity.IvfPqIndex(cents, books,
        Similarity.ivfPqEncode(corpus, cents, books))
      val newWave = (Seq(
        (15L, member(3, vals(3))), // re-crawl KEEPING its reference id
        (9L, member(1, vals(3))),
        (4L, member(0, vals(1))),
        (0L, member(0, vals(0)))
      ) ++ (0 until 4).map(c => ((104 + c).toLong, member(c, Seq(-3.0, -4.0)))))
        .toDF("vec_id", "embedding")
      Similarity.scrubAgainstIvfPqIndex(newWave, idx, threshold = 0.9,
          nprobe = 1)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }),
  )

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
  private def gateTempDir(prefix: String): String = {
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
  private def stageGateWaves(root: String,
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

  private def withStreamGateConf[T](s: SparkSession,
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
  private val BpeApplyMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r", "s" -> "t",
    "t" -> "o", "a" -> "t", "er" -> "s", "t" -> "h", "th" -> "e",
    "in" -> "g", "a" -> "n")

  /** Fixed unigram-LM vocab for q197 — English-frequency char log-probs
    * plus common subword pieces, each piece priced above the sum of its
    * characters so Viterbi actually selects it
    * ([[TextAnalysis.unigramEncodeStats]]; trained fit is q196). */
  private val UnigramApplyVocab: Seq[(String, Double)] = Seq(
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
  private def crawlUrl: Column = concat(
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
  private def prefitIvfPqIndex(s: SparkSession, dir: String): Similarity.IvfPqIndex = {
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
  private def synthesizeLines(docs: DataFrame, withPunct: Boolean): DataFrame = {
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

  private val Mod = "1000000007"

  /** q104's bootstrap parameters — the query lambda and its oracle both
    * read these, so they cannot silently desynchronize. */
  private val BootReplicas = 100
  private val BootAlpha = 0.05

  /** DuckDB fragment: portable poly-31 string hash of expression `s`. */
  private def dhash(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($s, ''), " +
      s"c -> CAST(unicode(c) AS BIGINT))), (a, b) -> (a * 31 + b) % $Mod)"

  /** DuckDB fragment: [[graft.operators.Stats.mixHash]] — the universal-
    * hash finisher over [[dhash]]. Constants must stay in lockstep with
    * Stats.MixA/MixB (this is the one SQL site of the mix). */
  private def dmix(s: String): String =
    s"((${dhash(s)}) * ${graft.operators.Stats.MixA} + " +
      s"${graft.operators.Stats.MixB}) % $Mod"

  /** DuckDB fragment: [[graft.operators.Stats.hashBucket]] — [[dmix]]
    * reduced to the bucket modulus. */
  private def dbucket(s: String, m: Long): String = s"(${dmix(s)}) % $m"

  /** DuckDB mirror of [[synthesizeLines]]: CTE pair binding `ln` to the
    * 8-token line list per doc_id (chunking must match the Spark helper). */
  private def dLineSynth(withPunct: Boolean): String = {
    val punct = if (withPunct) " || CASE WHEN i % 3 = 2 THEN '' ELSE '.' END" else ""
    s"""t0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |t1 AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT)),
       |    i -> array_to_string(tk[i*8+1 : i*8+8], ' ')$punct) AS ln FROM t0)""".stripMargin
  }

  /** DuckDB fragment: distinct hashed word-3-shingles of text expr `t`
    * (tokens list `tk` must be `string_split(t,' ')`). */
  private def dShingleHashes(t: String): String = {
    val tk = s"string_split($t, ' ')"
    s"list_distinct(list_transform(" +
      s"CASE WHEN len($tk) < 3 THEN [$t] ELSE list_transform(range(1, len($tk) - 1), " +
      s"i -> array_to_string(($tk)[i:i+2], ' ')) END, s -> ${dhash("s")}))"
  }

  /** DuckDB fragment: the MinHash signature + LSH banding CTE chain
    * (hs/sg/banded) shared by q24 (candidate pairs) and q65 (clusters) —
    * one definition of the permutation and band arithmetic so the two
    * oracles can never disagree on candidates. */
  private def dBandedCtes: String =
    s"""hs AS (SELECT doc_id, ${dShingleHashes("text")} AS hashes FROM documents),
       |sg AS (SELECT doc_id, list_transform(range(0, 16),
       |i -> list_min(list_transform(hashes, h -> ((2*i+3)*h + (7*i+1)) % $Mod))) AS sig FROM hs),
       |banded AS (SELECT doc_id, sig, b.band AS band,
       |array_to_string(sig[b.band*4+1 : b.band*4+4], '-') AS bkey
       |FROM sg CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin

  private def dLangScore(words: Seq[String]): String =
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
  private def dBruteRank(p: String, vecExpr: String,
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
  private val dTurnSynth: String =
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
  private val dUrlCanon: String =
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

  private def dProbeScored: String =
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

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |round(avg(l_quantity), 6) AS avg_qty,
        |round(avg(l_extendedprice), 6) AS avg_price,
        |round(avg(l_discount), 6) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_null_audit" ->
      """WITH d AS (SELECT CASE WHEN event_type IN ('click','view') THEN NULL ELSE value END AS v,
        |CASE WHEN user_id % 5 = 0 THEN NULL ELSE user_id END AS u FROM events)
        |SELECT 'v' AS col_name, CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null FROM d
        |UNION ALL
        |SELECT 'u' AS col_name, CAST(sum(CASE WHEN u IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null FROM d
        |ORDER BY col_name""".stripMargin,

    "q03_date_parts" ->
      """WITH base AS (SELECT o_orderkey,
        |CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE CAST(o_orderdate AS TIMESTAMP) END AS ts FROM orders)
        |SELECT o_orderkey, epoch_ms(ts) AS epoch_ms,
        |CAST(epoch_ms(epoch_ms(ts)) AS TIMESTAMP) AS ts_roundtrip,
        |CAST(coalesce(year(ts), 1970) AS INTEGER) AS year,
        |CAST(coalesce(month(ts), 1) AS INTEGER) AS month,
        |CAST(coalesce(day(ts), 1) AS INTEGER) AS day
        |FROM base ORDER BY o_orderkey""".stripMargin,

    "q04_string_clean" ->
      """SELECT c_custkey, trim(c_name) AS name_trim, upper(c_mktsegment) AS seg_upper,
        |coalesce(nullif(trim(c_mktsegment), 'BUILDING'), 'Unknown') AS seg_clean,
        |concat_ws('/', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS path,
        |coalesce(regexp_extract(c_name, '[0-9]+', 0), '') AS name_digits
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q05_label_encode" ->
      """SELECT c_custkey, c_mktsegment,
        |CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT) AS seg_code
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q06_standard_scale" ->
      """SELECT c_custkey,
        |round((c_acctbal - avg(c_acctbal) OVER ()) / stddev_pop(c_acctbal) OVER (), 6) AS acctbal_z
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q07_minmax_scale" ->
      """SELECT l_orderkey, l_linenumber,
        |round((l_quantity - min(l_quantity) OVER (PARTITION BY l_returnflag)) /
        |(max(l_quantity) OVER (PARTITION BY l_returnflag) - min(l_quantity) OVER (PARTITION BY l_returnflag)), 6) AS qty_mm
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q08_ffill_bfill" ->
      """WITH base AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |CASE WHEN event_type IN ('click','view') THEN NULL ELSE value END AS v FROM events),
        |f AS (SELECT event_id, user_id, ts, v,
        |last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
        |first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bf
        |FROM base)
        |SELECT event_id, user_id, ts, coalesce(ff, bf) AS v_filled
        |FROM f ORDER BY user_id, ts, event_id""".stripMargin,

    "q09_null_fill" ->
      """SELECT event_id,
        |coalesce(CASE WHEN event_type IN ('click','view') THEN NULL ELSE value END, 0.0) AS v_filled,
        |coalesce(CASE WHEN user_id % 5 = 0 THEN NULL ELSE user_id END, -1) AS u_filled
        |FROM events ORDER BY event_id""".stripMargin,

    "q10_positional_join" ->
      """WITH o AS (SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS idx FROM orders),
        |c AS (SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS idx FROM customer),
        |n AS (SELECT count(*) AS cnt FROM customer)
        |SELECT o.o_orderkey, c.c_custkey
        |FROM o CROSS JOIN n JOIN c ON (o.idx % n.cnt) = c.idx
        |ORDER BY o.o_orderkey""".stripMargin,

    "q11_join_agg" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The bucketed layout must be invisible to results: plain join oracle.
    "q81_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q12_semi_anti" ->
      """SELECT o_orderkey, 'has_bigline' AS tag FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |UNION ALL
        |SELECT o_orderkey, 'no_bigline' AS tag FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |ORDER BY o_orderkey""".stripMargin,

    "q13_setops" ->
      """WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |SELECT nk, 'both' AS tag FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
        |UNION ALL SELECT nk, 'customer_only' AS tag FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
        |UNION ALL SELECT nk, 'supplier_only' AS tag FROM (SELECT nk FROM sn EXCEPT SELECT nk FROM cn)
        |ORDER BY tag, nk""".stripMargin,

    "q14_union" ->
      """SELECT o_orderstatus, count(*) AS n FROM (
        |SELECT o_orderstatus FROM orders WHERE o_totalprice > 100000
        |UNION ALL
        |SELECT o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q15_microbatch" ->
      """WITH x AS (SELECT l_extendedprice,
        |row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_extendedprice) - 1 AS rn FROM lineitem)
        |SELECT CAST(floor(rn / 200.0) AS BIGINT) AS batch_id, count(*) AS n,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS batch_price
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,

    "q16_byte_chunks" ->
      """WITH x AS (SELECT
        |coalesce(length(CAST(l_orderkey AS VARCHAR)), 4) + coalesce(length(CAST(l_linenumber AS VARCHAR)), 4) +
        |coalesce(length(l_returnflag), 4) + coalesce(length(l_linestatus), 4) + 1 AS row_bytes,
        |l_orderkey, l_linenumber FROM lineitem),
        |c AS (SELECT greatest(CAST(floor((sum(row_bytes) OVER (ORDER BY l_orderkey, l_linenumber
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) / 20000.0) AS BIGINT), 0) AS chunk_id FROM x)
        |SELECT chunk_id, count(*) AS n FROM c GROUP BY chunk_id ORDER BY chunk_id""".stripMargin,

    "q17_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q18_window_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |count(*) AS n, CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q19_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |min(k) AS min_k, max(k) AS max_k, round(avg(k), 6) AS avg_k
        |FROM (SELECT event_type, CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q20_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |OR us - lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q21_dedup_exact" ->
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts FROM (
        |SELECT user_id, event_type, event_id, ts,
        |row_number() OVER (PARTITION BY user_id, event_type ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q22_dup_stats" ->
      """SELECT md5(concat_ws('|', lang, source)) AS fingerprint, count(*) AS n_docs
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint""".stripMargin,

    "q23_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS fp_md5, ${dhash("text")} AS fp_roll
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q24_minhash_lsh" ->
      s"""WITH $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |CAST(list_sum(list_transform(range(1, 17), i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_jaccard
         |FROM pairs ORDER BY id_a, id_b""".stripMargin,

    "q25_simhash" ->
      s"""WITH th AS (SELECT doc_id, list_transform(string_split(text, ' '), s -> ${dhash("s")}) AS hs FROM documents)
         |SELECT doc_id, CAST(list_sum(list_transform(range(0, 16),
         |b -> CASE WHEN list_sum(list_transform(hs,
         |h -> CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
         |THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM th ORDER BY doc_id""".stripMargin,

    "q26_jaccard_pairs" ->
      s"""WITH hs AS (SELECT doc_id, ${dShingleHashes("text")} AS hashes FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |round(CAST(len(list_filter(a.hashes, h -> list_contains(b.hashes, h))) AS DOUBLE) /
         |CAST(len(list_distinct(a.hashes || b.hashes)) AS DOUBLE), 6) AS jaccard
         |FROM hs a JOIN hs b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3
         |ORDER BY id_a, id_b""".stripMargin,

    "q27_cosine_topk" ->
      """WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |sc AS (SELECT probe_id, neighbor_id,
        |list_dot_product(pv, cv) / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |FROM p JOIN c ON neighbor_id != probe_id),
        |r AS (SELECT probe_id, neighbor_id, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q28_ann_ivf" ->
      """WITH cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |asg AS (SELECT vec_id, v, cell_id FROM (
        |  SELECT corp.vec_id, corp.v, cent.cell_id,
        |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
        |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
        |    cent.cell_id) AS rr
        |  FROM corp CROSS JOIN cent) WHERE rr = 1),
        |probes AS (SELECT vec_id AS probe_id, v AS pv, cell_id FROM asg WHERE vec_id >= 10 AND vec_id < 20),
        |cands AS (SELECT a.vec_id AS neighbor_id, a.v AS cv, a.cell_id FROM asg a),
        |sc AS (SELECT p.probe_id, c.neighbor_id,
        |list_dot_product(p.pv, c.cv) / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
        |FROM probes p JOIN cands c ON p.cell_id = c.cell_id AND c.neighbor_id != p.probe_id),
        |r AS (SELECT probe_id, neighbor_id, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine
        |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    // Same two-pass blocking as the Spark side: forward 16-char prefix OR
    // reversed-text prefix (UNION dedups the pair set), length bound, then
    // exact levenshtein. edit_dist cast to INTEGER (Spark levenshtein is int).
    "q75_fuzzy_pairs" ->
      """WITH t AS (SELECT doc_id, text, substr(text, 1, 16) AS pfx,
        |substr(reverse(text), 1, 16) AS pfr, length(text) AS ln FROM documents),
        |c AS (
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
        |FROM t a JOIN t b ON a.pfx = b.pfx AND a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= 6
        |UNION
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
        |FROM t a JOIN t b ON a.pfr = b.pfr AND a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= 6)
        |SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS INTEGER) AS edit_dist
        |FROM c WHERE levenshtein(ta, tb) <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    // Same hashed-3-shingle features, tf * ln(n/df) weights, and posting
    // self-join as the Spark side; cosine filtered before rounding.
    "q76_tfidf_cosine" ->
      s"""WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest(list_transform(
         |CASE WHEN len(tk) < 3 THEN [text] ELSE list_transform(range(1, len(tk) - 1),
         |i -> array_to_string(tk[i:i+2], ' ')) END, s -> ${dhash("s")})) AS term FROM tok),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM sh GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 1000),
         |w AS (SELECT tf.doc_id, tf.term,
         |tf.tf * ln((SELECT count(*) FROM documents) / CAST(dfx.df AS DOUBLE)) AS w
         |FROM tf JOIN dfx USING (term)),
         |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
         |dt AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
         |FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
         |FROM dt JOIN nrm na ON dt.id_a = na.doc_id JOIN nrm nb ON dt.id_b = nb.doc_id
         |WHERE na.nrm > 0 AND nb.nrm > 0
         |AND dot / (na.nrm * nb.nrm) >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    "q29_embed_neardup" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |round(list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
        |FROM v a JOIN v b ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 20
        |WHERE list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) > 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "q30_lang_id" -> {
      val m = langMarkers
      val scores = m.keys.toSeq.sorted
        .map(l => s"${dLangScore(m(l))} AS score_$l").mkString(", ")
      s"""WITH s AS (SELECT doc_id, lang, $scores FROM documents)
         |SELECT doc_id, lang, score_de, score_en, score_es, score_fr, score_zh,
         |CASE
         |WHEN score_zh >= score_fr AND score_zh >= score_es AND score_zh >= score_en AND score_zh >= score_de THEN 'zh'
         |WHEN score_fr >= score_es AND score_fr >= score_en AND score_fr >= score_de THEN 'fr'
         |WHEN score_es >= score_en AND score_es >= score_de THEN 'es'
         |WHEN score_en >= score_de THEN 'en'
         |ELSE 'de' END AS predicted
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q31_quality" ->
      """WITH t AS (SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
        |length(text) AS n_chars FROM documents)
        |SELECT doc_id, n_tokens, n_types,
        |round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
        |round((CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5 +
        |(CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.5 END) * 0.25 +
        |(CASE WHEN (CAST(n_chars AS DOUBLE) - (n_tokens - 1)) / n_tokens >= 3
        |AND (CAST(n_chars AS DOUBLE) - (n_tokens - 1)) / n_tokens <= 10 THEN 1.0 ELSE 0.5 END) * 0.25, 6) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    "q32_geo_error" ->
      """WITH pts AS (SELECT l_returnflag,
        |CAST(l_partkey % 180 AS DOUBLE) - 90.0 + l_discount AS lat1,
        |CAST(l_suppkey % 360 AS DOUBLE) - 180.0 + l_tax AS lon1,
        |CAST(l_orderkey % 180 AS DOUBLE) - 90.0 AS lat2,
        |CAST((l_orderkey * 7) % 360 AS DOUBLE) - 180.0 AS lon2
        |FROM lineitem),
        |d AS (SELECT l_returnflag, lat1, lon1, lat2, lon2,
        |sin(((lat2 - lat1) * 0.017453292519943295) / 2) AS slat,
        |sin(((lon2 - lon1) * 0.017453292519943295) / 2) AS slon FROM pts),
        |km AS (SELECT l_returnflag,
        |2.0 * 6371.0088 * asin(least(1.0, sqrt(slat * slat +
        |cos(lat1 * 0.017453292519943295) * cos(lat2 * 0.017453292519943295) * slon * slon))) AS km,
        |sqrt((lat1 - lat2) * (lat1 - lat2) + (lon1 - lon2) * (lon1 - lon2)) AS deg FROM d)
        |SELECT l_returnflag, count(*) AS n,
        |round(avg(km), 4) AS mean_km, round(max(km), 4) AS max_km,
        |round(min(km), 4) AS min_km, round(avg(deg), 4) AS mean_deg
        |FROM km GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q34_distinct_stats" ->
      """SELECT c_mktsegment, count(*) AS n,
        |CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q35_skiplist" ->
      """SELECT l_suppkey % 10 AS part_bucket, count(*) AS n FROM lineitem
        |WHERE l_suppkey % 10 NOT IN (3, 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q38_pipeline" ->
      """WITH base AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |CASE WHEN event_type IN ('click','view') THEN NULL ELSE value END AS v FROM events),
        |f AS (SELECT event_id, user_id, ts, coalesce(
        |last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS v
        |FROM base),
        |z AS (SELECT ts, (v - avg(v) OVER ()) / stddev_pop(v) OVER () AS v_z FROM f)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |count(*) AS n, round(avg(v_z), 6) AS mean_z
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    "q37_lsh_cosine" -> {
      val dot = (p: Int) =>
        s"list_dot_product(CAST(embedding AS DOUBLE[]), " +
          s"list_transform(range(1, len(embedding) + 1), d -> CAST((d * 131 + $p + 7) * (d * 137 + $p * 149 + 11) % 1009 % 3 - 1 AS DOUBLE)))"
      val bits = (0 until 8)
        .map(p => s"CASE WHEN ${dot(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""SELECT $bits AS bucket, count(*) AS n,
         |min(vec_id) AS min_id, max(vec_id) AS max_id
         |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q36_sql_surface" ->
      s"""WITH d AS (SELECT s_nationkey, s_name,
         |sin(((0.0 - CAST(s_suppkey % 90 AS DOUBLE)) * 0.017453292519943295) / 2) AS slat,
         |sin(((0.0 - CAST(s_nationkey * 7 % 180 AS DOUBLE)) * 0.017453292519943295) / 2) AS slon,
         |CAST(s_suppkey % 90 AS DOUBLE) AS lat1
         |FROM supplier),
         |km AS (SELECT s_nationkey, s_name,
         |2.0 * 6371.0088 * asin(least(1.0, sqrt(slat * slat +
         |cos(lat1 * 0.017453292519943295) * cos(0.0 * 0.017453292519943295) * slon * slon))) AS km
         |FROM d)
         |SELECT s_nationkey, count(*) AS n, round(avg(km), 4) AS mean_km,
         |CAST(sum(${dhash("s_name")} % 97) AS BIGINT) AS name_sig
         |FROM km GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "q39_asof_join" ->
      """WITH clicks AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |FROM events WHERE event_type = 'click'),
        |purch AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS last_purchase_value
        |FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ts, p.last_purchase_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q40_range_join" ->
      """WITH r AS (SELECT n_name, CAST(n_nationkey AS DOUBLE) * 2.0 AS lo,
        |CAST(n_nationkey AS DOUBLE) * 2.0 + 2.0 AS hi FROM nation)
        |SELECT n_name, count(*) AS n,
        |CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
        |FROM lineitem JOIN r ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q41_tfidf" ->
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM
        |(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY 1, 2),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.term,
        |round(tf.tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / dfx.df), 6) AS score
        |FROM tf JOIN dfx ON tf.term = dfx.term),
        |r AS (SELECT doc_id, term, score,
        |row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q42_ngram_top" ->
      """WITH tk AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
        |ng AS (SELECT lang, unnest(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
        |ELSE list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' ')) END) AS ngram FROM tk),
        |c AS (SELECT lang, ngram, count(*) AS n_occur FROM ng GROUP BY 1, 2),
        |r AS (SELECT lang, ngram, n_occur,
        |row_number() OVER (PARTITION BY lang ORDER BY n_occur DESC, ngram) AS rank FROM c)
        |SELECT lang, CAST(rank AS INTEGER) AS rank, ngram, n_occur
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    // Valid as an EXACT oracle because the per-lang vocabulary (31) is far
    // below the sketch's tracked capacity (10000): approx_top_k never
    // evicts, so every estimate is the true count — the degeneration
    // property SketchParitySpec pins. A corpus regeneration with a real
    // vocabulary would surface here as a hash mismatch, which is the
    // correct loud failure (the oracle's validity premise broke).
    "q80_heavy_hitters" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT lang, token, count(*) AS est_occur FROM t GROUP BY 1, 2),
        |r AS (SELECT lang, token, est_occur,
        |row_number() OVER (PARTITION BY lang ORDER BY est_occur DESC, token) AS rank FROM c)
        |SELECT lang, CAST(rank AS INTEGER) AS rank, token, est_occur
        |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,

    "q43_rolling" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |CAST(round(value * 100, 0) AS BIGINT) AS c FROM events)
        |SELECT event_id, user_id, ts,
        |round(CAST(sum(c) OVER w AS DOUBLE) / (count(*) OVER w * 100.0), 6) AS mov_avg,
        |CAST(count(*) OVER w AS BIGINT) AS cum_n5
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q44_percentiles" ->
      """SELECT l_returnflag,
        |round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q45_group_topk" ->
      """WITH j AS (SELECT c_mktsegment, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY c_mktsegment
        |ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, CAST(rank AS INTEGER) AS rank, o_orderkey, o_totalprice
        |FROM j WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin,

    "q46_pivot" ->
      """SELECT user_id % 10 AS cohort,
        |CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q47_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |coalesce(l_linestatus, 'ALL') AS status,
        |CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
        |count(*) AS n,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,

    "q48_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q49_corr_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |round(corr(l_quantity, l_extendedprice), 6) AS corr_xy,
        |round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_xy,
        |round(stddev_pop(l_quantity), 6) AS sd_x,
        |round(stddev_pop(l_extendedprice), 6) AS sd_y
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q50_sample_hash" ->
      s"""SELECT lang, count(*) AS n_sampled,
         |round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens
         |FROM documents WHERE ${dbucket("text", 100)} < 10
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q51_explode_tokens" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS pos, string_split(text, ' ')[i] AS token
        |FROM documents, unnest(range(1, len(string_split(text, ' ')) + 1)) AS r(i)
        |WHERE doc_id < 50 ORDER BY doc_id, pos""".stripMargin,

    "q52_pii_scrub" ->
      """WITH s AS (SELECT c_custkey,
        |c_name || ' <' || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) ||
        |'@mail.test> ref ' || CAST(c_custkey * 7919 AS VARCHAR) AS raw FROM customer)
        |SELECT c_custkey, raw,
        |regexp_replace(regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |'[0-9]{3,}', '<NUM>', 'g') AS scrubbed
        |FROM s ORDER BY c_custkey""".stripMargin,

    "q53_centroids" ->
      """WITH x AS (SELECT vec_id % 8 AS bucket,
        |unnest(CAST(embedding AS DOUBLE[])) AS v,
        |unnest(range(1, len(embedding) + 1)) AS dim FROM embeddings),
        |nv AS (SELECT vec_id % 8 AS bucket, count(*) AS n_vecs FROM embeddings GROUP BY 1)
        |SELECT x.bucket AS bucket, nv.n_vecs, CAST(dim AS INTEGER) AS dim, round(avg(v), 6) AS c
        |FROM x JOIN nv ON x.bucket = nv.bucket
        |GROUP BY x.bucket, nv.n_vecs, dim ORDER BY x.bucket, dim""".stripMargin,

    "q54_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
        |CAST(1 AS BIGINT) AS version, 0 AS src FROM orders),
        |upd AS (SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
        |CAST(2 AS BIGINT) AS version, 1 AS src FROM orders WHERE o_orderkey % 10 = 3),
        |u AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |ORDER BY version DESC, src DESC) AS rn FROM (SELECT * FROM base UNION ALL SELECT * FROM upd))
        |SELECT o_orderkey, o_orderstatus, o_totalprice, version
        |FROM u WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,

    "q55_ntile" ->
      """WITH q AS (SELECT o_orderpriority, o_totalprice,
        |ntile(4) OVER (PARTITION BY o_orderpriority
        |ORDER BY o_totalprice, o_orderkey) AS quartile FROM orders)
        |SELECT o_orderpriority, CAST(quartile AS INTEGER) AS quartile, count(*) AS n,
        |min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q56_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q57_levenshtein" ->
      """WITH x AS (SELECT c_custkey, c_mktsegment, c_name,
        |lead(c_name) OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS next_name
        |FROM customer)
        |SELECT c_custkey, c_mktsegment,
        |CAST(levenshtein(c_name, next_name) AS INTEGER) AS edit_dist
        |FROM x WHERE next_name IS NOT NULL ORDER BY c_custkey""".stripMargin,

    "q58_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", CAST(min($c) AS VARCHAR) AS min_val,
           |CAST(max($c) AS VARCHAR) AS max_val,
           |CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders""".stripMargin
      Seq("o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q60_topk_agg" ->
      """WITH j AS (SELECT c_mktsegment, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY c_mktsegment
        |ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, CAST(rank AS INTEGER) AS rank, o_orderkey, o_totalprice
        |FROM j WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin,

    "q61_winsorize" ->
      """WITH f AS (SELECT l_returnflag,
        |quantile_cont(l_extendedprice, 0.05) AS lo,
        |quantile_cont(l_extendedprice, 0.95) AS hi
        |FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber,
        |round(least(greatest(l_extendedprice, lo), hi), 6) AS price_w
        |FROM lineitem JOIN f USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q62_stratified" ->
      s"""SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
         |FROM documents
         |WHERE ${dbucket("text", 100)} < CASE WHEN lang = 'en' THEN 20 ELSE 5 END
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q63_seq_pack" ->
      """WITH x AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS w FROM documents),
        |c AS (SELECT greatest(CAST(floor((sum(w) OVER (ORDER BY doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) / 512.0) AS BIGINT), 0) AS pack_id, w FROM x)
        |SELECT pack_id, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS total_tokens
        |FROM c GROUP BY pack_id ORDER BY pack_id""".stripMargin,

    "q64_split_assign" ->
      s"""WITH h AS (SELECT lang, doc_id, ${dbucket("text", 100)} AS b FROM documents)
         |SELECT lang,
         |CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |count(*) AS n, min(doc_id) AS first_doc
         |FROM h GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    "q65_dedup_clusters" ->
      s"""WITH RECURSIVE $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst)
         |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // Same clusters, different distributed algorithm on the Spark side
    // (large-star/small-star) — the oracle is the q65 reachability CTE.
    "q79_cc_star" ->
      s"""WITH RECURSIVE $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst)
         |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "q66_sliding_window" ->
      """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |w AS (SELECT event_type,
        |make_timestamp((us // 900000000) * 900000000 - k.k * 900000000) AS win_start
        |FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k)
        |SELECT win_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q67_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |coalesce(l_linestatus, 'ALL') AS status,
        |CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
        |count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status, g_flag, g_status""".stripMargin,

    "q68_robust_scale" ->
      """WITH m AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        |FROM lineitem GROUP BY 1),
        |d AS (SELECT l.l_returnflag, l_orderkey, l_linenumber, l_extendedprice, med
        |FROM lineitem l JOIN m USING (l_returnflag)),
        |md AS (SELECT l_returnflag, quantile_cont(abs(l_extendedprice - med), 0.5) AS mad
        |FROM d GROUP BY 1)
        |SELECT l_orderkey, l_linenumber,
        |round((l_extendedprice - med) / (1.4826 * mad), 6) AS robust_z
        |FROM d JOIN md USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q69_nullsafe_join" ->
      """WITH d AS (SELECT event_id,
        |CASE WHEN user_id % 5 = 0 THEN NULL ELSE user_id END AS u FROM events),
        |c AS (SELECT u, count(*) AS n_per_user FROM d GROUP BY u)
        |SELECT d.event_id, c.n_per_user
        |FROM d JOIN c ON d.u IS NOT DISTINCT FROM c.u
        |ORDER BY d.event_id""".stripMargin,

    "q33_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens,
        |round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Mirrors osv5mFrame's synthesis (only the columns the output observes)
    // and the whole process_batch chain: trim, epoch->1970-sentinel date
    // parts, chunk-scoped id-ordered ffill/bfill (the reference fills per
    // 100k-row chunk, read_csv_s3_train.py:47,77-80 — both IGNORE NULLS
    // windows PARTITION BY floor(key/100000)), Unknown fill, sorted-distinct
    // label codes (dense_rank-1 == sklearn LabelEncoder), zero-fill, z-score
    // with population stddev. Fill order is VARCHAR `id` on both sides.
    "q72_osv5m_clean" ->
      """WITH base AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |CAST(floor(o_orderkey / 100000) AS BIGINT) AS fill_chunk,
        |CASE WHEN o_orderkey % 19 = 0 THEN NULL ELSE CAST(o_orderkey % 180 - 90 AS DOUBLE) + 0.25 END AS latitude,
        |CASE WHEN o_orderkey % 23 = 0 THEN NULL ELSE CAST(o_orderkey % 360 - 180 AS DOUBLE) + 0.5 END AS longitude,
        |CASE WHEN o_orderkey % 29 = 0 THEN NULL ELSE CAST(o_orderkey % 1000 AS DOUBLE) / 8.0 END AS dist_sea,
        |CASE WHEN o_orderkey % 31 = 0 THEN NULL ELSE CAST(o_orderkey % 64 AS DOUBLE) / 4.0 END AS road_index,
        |concat('  C', CAST(o_orderkey % 7 AS VARCHAR), ' ') AS country,
        |CASE WHEN o_orderkey % 13 < 2 THEN NULL ELSE concat(' R', CAST(o_orderkey % 5 AS VARCHAR)) END AS region,
        |CASE WHEN o_orderkey % 13 IN (3, 4) THEN NULL ELSE concat('S', CAST(o_orderkey % 4 AS VARCHAR), ' ') END AS subregion,
        |CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE concat('City', CAST(o_orderkey % 9 AS VARCHAR)) END AS city,
        |CASE WHEN o_orderkey % 37 = 0 THEN NULL ELSE concat('U', CAST(o_orderkey % 3 AS VARCHAR)) END AS unique_country,
        |CASE WHEN o_orderkey % 7 < 3 THEN NULL ELSE concat('UC', CAST(o_orderkey % 11 AS VARCHAR)) END AS unique_city,
        |CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE concat('user_', CAST(o_orderkey % 50 AS VARCHAR)) END AS creator_username,
        |CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE 400000000000 + (o_orderkey % 3650) * 86400000 + (o_orderkey % 86400) * 1000 END AS captured_at
        |FROM orders),
        |t AS (SELECT id, fill_chunk, latitude, longitude, dist_sea, road_index, unique_city, creator_username,
        |trim(country) AS country, trim(region) AS region, trim(subregion) AS subregion,
        |trim(city) AS city, trim(unique_country) AS unique_country,
        |CAST(coalesce(year(epoch_ms(captured_at)), 1970) AS INTEGER) AS year,
        |CAST(coalesce(month(epoch_ms(captured_at)), 1) AS INTEGER) AS month,
        |CAST(coalesce(day(epoch_ms(captured_at)), 1) AS INTEGER) AS day
        |FROM base),
        |f AS (SELECT id, year, month, day, country, creator_username, latitude, longitude, dist_sea, road_index,
        |coalesce(last_value(region IGNORE NULLS) OVER wf, first_value(region IGNORE NULLS) OVER wb) AS region_f,
        |coalesce(last_value(subregion IGNORE NULLS) OVER wf, first_value(subregion IGNORE NULLS) OVER wb) AS subregion_f,
        |coalesce(last_value(city IGNORE NULLS) OVER wf, first_value(city IGNORE NULLS) OVER wb) AS city_f,
        |coalesce(last_value(unique_country IGNORE NULLS) OVER wf, first_value(unique_country IGNORE NULLS) OVER wb) AS ucountry_f,
        |coalesce(last_value(unique_city IGNORE NULLS) OVER wf, first_value(unique_city IGNORE NULLS) OVER wb) AS ucity_f
        |FROM t
        |WINDOW wf AS (PARTITION BY fill_chunk ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |wb AS (PARTITION BY fill_chunk ORDER BY id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |e AS (SELECT *,
        |coalesce(latitude, 0) AS lat0, coalesce(longitude, 0) AS lon0,
        |coalesce(dist_sea, 0) AS dsea0, coalesce(road_index, 0) AS ri0,
        |CAST(dense_rank() OVER (ORDER BY country) - 1 AS BIGINT) AS country_code,
        |CAST(dense_rank() OVER (ORDER BY region_f) - 1 AS BIGINT) AS region_code,
        |CAST(dense_rank() OVER (ORDER BY subregion_f) - 1 AS BIGINT) AS subregion_code,
        |CAST(dense_rank() OVER (ORDER BY city_f) - 1 AS BIGINT) AS city_code,
        |CAST(dense_rank() OVER (ORDER BY ucountry_f) - 1 AS BIGINT) AS unique_country_code
        |FROM f)
        |SELECT id, year, month, day, region_f AS region, city_f AS city,
        |coalesce(ucity_f, 'Unknown') AS unique_city,
        |coalesce(creator_username, 'Unknown') AS creator_username,
        |country_code, region_code, subregion_code, city_code, unique_country_code,
        |round((lat0 - avg(lat0) OVER ()) / stddev_pop(lat0) OVER (), 6) AS latitude_z,
        |round((lon0 - avg(lon0) OVER ()) / stddev_pop(lon0) OVER (), 6) AS longitude_z,
        |round((dsea0 - avg(dsea0) OVER ()) / stddev_pop(dsea0) OVER (), 6) AS dist_sea_z,
        |round((ri0 - avg(ri0) OVER ()) / stddev_pop(ri0) OVER (), 6) AS road_index_z
        |FROM e ORDER BY id""".stripMargin,

    // Same assignment arithmetic as q28; the probe side keeps rr <= 2 cells.
    "q74_ann_multiprobe" ->
      """WITH cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ranked AS (SELECT corp.vec_id, corp.v, cent.cell_id,
        |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
        |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
        |    cent.cell_id) AS rr
        |  FROM corp CROSS JOIN cent),
        |asg AS (SELECT vec_id, v, cell_id FROM ranked WHERE rr = 1),
        |probes AS (SELECT vec_id AS probe_id, v AS pv, cell_id FROM ranked
        |  WHERE rr <= 2 AND vec_id >= 10 AND vec_id < 20),
        |sc AS (SELECT p.probe_id, a.vec_id AS neighbor_id,
        |list_dot_product(p.pv, a.v) / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(a.v, a.v))) AS cos
        |FROM probes p JOIN asg a ON p.cell_id = a.cell_id AND a.vec_id != p.probe_id),
        |r AS (SELECT probe_id, neighbor_id, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine
        |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    "q73_tokenize" ->
      """WITH m AS (SELECT doc_id, concat('  (', text, ')...  end!!  ') AS t FROM documents)
        |SELECT doc_id,
        |CAST(len(list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '')) AS INTEGER) AS n_ws,
        |CAST(len(regexp_extract_all(t, '[A-Za-z0-9]+')) AS INTEGER) AS n_words,
        |regexp_extract_all(t, '[A-Za-z0-9]+')[1] AS first_word
        |FROM m ORDER BY doc_id""".stripMargin,

    // q72's fill with PARTITION BY country in both IGNORE NULLS windows —
    // the distributed analogue of the reference's fill-within-chunk
    // (read_csv_s3_train.py:77-80). Same synthesis CTE as q72, trimmed to
    // the columns the output observes.
    "q78_osv5m_partfill" ->
      """WITH base AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |CASE WHEN o_orderkey % 19 = 0 THEN NULL ELSE CAST(o_orderkey % 180 - 90 AS DOUBLE) + 0.25 END AS latitude,
        |concat('  C', CAST(o_orderkey % 7 AS VARCHAR), ' ') AS country,
        |CASE WHEN o_orderkey % 13 < 2 THEN NULL ELSE concat(' R', CAST(o_orderkey % 5 AS VARCHAR)) END AS region,
        |CASE WHEN o_orderkey % 13 IN (3, 4) THEN NULL ELSE concat('S', CAST(o_orderkey % 4 AS VARCHAR), ' ') END AS subregion,
        |CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE concat('City', CAST(o_orderkey % 9 AS VARCHAR)) END AS city,
        |CASE WHEN o_orderkey % 37 = 0 THEN NULL ELSE concat('U', CAST(o_orderkey % 3 AS VARCHAR)) END AS unique_country,
        |CASE WHEN o_orderkey % 7 < 3 THEN NULL ELSE concat('UC', CAST(o_orderkey % 11 AS VARCHAR)) END AS unique_city,
        |CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE concat('user_', CAST(o_orderkey % 50 AS VARCHAR)) END AS creator_username,
        |CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE 400000000000 + (o_orderkey % 3650) * 86400000 + (o_orderkey % 86400) * 1000 END AS captured_at
        |FROM orders),
        |t AS (SELECT id, latitude, unique_city, creator_username,
        |trim(country) AS country, trim(region) AS region, trim(subregion) AS subregion,
        |trim(city) AS city, trim(unique_country) AS unique_country,
        |CAST(coalesce(year(epoch_ms(captured_at)), 1970) AS INTEGER) AS year
        |FROM base),
        |f AS (SELECT id, country, year, creator_username, latitude,
        |coalesce(last_value(region IGNORE NULLS) OVER wf, first_value(region IGNORE NULLS) OVER wb) AS region,
        |coalesce(last_value(subregion IGNORE NULLS) OVER wf, first_value(subregion IGNORE NULLS) OVER wb) AS subregion,
        |coalesce(last_value(city IGNORE NULLS) OVER wf, first_value(city IGNORE NULLS) OVER wb) AS city,
        |coalesce(last_value(unique_country IGNORE NULLS) OVER wf, first_value(unique_country IGNORE NULLS) OVER wb) AS unique_country,
        |coalesce(last_value(unique_city IGNORE NULLS) OVER wf, first_value(unique_city IGNORE NULLS) OVER wb) AS unique_city_f
        |FROM t
        |WINDOW wf AS (PARTITION BY country ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |wb AS (PARTITION BY country ORDER BY id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT id, country, year, region, subregion, city, unique_country,
        |coalesce(unique_city_f, 'Unknown') AS unique_city,
        |coalesce(creator_username, 'Unknown') AS creator_username,
        |coalesce(latitude, 0) AS lat0
        |FROM f ORDER BY id""".stripMargin,

    // The images cannot be decoded in SQL, but they don't need to be: the
    // generator (Media.syntheticImage) makes near-dup structure a pure
    // function of the id — renderings pair iff they share a pattern
    // (id % 16) — and MediaSpec pins the dHash distance margins that make
    // the banded-pair output equal exactly that relation.
    // The floor verdict is id-arithmetic (see the query comment): only the
    // synthesized template docs fall below the 0.1 boilerplate floor.
    "q193_compression_floor" ->
      """SELECT doc_id, doc_id % 6 = 0 AS below_floor
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q192_image_neardup" ->
      """WITH k AS (SELECT range AS k FROM range(0, 64))
        |SELECT a.k AS id_a, b.k AS id_b
        |FROM k a JOIN k b ON a.k % 16 = b.k % 16 AND a.k < b.k
        |ORDER BY id_a, id_b""".stripMargin,

    // Same id-arithmetic relation as q192 (see the query comment): the
    // energy-contour hash cannot be computed in SQL, but the pairing it
    // must produce can.
    "q194_audio_neardup" ->
      """WITH k AS (SELECT range AS k FROM range(0, 64))
        |SELECT a.k AS id_a, b.k AS id_b
        |FROM k a JOIN k b ON a.k % 16 = b.k % 16 AND a.k < b.k
        |ORDER BY id_a, id_b""".stripMargin,

    // Same exact int64 arithmetic as Clustering.equiWidthBucket/zValue:
    // integer DIV bucketing (no float boundary) and an explicit 16-term
    // bit interleave.
    "q195_zorder" ->
      """WITH s AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
        |  min(epoch_us(ts)) AS mnt, max(epoch_us(ts)) AS mxt FROM events),
        |b AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |  ((user_id - mnu) * 256) // (mxu - mnu + 1) AS bu,
        |  ((epoch_us(ts) - mnt) * 256) // (mxt - mnt + 1) AS bt
        |  FROM events, s),
        |z AS (SELECT user_id, ts_us,
        |  (((bu >> 0) & 1) << 1) + (((bt >> 0) & 1) << 0) +
        |  (((bu >> 1) & 1) << 3) + (((bt >> 1) & 1) << 2) +
        |  (((bu >> 2) & 1) << 5) + (((bt >> 2) & 1) << 4) +
        |  (((bu >> 3) & 1) << 7) + (((bt >> 3) & 1) << 6) +
        |  (((bu >> 4) & 1) << 9) + (((bt >> 4) & 1) << 8) +
        |  (((bu >> 5) & 1) << 11) + (((bt >> 5) & 1) << 10) +
        |  (((bu >> 6) & 1) << 13) + (((bt >> 6) & 1) << 12) +
        |  (((bu >> 7) & 1) << 15) + (((bt >> 7) & 1) << 14) AS zkey FROM b)
        |SELECT zkey // 256 AS zcell, count(*) AS n_events,
        |  min(user_id) AS min_user, max(user_id) AS max_user,
        |  min(ts_us) AS min_ts_us, max(ts_us) AS max_ts_us
        |FROM z GROUP BY zcell ORDER BY zcell""".stripMargin,

    // Single-char vocab makes every Viterbi arc length 1, so the
    // segmentation is the character sequence itself — logp sums are
    // multiples of 0.1 (float error ~1e-12 vs the 4-dp rounding grid),
    // and unknown chars (uppercase) price at the -20 unk arc in both
    // engines.
    "q198_unigram_char_twin" ->
      """WITH v(piece, logp) AS (VALUES
        |  ('e', -2.5), ('t', -2.6), ('a', -2.7), ('o', -2.8), ('i', -2.8),
        |  ('n', -2.8), ('s', -2.9), ('r', -2.9), ('h', -3.0), ('l', -3.2),
        |  ('d', -3.3), ('c', -3.5), ('u', -3.5), ('m', -3.6), ('f', -3.8),
        |  ('p', -3.8), ('g', -3.9), ('w', -3.9), ('y', -4.0), ('b', -4.1),
        |  ('v', -4.5), ('k', -4.7), ('x', -5.5), ('j', -5.6), ('q', -5.7),
        |  ('z', -5.8), ('0', -5.0), ('1', -5.0), ('2', -5.0), ('3', -5.0),
        |  ('4', -5.0), ('5', -5.0), ('6', -5.0), ('7', -5.0), ('8', -5.0),
        |  ('9', -5.0)),
        |w AS (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word
        |  FROM documents),
        |ch AS (SELECT doc_id, unnest(regexp_extract_all(word, '[A-Za-z0-9]')) AS c
        |  FROM w),
        |sc AS (SELECT doc_id, COALESCE(v.logp, -20.0) AS lp
        |  FROM ch LEFT JOIN v ON ch.c = v.piece),
        |agg AS (SELECT doc_id, count(*) AS n_pieces, round(sum(lp), 4) AS viterbi_logp
        |  FROM sc GROUP BY doc_id),
        |wc AS (SELECT doc_id, count(*) AS n_words FROM w GROUP BY doc_id)
        |SELECT wc.doc_id, n_words, n_pieces, viterbi_logp,
        |  round(CAST(n_pieces AS DOUBLE) / n_words, 6) AS pieces_per_word
        |FROM wc JOIN agg USING (doc_id) ORDER BY wc.doc_id""".stripMargin,

    // The generator arithmetic IS the oracle (q192's discipline): the
    // sniffed dims equal the requested dims and the canonical format is
    // a function of k/16 — MediaSpec pins both against real encoder
    // bytes, so the SQL never touches an image.
    "q200_image_audit" ->
      """WITH k AS (SELECT range AS k FROM range(0, 64)),
        |d AS (SELECT k,
        |  CASE k // 16 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |               WHEN 2 THEN 'gif' ELSE 'bmp' END AS fmt,
        |  CAST(32 + (k % 16) * 24 AS INTEGER) AS width,
        |  CAST(48 + (k % 8) * 40 AS INTEGER) AS height FROM k),
        |a AS (SELECT k AS img_id, fmt, width, height,
        |  round(CAST(greatest(width, height) AS DOUBLE)
        |    / least(width, height), 6) AS aspect,
        |  least(width, height) < 128 AS small,
        |  round(CAST(greatest(width, height) AS DOUBLE)
        |    / least(width, height), 6) > 2.0 AS stretched FROM d)
        |SELECT img_id, fmt, width, height, aspect,
        |  NOT (small OR stretched) AS keep,
        |  CASE WHEN small AND stretched THEN 'small+aspect'
        |       WHEN small THEN 'small'
        |       WHEN stretched THEN 'aspect' END AS reject_reason
        |FROM a ORDER BY img_id""".stripMargin,

    // The 2x2-block covariance is computed with the engine's exact
    // sum/sum-of-products formula (integer sums, dyadic divisions — bit-
    // identical to the MatrixGram fit), then the eigendecomposition is
    // the closed 2x2 quadratic: lambda = ((a+c) +- sqrt((a-c)^2+4b^2))/2
    // with eigenvector (b, lambda - a) per block; rows rank by eigenvalue
    // descending and the sign convention (largest-|coordinate| entry
    // positive, ties to the lower index) matches jacobiEigen verbatim.
    "q203_pca_block_twin" ->
      """WITH t AS (SELECT range AS id FROM range(0, 256)),
        |v AS (SELECT CAST(id % 4 AS DOUBLE) AS x0,
        |  CAST((id % 4) * (id % 4) AS DOUBLE) AS x1,
        |  CAST((id // 4) % 8 AS DOUBLE) AS x2,
        |  CAST((((id // 4) % 8) * ((id // 4) % 8)) % 8 AS DOUBLE) AS x3 FROM t),
        |m AS (SELECT
        |  sum(x0*x0)/256 - (sum(x0)/256)*(sum(x0)/256) AS a1,
        |  sum(x0*x1)/256 - (sum(x0)/256)*(sum(x1)/256) AS b1,
        |  sum(x1*x1)/256 - (sum(x1)/256)*(sum(x1)/256) AS c1,
        |  sum(x2*x2)/256 - (sum(x2)/256)*(sum(x2)/256) AS a2,
        |  sum(x2*x3)/256 - (sum(x2)/256)*(sum(x3)/256) AS b2,
        |  sum(x3*x3)/256 - (sum(x3)/256)*(sum(x3)/256) AS c2 FROM v),
        |e AS (
        |  SELECT (a1+c1+sqrt((a1-c1)*(a1-c1)+4*b1*b1))/2 AS lam, a1 AS a, b1 AS b,
        |    0 AS off, a1+c1+a2+c2 AS tr FROM m
        |  UNION ALL
        |  SELECT (a1+c1-sqrt((a1-c1)*(a1-c1)+4*b1*b1))/2, a1, b1, 0, a1+c1+a2+c2 FROM m
        |  UNION ALL
        |  SELECT (a2+c2+sqrt((a2-c2)*(a2-c2)+4*b2*b2))/2, a2, b2, 2, a1+c1+a2+c2 FROM m
        |  UNION ALL
        |  SELECT (a2+c2-sqrt((a2-c2)*(a2-c2)+4*b2*b2))/2, a2, b2, 2, a1+c1+a2+c2 FROM m),
        |w AS (SELECT lam, tr, off, b AS vx, lam - a AS vy FROM e)
        |SELECT CAST(row_number() OVER (ORDER BY lam DESC) AS INTEGER) AS component,
        |  round(lam, 6) AS eigenvalue, round(lam / tr, 6) AS var_ratio,
        |  CAST(CASE WHEN abs(vx) >= abs(vy) THEN off ELSE off + 1 END AS INTEGER) AS top_dim,
        |  round((CASE WHEN abs(vx) >= abs(vy) THEN abs(vx) ELSE abs(vy) END)
        |    / sqrt(vx*vx + vy*vy), 6) AS top_loading
        |FROM w ORDER BY component""".stripMargin,

    // Keep-first over clusters that are exactly the 16 patterns (q192's
    // pair-structure argument + exact pigeonhole banding at radius 3)
    // leaves the minimal id per pattern — which IS 0..15 by the
    // generator's id layout (pattern = id mod 16, four renderings at
    // id, id+16, id+32, id+48).
    "q205_image_scrub_stream" ->
      "SELECT range AS img_id FROM range(0, 16) ORDER BY img_id",

    // Batch keep-first over the ORIGINALS is the streaming answer: every
    // wave-1 re-crawl (id + 1e6, same text) is flipped by its later-
    // arriving, smaller-id original, and within the originals the
    // smallest doc_id per text survives.
    "q206_text_scrub_stream" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id = (SELECT min(d2.doc_id) FROM documents d2
        |                WHERE d2.text = documents.text)
        |ORDER BY doc_id""".stripMargin,

    // Keep-first over the fuzzyScrubDocs fixture's 24 near-dup clusters:
    // within-cluster banding is exact and cross-cluster collision-free
    // (margins pinned in EventStreamsSpec), so after the re-crawl wave's
    // keepers are all retroactively flipped by their smaller-id originals
    // the kept set IS the minimal original per cluster — ids 0,4,...,92
    // by the generator's id layout (cluster = id div 4).
    "q210_fuzzy_scrub_stream" ->
      "SELECT range * 4 AS doc_id FROM range(0, 24) ORDER BY doc_id",

    // Diagonal covariance => Mahalanobis is the weighted Euclidean closed
    // form. Mirrors the Spark arithmetic op for op: raw integer moment
    // sums, /256 (exact), v = p - m*m, reciprocal-multiply (the kernel
    // precomputes 1/lambda), and the eigen-DESC accumulation order
    // (dims 3,2,1,0).
    "q211_maha_diag_twin" ->
      """WITH f AS (SELECT range AS id,
        |    CAST(range % 4 AS DOUBLE) AS x0,
        |    CAST(((range // 4) % 4) * 2 AS DOUBLE) AS x1,
        |    CAST(((range // 16) % 4) * 4 AS DOUBLE) AS x2,
        |    CAST(((range // 64) % 4) * 8 AS DOUBLE) AS x3
        |  FROM range(0, 256)),
        |v AS (SELECT
        |    sum(x0)/256.0 AS m0, sum(x1)/256.0 AS m1,
        |    sum(x2)/256.0 AS m2, sum(x3)/256.0 AS m3,
        |    sum(x0*x0)/256.0 - (sum(x0)/256.0)*(sum(x0)/256.0) AS v0,
        |    sum(x1*x1)/256.0 - (sum(x1)/256.0)*(sum(x1)/256.0) AS v1,
        |    sum(x2*x2)/256.0 - (sum(x2)/256.0)*(sum(x2)/256.0) AS v2,
        |    sum(x3*x3)/256.0 - (sum(x3)/256.0)*(sum(x3)/256.0) AS v3
        |  FROM f)
        |SELECT f.id AS vec_id,
        |  round(((((x3-m3)*(x3-m3))*(1.0/v3) + ((x2-m2)*(x2-m2))*(1.0/v2))
        |    + ((x1-m1)*(x1-m1))*(1.0/v1)) + ((x0-m0)*(x0-m0))*(1.0/v0), 4) AS maha2
        |FROM f, v ORDER BY vec_id""".stripMargin,

    // Ridge on the diagonal design: beta_cj = cov_j / (var_j + 1e-3),
    // r2 from the same moments with solveRidge's exact accumulation
    // order for bb (sum beta_j*cov_j ascending) and btb
    // (sum beta_j*(var_j*beta_j) ascending) — pre-rounding doubles are
    // bit-identical to the Spark model's.
    "q212_ridge_diag_twin" ->
      """WITH f AS (SELECT range AS id,
        |    CAST(range % 4 AS DOUBLE) AS x0,
        |    CAST(((range // 4) % 4) * 2 AS DOUBLE) AS x1,
        |    CAST(((range // 16) % 4) * 4 AS DOUBLE) AS x2,
        |    CAST(((range // 64) % 4) * 8 AS DOUBLE) AS x3,
        |    least(range % 4, (range // 4) % 4) AS cls
        |  FROM range(0, 256)),
        |xv AS (SELECT
        |    sum(x0)/256.0 AS m0, sum(x1)/256.0 AS m1,
        |    sum(x2)/256.0 AS m2, sum(x3)/256.0 AS m3,
        |    sum(x0*x0)/256.0 - (sum(x0)/256.0)*(sum(x0)/256.0) AS v0,
        |    sum(x1*x1)/256.0 - (sum(x1)/256.0)*(sum(x1)/256.0) AS v1,
        |    sum(x2*x2)/256.0 - (sum(x2)/256.0)*(sum(x2)/256.0) AS v2,
        |    sum(x3*x3)/256.0 - (sum(x3)/256.0)*(sum(x3)/256.0) AS v3
        |  FROM f),
        |ym AS (SELECT c.range AS class,
        |    sum(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END)/256.0 AS my,
        |    sum(x0*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/256.0 AS s0,
        |    sum(x1*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/256.0 AS s1,
        |    sum(x2*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/256.0 AS s2,
        |    sum(x3*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/256.0 AS s3
        |  FROM f, range(0, 4) c GROUP BY c.range),
        |bet AS (SELECT class,
        |    (s0 - m0*my) AS c0, (s1 - m1*my) AS c1,
        |    (s2 - m2*my) AS c2, (s3 - m3*my) AS c3,
        |    (s0 - m0*my) / (v0 + 0.001) AS b0,
        |    (s1 - m1*my) / (v1 + 0.001) AS b1,
        |    (s2 - m2*my) / (v2 + 0.001) AS b2,
        |    (s3 - m3*my) / (v3 + 0.001) AS b3,
        |    (my - my*my) AS vy, v0, v1, v2, v3
        |  FROM ym, xv),
        |r AS (SELECT class, b0, b1, b2, b3,
        |    CASE WHEN vy <= 0 THEN 0.0 ELSE
        |      1.0 - (((vy - 2.0*((((b0*c0 + b1*c1) + b2*c2) + b3*c3)))
        |        + ((((b0*(v0*b0) + b1*(v1*b1)) + b2*(v2*b2)) + b3*(v3*b3)))) / vy)
        |    END AS r2
        |  FROM bet)
        |SELECT CAST(r.class AS INTEGER) AS class, CAST(d.range AS INTEGER) AS dim,
        |  round(CASE d.range WHEN 0 THEN b0 WHEN 1 THEN b1
        |        WHEN 2 THEN b2 ELSE b3 END, 6) + 0.0 AS beta,
        |  round(r2, 6) + 0.0 AS r2
        |FROM r, range(0, 4) d ORDER BY class, dim""".stripMargin,

    // Leave-fold-out moments over the complement equal Spark's
    // total-minus-fold subtraction exactly (integer sums), /128 is
    // exact, and each complement is still a product design — so the same
    // closed-form solve per fold.
    "q213_ridge_cv_twin" ->
      """WITH f AS (SELECT range AS id,
        |    CAST(range % 4 AS DOUBLE) AS x0,
        |    CAST(((range // 4) % 4) * 2 AS DOUBLE) AS x1,
        |    CAST(((range // 16) % 4) * 4 AS DOUBLE) AS x2,
        |    CAST(((range // 64) % 4) * 8 AS DOUBLE) AS x3,
        |    least(range % 4, (range // 4) % 4) AS cls,
        |    (range // 128) % 2 AS fold
        |  FROM range(0, 256)),
        |xv AS (SELECT g.range AS fold,
        |    sum(x0)/128.0 AS m0, sum(x1)/128.0 AS m1,
        |    sum(x2)/128.0 AS m2, sum(x3)/128.0 AS m3,
        |    sum(x0*x0)/128.0 - (sum(x0)/128.0)*(sum(x0)/128.0) AS v0,
        |    sum(x1*x1)/128.0 - (sum(x1)/128.0)*(sum(x1)/128.0) AS v1,
        |    sum(x2*x2)/128.0 - (sum(x2)/128.0)*(sum(x2)/128.0) AS v2,
        |    sum(x3*x3)/128.0 - (sum(x3)/128.0)*(sum(x3)/128.0) AS v3
        |  FROM range(0, 2) g, f WHERE f.fold <> g.range GROUP BY g.range),
        |ym AS (SELECT g.range AS fold, c.range AS class,
        |    sum(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END)/128.0 AS my,
        |    sum(x0*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/128.0 AS s0,
        |    sum(x1*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/128.0 AS s1,
        |    sum(x2*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/128.0 AS s2,
        |    sum(x3*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/128.0 AS s3
        |  FROM range(0, 2) g, range(0, 4) c, f WHERE f.fold <> g.range
        |  GROUP BY g.range, c.range),
        |bet AS (SELECT ym.fold, class,
        |    (s0 - m0*my) AS c0, (s1 - m1*my) AS c1,
        |    (s2 - m2*my) AS c2, (s3 - m3*my) AS c3,
        |    (s0 - m0*my) / (v0 + 0.001) AS b0,
        |    (s1 - m1*my) / (v1 + 0.001) AS b1,
        |    (s2 - m2*my) / (v2 + 0.001) AS b2,
        |    (s3 - m3*my) / (v3 + 0.001) AS b3,
        |    (my - my*my) AS vy, v0, v1, v2, v3
        |  FROM ym JOIN xv ON ym.fold = xv.fold),
        |r AS (SELECT fold, class, b0, b1, b2, b3,
        |    CASE WHEN vy <= 0 THEN 0.0 ELSE
        |      1.0 - (((vy - 2.0*((((b0*c0 + b1*c1) + b2*c2) + b3*c3)))
        |        + ((((b0*(v0*b0) + b1*(v1*b1)) + b2*(v2*b2)) + b3*(v3*b3)))) / vy)
        |    END AS r2
        |  FROM bet)
        |SELECT CAST(r.fold AS INTEGER) AS fold, CAST(128 AS BIGINT) AS n_fit,
        |  CAST(r.class AS INTEGER) AS class, CAST(d.range AS INTEGER) AS dim,
        |  round(CASE d.range WHEN 0 THEN b0 WHEN 1 THEN b1
        |        WHEN 2 THEN b2 ELSE b3 END, 6) + 0.0 AS beta,
        |  round(r2, 6) + 0.0 AS r2
        |FROM r, range(0, 4) d ORDER BY fold, class, dim""".stripMargin,

    // Exact-percentile rank buckets + Morton interleave, all integer-
    // exact: cut positions i*256 land on data points (no interpolation),
    // so quantile_cont returns the same integer-valued cuts Spark's
    // `percentile` fit collected, and bucket = count of cuts passed.
    "q214_rankz_gate" ->
      """WITH f AS (SELECT range AS id,
        |    range * range AS a, (range * 1237) % 2049 AS b
        |  FROM range(0, 2049)),
        |q AS (SELECT
        |    quantile_cont(a, 0.125) AS qa1, quantile_cont(a, 0.25) AS qa2,
        |    quantile_cont(a, 0.375) AS qa3, quantile_cont(a, 0.5) AS qa4,
        |    quantile_cont(a, 0.625) AS qa5, quantile_cont(a, 0.75) AS qa6,
        |    quantile_cont(a, 0.875) AS qa7,
        |    quantile_cont(b, 0.125) AS qb1, quantile_cont(b, 0.25) AS qb2,
        |    quantile_cont(b, 0.375) AS qb3, quantile_cont(b, 0.5) AS qb4,
        |    quantile_cont(b, 0.625) AS qb5, quantile_cont(b, 0.75) AS qb6,
        |    quantile_cont(b, 0.875) AS qb7
        |  FROM f),
        |z AS (SELECT id,
        |    CAST((CASE WHEN a >= qa1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN a >= qa2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN a >= qa3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN a >= qa4 THEN 1 ELSE 0 END)
        |      + (CASE WHEN a >= qa5 THEN 1 ELSE 0 END)
        |      + (CASE WHEN a >= qa6 THEN 1 ELSE 0 END)
        |      + (CASE WHEN a >= qa7 THEN 1 ELSE 0 END) AS BIGINT) AS zb_a,
        |    CAST((CASE WHEN b >= qb1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN b >= qb2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN b >= qb3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN b >= qb4 THEN 1 ELSE 0 END)
        |      + (CASE WHEN b >= qb5 THEN 1 ELSE 0 END)
        |      + (CASE WHEN b >= qb6 THEN 1 ELSE 0 END)
        |      + (CASE WHEN b >= qb7 THEN 1 ELSE 0 END) AS BIGINT) AS zb_b
        |  FROM f, q)
        |SELECT id, zb_a, zb_b,
        |  CAST((((zb_a >> 0) & 1) << 1) + (((zb_a >> 1) & 1) << 3)
        |    + (((zb_a >> 2) & 1) << 5) + (((zb_b >> 0) & 1) << 0)
        |    + (((zb_b >> 1) & 1) << 2) + (((zb_b >> 2) & 1) << 4) AS BIGINT) AS zkey
        |FROM z ORDER BY id""".stripMargin,

    // Keep-first over the semanticScrubVecs fixture's 24 clusters:
    // within-cluster cosines all clear 0.9 and the 8 vectors share a
    // hyperplane bucket (margins pinned in EventStreamsSpec); across
    // clusters supports are disjoint so cosine is exactly 0 — after the
    // re-crawl wave's keepers are retroactively flipped by the
    // smaller-id originals the kept set IS the minimal original per
    // cluster, ids 0,4,...,92 by the generator's layout.
    "q215_semantic_scrub_stream" ->
      "SELECT range * 4 AS vec_id FROM range(0, 24) ORDER BY vec_id",

    // Same closed form for the banded replay: the fixture's shared-bucket
    // proof is weight-agnostic, so it holds per band and the OR over
    // bands adds no cross-cluster pair (cross-cluster cosine is exactly 0
    // regardless of collisions).
    "q220_semantic_scrub_stream_banded" ->
      "SELECT range * 4 AS vec_id FROM range(0, 24) ORDER BY vec_id",

    // The ADC ordering is forced by construction: corpus dots against the
    // probe are the 256 distinct base-8 integers with digits {0,3,4,5}
    // (weights 8^j per subspace), all reconstruction norms equal 10, and
    // the PQ fit is lossless on the point-mass fixture — so the top-10 is
    // this literal (the diagonal id 3 holds the all-5s digit string; ids
    // 255..247 walk the next nine base-8 values down through the k ->
    // vec_id layout in the query comment). No float dot product appears.
    "q221_pq_ann_twin" ->
      """SELECT CAST(999 AS BIGINT) AS probe_id, CAST(r AS BIGINT) AS rank,
        |  CAST(n AS BIGINT) AS neighbor_id
        |FROM (VALUES (1, 3), (2, 255), (3, 254), (4, 253), (5, 252),
        |  (6, 251), (7, 250), (8, 249), (9, 248), (10, 247)) AS t(r, n)
        |ORDER BY rank""".stripMargin,

    // The Walsh-sign fixture's signed-binary dots, ranked: descending
    // Σ ±2^d with sign d = parity(i & (d+1)) — sixteen distinct integers,
    // equal norms, so the OPQ/ADC top-10 is forced (rotation preserves
    // cosines, point-mass cells make PQ lossless; see the query comment).
    "q222_opq_ann_twin" ->
      """SELECT CAST(999 AS BIGINT) AS probe_id, CAST(r AS BIGINT) AS rank,
        |  CAST(n AS BIGINT) AS neighbor_id
        |FROM (VALUES (1, 0), (2, 6), (3, 5), (4, 3), (5, 7),
        |  (6, 1), (7, 2), (8, 4), (9, 8), (10, 14)) AS t(r, n)
        |ORDER BY rank""".stripMargin,

    // The disjoint-support IVF-PQ fixture's dots a * 8^cluster, ranked:
    // the twelve nonzero rows (a in {3,4,5}) are distinct integers, the
    // four a=0 rows sit below rank 10 — the literal follows from the id
    // layout in the query comment.
    "q223_ivfpq_ann_twin" ->
      """SELECT CAST(999 AS BIGINT) AS probe_id, CAST(r AS BIGINT) AS rank,
        |  CAST(n AS BIGINT) AS neighbor_id
        |FROM (VALUES (1, 15), (2, 14), (3, 3), (4, 12), (5, 11),
        |  (6, 2), (7, 9), (8, 8), (9, 1), (10, 6)) AS t(r, n)
        |ORDER BY rank""".stripMargin,

    // Identical literal through the persisted-index path: parquet
    // round-trip must not perturb the serve.
    "q224_ivfpq_prefit_twin" ->
      """SELECT CAST(999 AS BIGINT) AS probe_id, CAST(r AS BIGINT) AS rank,
        |  CAST(n AS BIGINT) AS neighbor_id
        |FROM (VALUES (1, 15), (2, 14), (3, 3), (4, 12), (5, 11),
        |  (6, 2), (7, 9), (8, 8), (9, 1), (10, 6)) AS t(r, n)
        |ORDER BY rank""".stripMargin,

    // Every probe's forced ordering on the q223 fixture: same-cluster
    // peers by exact integer dot, then the exactly-0.0 cross-cluster
    // ties by id ASC (the TopKByScore buffer order). 16 x 10 rows.
    "q225_ivfpq_bigprobe_twin" ->
      """SELECT CAST(p AS BIGINT) AS probe_id, CAST(r AS BIGINT) AS rank,
        |  CAST(n AS BIGINT) AS neighbor_id
        |FROM (VALUES
        |  (0,1,5), (0,2,4), (0,3,6), (0,4,1), (0,5,2), (0,6,3), (0,7,7),
        |  (0,8,8), (0,9,9), (0,10,10), (4,1,0), (4,2,5), (4,3,1), (4,4,2),
        |  (4,5,3), (4,6,6), (4,7,7), (4,8,8), (4,9,9), (4,10,10), (5,1,0),
        |  (5,2,6), (5,3,4), (5,4,1), (5,5,2), (5,6,3), (5,7,7), (5,8,8),
        |  (5,9,9), (5,10,10), (6,1,5), (6,2,0), (6,3,1), (6,4,2), (6,5,3),
        |  (6,6,4), (6,7,7), (6,8,8), (6,9,9), (6,10,10), (1,1,8), (1,2,7),
        |  (1,3,9), (1,4,0), (1,5,2), (1,6,3), (1,7,4), (1,8,5), (1,9,6),
        |  (1,10,10), (7,1,1), (7,2,8), (7,3,0), (7,4,2), (7,5,3), (7,6,4),
        |  (7,7,5), (7,8,6), (7,9,9), (7,10,10), (8,1,1), (8,2,9), (8,3,7),
        |  (8,4,0), (8,5,2), (8,6,3), (8,7,4), (8,8,5), (8,9,6), (8,10,10),
        |  (9,1,8), (9,2,1), (9,3,0), (9,4,2), (9,5,3), (9,6,4), (9,7,5),
        |  (9,8,6), (9,9,7), (9,10,10), (2,1,11), (2,2,10), (2,3,12), (2,4,0),
        |  (2,5,1), (2,6,3), (2,7,4), (2,8,5), (2,9,6), (2,10,7), (10,1,2),
        |  (10,2,11), (10,3,0), (10,4,1), (10,5,3), (10,6,4), (10,7,5), (10,8,6),
        |  (10,9,7), (10,10,8), (11,1,2), (11,2,12), (11,3,10), (11,4,0),
        |  (11,5,1), (11,6,3), (11,7,4), (11,8,5), (11,9,6), (11,10,7),
        |  (12,1,11), (12,2,2), (12,3,0), (12,4,1), (12,5,3), (12,6,4), (12,7,5),
        |  (12,8,6), (12,9,7), (12,10,8), (3,1,14), (3,2,13), (3,3,15), (3,4,0),
        |  (3,5,1), (3,6,2), (3,7,4), (3,8,5), (3,9,6), (3,10,7), (13,1,3),
        |  (13,2,14), (13,3,0), (13,4,1), (13,5,2), (13,6,4), (13,7,5), (13,8,6),
        |  (13,9,7), (13,10,8), (14,1,3), (14,2,15), (14,3,13), (14,4,0),
        |  (14,5,1), (14,6,2), (14,7,4), (14,8,5), (14,9,6), (14,10,7),
        |  (15,1,14), (15,2,3), (15,3,0), (15,4,1), (15,5,2), (15,6,4), (15,7,5),
        |  (15,8,6), (15,9,7), (15,10,8)) AS t(p, r, n)
        |ORDER BY probe_id, rank""".stripMargin,

    // The cross-snapshot scrub's forced verdict: re-crawls 100-103 drop
    // (ADC cosine exactly 1.0), fresh 104-107 survive (every probed
    // candidate scores exactly 0.0).
    "q226_semantic_scrub_index_twin" ->
      """SELECT CAST(v AS BIGINT) AS vec_id
        |FROM (VALUES (104), (105), (106), (107)) AS t(v)
        |ORDER BY vec_id""".stripMargin,

    // The append gate's forced verdict: re-crawls of the APPENDED wave
    // (200-203) drop at ADC cosine exactly 1.0 — a drop only the appended
    // codes can cause (their best pre-append candidate was exactly 0.8);
    // the original re-crawl 208 drops via the old snapshot; the fresh
    // (-3,-4) class survives on exact zeros.
    "q227_ivfpq_append_twin" ->
      """SELECT CAST(v AS BIGINT) AS vec_id
        |FROM (VALUES (204), (205), (206), (207)) AS t(v)
        |ORDER BY vec_id""".stripMargin,

    // Keep-first over the centered fixture's 24 (cluster, sign) groups:
    // the snapshot mean is exactly the +64 offset, centered space
    // recovers q215's disjoint supports, and the kept set is the min id
    // per group — {8c, 8c + 4 : c < 12}, no dot product computed.
    "q228_semantic_scrub_stream_centered" ->
      """SELECT vec_id FROM (
        |  SELECT range * 8 AS vec_id FROM range(0, 12)
        |  UNION ALL
        |  SELECT range * 8 + 4 AS vec_id FROM range(0, 12)
        |) ORDER BY vec_id""".stripMargin,

    // The centered index scrub's forced verdict — q226's survivors, now
    // with fit, persist, reload, and probe-centering all in mean-centered
    // space (exact dyadics end to end; margins pinned in EntrySpec).
    "q229_ivfpq_centered_scrub_twin" ->
      """SELECT CAST(v AS BIGINT) AS vec_id
        |FROM (VALUES (104), (105), (106), (107)) AS t(v)
        |ORDER BY vec_id""".stripMargin,

    // Stable-id re-crawls (probe id == reference id) must STILL drop —
    // the self-match exclusion is off for the cross-snapshot scrub, so
    // the identically-id'd twin scores exactly 1.0; survivors are the
    // fresh class only.
    "q230_scrub_stable_id_twin" ->
      """SELECT CAST(v AS BIGINT) AS vec_id
        |FROM (VALUES (104), (105), (106), (107)) AS t(v)
        |ORDER BY vec_id""".stripMargin,

    // The forced-greedy BPE fixture: round-r pair counts are strictly
    // decreasing (20, 15, 12, 9, 8 — re-derived round by round in
    // TextAnalysisSpec), so Sennrich's algorithm has exactly one
    // possible trajectory and the merge table is a literal.
    "q216_bpe_fit_twin" ->
      """SELECT * FROM (VALUES
        |  (1, 'a',   'b', 'ab',   CAST(20 AS BIGINT)),
        |  (2, 'e',   'f', 'ef',   CAST(15 AS BIGINT)),
        |  (3, 'ab',  'c', 'abc',  CAST(12 AS BIGINT)),
        |  (4, 'ef',  'g', 'efg',  CAST(9 AS BIGINT)),
        |  (5, 'abc', 'd', 'abcd', CAST(8 AS BIGINT))
        |) AS t(rank, "left", "right", merged, n) ORDER BY rank""".stripMargin,

    // q20's gaps-and-islands arithmetic regrouped to (user, start, end,
    // n): session membership is a function of each user's SORTED event
    // times alone (equal-ts ties can shuffle which row carries the break
    // flag, never which session a row lands in), so this closed form is
    // exactly what the streaming sessionizer must emit once the sentinel
    // waves have closed every real session.
    "q217_sessionize_stream" ->
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
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    // The bracket verdict on the three-class fixture is id arithmetic:
    // only the untouched real-text class (%3=2, prose >= 1000 chars)
    // lands inside [0.1, 0.75] — the template class compresses ~20x
    // below the floor and the printable-ASCII noise class is entropy-
    // bound above the ceiling. Margins measured + documented in
    // EntrySpec; the oracle never deflates anything.
    "q218_compression_bracket_twin" ->
      """SELECT doc_id, doc_id % 3 = 2 AS keep
        |FROM documents WHERE n_chars >= 300 ORDER BY doc_id""".stripMargin,

    // q94's rebuild with BOTH plane bands and an OR'd join condition —
    // the same deterministic arithmetic (incl. the centered-space rebuild
    // and 6-dp mean), so the OR-construction stays an exact hash gate.
    // Survivor bucket = band 0's, like the Spark side.
    "q219_sem_dedup_banded" -> {
      val dot = (p: Int) =>
        s"list_dot_product(e, " +
          s"list_transform(range(1, len(e) + 1), d -> CAST((d * 131 + $p + 7) * (d * 137 + $p * 149 + 11) % 1009 % 3 - 1 AS DOUBLE)))"
      def band(offset: Int) = (0 until 6)
        .map(j => s"CASE WHEN ${dot(offset + j)} >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0 FROM embeddings),
         |mu AS (SELECT LIST(m ORDER BY i) AS mu FROM (
         |  SELECT i, round(avg(e0[i]), 6) AS m
         |  FROM raw, unnest(range(1, len(e0) + 1)) AS r(i) GROUP BY i)),
         |ce AS (SELECT vec_id, list_transform(range(1, len(e0) + 1), i -> e0[i] - mu[i]) AS e
         |  FROM raw CROSS JOIN mu),
         |v AS (SELECT vec_id, e,
         |${band(0)} AS b0, ${band(6)} AS b1 FROM ce),
         |d AS (SELECT DISTINCT b.vec_id FROM v a JOIN v b
         |ON (a.b0 = b.b0 OR a.b1 = b.b1) AND b.vec_id > a.vec_id
         |WHERE list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) > 0.35)
         |SELECT vec_id, b0 AS bucket FROM v
         |WHERE vec_id NOT IN (SELECT vec_id FROM d) ORDER BY vec_id""".stripMargin
    },

    // Full-rank whitening returns the identity covariance and zero mean
    // by algebra — the oracle IS that closed form; the hash pins the
    // output frame (names, 4-dp rounding, -0.0 normalization, n).
    "q204_whiten_block_twin" ->
      """SELECT CAST(i.range AS INTEGER) AS i, CAST(j.range AS INTEGER) AS j,
        |  CAST(256 AS BIGINT) AS n, 0.0 AS w_mean_i,
        |  CASE WHEN i.range = j.range THEN 1.0 ELSE 0.0 END AS w_cov_ij
        |FROM range(0, 4) i, range(0, 4) j WHERE i.range <= j.range
        |ORDER BY i, j""".stripMargin,

    // q202's oracle verbatim for the per-occurrence sampler's twin: one
    // path per word means position-keyed draws change nothing.
    "q209_unigram_sample_occ_twin" ->
      """WITH v(piece, logp) AS (VALUES
        |  ('e', -2.5), ('t', -2.6), ('a', -2.7), ('o', -2.8), ('i', -2.8),
        |  ('n', -2.8), ('s', -2.9), ('r', -2.9), ('h', -3.0), ('l', -3.2),
        |  ('d', -3.3), ('c', -3.5), ('u', -3.5), ('m', -3.6), ('f', -3.8),
        |  ('p', -3.8), ('g', -3.9), ('w', -3.9), ('y', -4.0), ('b', -4.1),
        |  ('v', -4.5), ('k', -4.7), ('x', -5.5), ('j', -5.6), ('q', -5.7),
        |  ('z', -5.8), ('0', -5.0), ('1', -5.0), ('2', -5.0), ('3', -5.0),
        |  ('4', -5.0), ('5', -5.0), ('6', -5.0), ('7', -5.0), ('8', -5.0),
        |  ('9', -5.0)),
        |w AS (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word
        |  FROM documents),
        |ch AS (SELECT doc_id, unnest(regexp_extract_all(word, '[A-Za-z0-9]')) AS c
        |  FROM w),
        |sc AS (SELECT doc_id, COALESCE(v.logp, -20.0) AS lp
        |  FROM ch LEFT JOIN v ON ch.c = v.piece),
        |agg AS (SELECT doc_id, count(*) AS n_pieces, round(sum(lp), 4) AS sampled_logp
        |  FROM sc GROUP BY doc_id),
        |wc AS (SELECT doc_id, count(*) AS n_words FROM w GROUP BY doc_id)
        |SELECT wc.doc_id, n_words, n_pieces, sampled_logp,
        |  round(CAST(n_pieces AS DOUBLE) / n_words, 6) AS pieces_per_word
        |FROM wc JOIN agg USING (doc_id) ORDER BY wc.doc_id""".stripMargin,

    // q198's degenerate-lattice argument verbatim, for the SAMPLER: with
    // single-char arcs only there is nothing to draw, so the seeded FFBS
    // output is the per-char sum in both engines (column renamed to the
    // sampler's contract).
    "q202_unigram_sample_twin" ->
      """WITH v(piece, logp) AS (VALUES
        |  ('e', -2.5), ('t', -2.6), ('a', -2.7), ('o', -2.8), ('i', -2.8),
        |  ('n', -2.8), ('s', -2.9), ('r', -2.9), ('h', -3.0), ('l', -3.2),
        |  ('d', -3.3), ('c', -3.5), ('u', -3.5), ('m', -3.6), ('f', -3.8),
        |  ('p', -3.8), ('g', -3.9), ('w', -3.9), ('y', -4.0), ('b', -4.1),
        |  ('v', -4.5), ('k', -4.7), ('x', -5.5), ('j', -5.6), ('q', -5.7),
        |  ('z', -5.8), ('0', -5.0), ('1', -5.0), ('2', -5.0), ('3', -5.0),
        |  ('4', -5.0), ('5', -5.0), ('6', -5.0), ('7', -5.0), ('8', -5.0),
        |  ('9', -5.0)),
        |w AS (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word
        |  FROM documents),
        |ch AS (SELECT doc_id, unnest(regexp_extract_all(word, '[A-Za-z0-9]')) AS c
        |  FROM w),
        |sc AS (SELECT doc_id, COALESCE(v.logp, -20.0) AS lp
        |  FROM ch LEFT JOIN v ON ch.c = v.piece),
        |agg AS (SELECT doc_id, count(*) AS n_pieces, round(sum(lp), 4) AS sampled_logp
        |  FROM sc GROUP BY doc_id),
        |wc AS (SELECT doc_id, count(*) AS n_words FROM w GROUP BY doc_id)
        |SELECT wc.doc_id, n_words, n_pieces, sampled_logp,
        |  round(CAST(n_pieces AS DOUBLE) / n_words, 6) AS pieces_per_word
        |FROM wc JOIN agg USING (doc_id) ORDER BY wc.doc_id""".stripMargin,

    // The bloom prefilter is result-preserving (exact semi join absorbs
    // false positives), so the oracle is the plain IN-subquery semi join.
    "q77_bloom_semijoin" ->
      """SELECT l_returnflag, count(*) AS n,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Both engines hash grams with the same polynomial, so hash collisions
    // (if any) are shared and the distinct-gram counts agree exactly.
    "q82_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
         |g AS (SELECT doc_id, source, unnest(CASE WHEN len(tk) < 5 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(tk) - 3), i -> array_to_string(tk[i:i+4], ' ')) END) AS gram FROM t),
         |h AS (SELECT doc_id, source, ${dhash("gram")} AS gh FROM g),
         |bench AS (SELECT DISTINCT gh FROM h WHERE source = 'src0'),
         |train AS (SELECT DISTINCT doc_id, gh FROM h WHERE source <> 'src0')
         |SELECT doc_id, count(*) AS n_shared FROM train JOIN bench USING (gh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Independent formulation: the oracle counts the top bigram via plain
    // unnest + GROUP BY (no sorted-run fold), pinning the fold's semantics.
    "q83_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS gram FROM t),
        |cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS mc, sum(c) AS tot FROM cnt GROUP BY 1),
        |s AS (SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |  round(1.0 - len(list_distinct(tk)) * 1.0 / len(tk), 6) AS dup_word_frac,
        |  round(coalesce(mc * 1.0 / tot, 0.0), 6) AS top_ngram_frac
        |  FROM t LEFT JOIN top ON t.doc_id = top.doc_id)
        |SELECT doc_id, n_tokens, dup_word_frac, top_ngram_frac,
        |  (dup_word_frac <= 0.6 AND top_ngram_frac <= 0.08) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    "q84_mixture_resample" ->
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |m AS (SELECT min(cnt) AS mn FROM c),
         |r AS (SELECT lang, CAST(least(ceil(1000000.0 * mn / cnt), 1000000) AS BIGINT) AS keep_ppm FROM c, m),
         |k AS (SELECT d.lang, d.doc_id, r.keep_ppm FROM documents d JOIN r USING (lang)
         |  WHERE ${dbucket("text", 1000000)} < keep_ppm)
         |SELECT lang, max(keep_ppm) AS keep_ppm, count(*) AS n_kept, min(doc_id) AS first_doc
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    "q85_funnel" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |s1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view FROM e GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t_click FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t_view
        |    AND e.ts <= s1.t_view + INTERVAL 86400 SECOND GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
        |    AND e.ts <= s2.t_click + INTERVAL 86400 SECOND GROUP BY 1)
        |SELECT s1.user_id, t_view, t_click, t_purchase,
        |  CAST(1 + (CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)
        |         + (CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage_reached
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |WHERE t_view IS NOT NULL ORDER BY user_id""".stripMargin,

    "q86_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |f AS (SELECT user_id, min(ts) AS t0 FROM e GROUP BY 1)
        |SELECT CAST(date_trunc('week', t0) AS DATE) AS cohort_week,
        |  CAST(date_diff('day', CAST(t0 AS DATE), CAST(ts AS DATE)) AS INTEGER) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_active
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, day_offset""".stripMargin,

    "q87_gopher_quality" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
        |  string_split(text, chr(10)) AS ln FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_words,
        |  round(list_aggregate(list_transform(tk, x -> len(x)), 'sum') * 1.0 / len(tk), 6) AS mean_word_len,
        |  round(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk), 6) AS alpha_word_frac,
        |  round((len(string_split(text, '#')) - 1 + len(string_split(text, '...')) - 1) * 1.0 / len(tk), 6) AS symbol_word_ratio,
        |  round(len(list_filter(ln, x -> starts_with(x, '- ') OR starts_with(x, '* '))) * 1.0 / len(ln), 6) AS bullet_line_frac,
        |  round(len(list_filter(ln, x -> ends_with(x, '...'))) * 1.0 / len(ln), 6) AS ellipsis_line_frac,
        |  CAST(len(list_filter(tk, x -> x IN (${TextAnalysis.GopherStopwords.map(w => s"'$w'").mkString(",")}))) AS BIGINT) AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_word_ratio,
        |  bullet_line_frac, ellipsis_line_frac, n_stopwords,
        |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
        |   AND mean_word_len <= 10.0 AND symbol_word_ratio <= 0.1
        |   AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
        |   AND alpha_word_frac >= 0.8 AND n_stopwords >= 2) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    "q88_c4_line_clean" ->
      s"""WITH ${dLineSynth(withPunct = true)},
        |t2 AS (SELECT doc_id, array_to_string(ln, chr(10)) AS text, ln FROM t1),
        |s AS (SELECT doc_id, text, CAST(len(ln) AS BIGINT) AS n_lines,
        |  list_filter(ln, x -> (ends_with(x, '.') OR ends_with(x, '!')
        |      OR ends_with(x, '?') OR ends_with(x, '"'))
        |    AND len(string_split(x, ' ')) >= 5
        |    AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM t2)
        |SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
        |  array_to_string(kept, chr(10)) AS clean_text,
        |  (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |   AND NOT contains(text, '{')) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    "q89_take_per_stratum" ->
      s"""WITH h AS (SELECT lang, doc_id, text,
         |  ${dmix("text")} AS hh
         |  FROM documents),
         |r AS (SELECT lang, doc_id,
         |  row_number() OVER (PARTITION BY lang ORDER BY hh, text, doc_id) AS rn FROM h)
         |SELECT lang, doc_id FROM r WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,

    "q90_diversity_sample" ->
      """WITH cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |asg AS (SELECT vec_id, cell_id, cos FROM (
        |  SELECT corp.vec_id, cent.cell_id,
        |  list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) AS cos,
        |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
        |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
        |    cent.cell_id) AS rr
        |  FROM corp CROSS JOIN cent) WHERE rr = 1),
        |r AS (SELECT cell_id, vec_id, round(cos, 6) AS centrality,
        |  row_number() OVER (PARTITION BY cell_id ORDER BY round(cos, 6) DESC, vec_id) AS rank FROM asg)
        |SELECT cell_id, CAST(rank AS BIGINT) AS rank, vec_id, centrality
        |FROM r WHERE rank <= 10 ORDER BY cell_id, rank""".stripMargin,

    "q91_span_dedup" ->
      s"""WITH ${dLineSynth(withPunct = false)},
         |sp AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    ${dhash("array_to_string(ln[i:i+2], chr(10))")} AS h
         |  FROM t1, unnest(range(1, len(ln) - 1)) AS r(i)),
         |j AS (SELECT doc_id, pos, h,
         |  count(*) OVER (PARTITION BY h) AS n_occ,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sp)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  CAST(sum(CASE WHEN n_occ > 1 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q92_block_pack" ->
      """WITH t AS (SELECT doc_id, greatest(CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT), 0) + 1 AS n FROM documents),
        |c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e FROM t),
        |b AS (SELECT doc_id, n, e - n AS s, e FROM c),
        |x AS (SELECT doc_id, i AS block_id,
        |  least(e, (i + 1) * 512) - greatest(s, i * 512) AS n_tokens
        |  FROM b, unnest(range(CAST(floor(s / 512.0) AS BIGINT),
        |    CAST(floor((e - 1) / 512.0) AS BIGINT) + 1)) AS r(i))
        |SELECT block_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc
        |FROM x GROUP BY block_id ORDER BY block_id""".stripMargin,

    // q93_pq_ann is rows-only by design (Lloyd-fit codebooks are float
    // aggregates with engine-specific summation order — same contract as
    // the HLL++/GK sketch queries; see SketchParitySpec's PQ recall
    // anchor). q221_pq_ann_twin is its exact hash gate: a point-mass
    // fixture where the fit is closed-form and ADC ordering is forced.

    "q94_sem_dedup" -> {
      // Same deterministic hyperplane rebuild as the q37 oracle, on MEAN-
      // CENTERED vectors: mu is the per-dim corpus avg rounded to 6 dp
      // (both engines' decimal HALF_UP, so the constant — and hence every
      // downstream double — is bit-identical; see fitMeanVector). Pairs
      // and anti-join mirror Similarity.semanticDedup exactly (unrounded
      // centered cosine strictly > threshold, keep-first on vec_id).
      val dot = (p: Int) =>
        s"list_dot_product(e, " +
          s"list_transform(range(1, len(e) + 1), d -> CAST((d * 131 + $p + 7) * (d * 137 + $p * 149 + 11) % 1009 % 3 - 1 AS DOUBLE)))"
      val bits = (0 until 8)
        .map(p => s"CASE WHEN ${dot(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0 FROM embeddings),
         |mu AS (SELECT LIST(m ORDER BY i) AS mu FROM (
         |  SELECT i, round(avg(e0[i]), 6) AS m
         |  FROM raw, unnest(range(1, len(e0) + 1)) AS r(i) GROUP BY i)),
         |c AS (SELECT vec_id, list_transform(range(1, len(e0) + 1), i -> e0[i] - mu[i]) AS e
         |  FROM raw CROSS JOIN mu),
         |v AS (SELECT vec_id, e, $bits AS bucket FROM c),
         |d AS (SELECT DISTINCT b.vec_id FROM v a JOIN v b ON a.bucket = b.bucket AND b.vec_id > a.vec_id
         |WHERE list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) > 0.35)
         |SELECT vec_id, bucket FROM v WHERE vec_id NOT IN (SELECT vec_id FROM d) ORDER BY vec_id""".stripMargin
    },

    "q95_vocab_coverage" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |vocab AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT 20),
        |j AS (SELECT t.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
        |FROM tok t LEFT JOIN vocab v ON t.w = v.w)
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
        |round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q96_int8_quant" ->
      // floor(r + 0.5), not round(r): half-up vs half-even rounding differs
      // across engines; the formula text mirrors Similarity.scalarQuantize
      // exactly so the doubles tie out bit-for-bit
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |u AS (SELECT vec_id, e[i] AS x, i FROM v, unnest(range(1, len(e) + 1)) AS r(i)),
        |s AS (SELECT i, min(x) AS mn, max(x) AS mx FROM u GROUP BY i),
        |c AS (SELECT vec_id, x, mn, mx,
        |CASE WHEN mx = mn THEN 0 ELSE least(CAST(floor((x - mn) / ((mx - mn) / 255.0) + 0.5) AS BIGINT), 255) END AS code
        |FROM u JOIN s USING (i)),
        |q AS (SELECT vec_id, code, abs(x - (mn + code * ((mx - mn) / 255.0))) AS err FROM c)
        |SELECT vec_id, CAST(sum(code) AS BIGINT) AS sum_codes, round(max(err), 6) AS max_abs_err
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q97_group_linfit" ->
      """SELECT l_returnflag, count(*) AS n,
        |round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        |round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q98_quantile_bin" ->
      // bin = count of boundaries STRICTLY below the value (ties bin down),
      // mirroring Encode.quantileBin's filter+size apply; the 1/8-grid
      // percentiles are exact binary fractions, so the literals agree
      // bit-for-bit across engines
      """WITH b AS (SELECT l_returnflag,
        |quantile_cont(l_extendedprice, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
        |FROM lineitem GROUP BY 1),
        |x AS (SELECT l.l_returnflag, l_extendedprice AS v,
        |len(list_filter(bs, e -> e < l_extendedprice)) AS bin
        |FROM lineitem l JOIN b USING (l_returnflag))
        |SELECT l_returnflag, CAST(bin AS BIGINT) AS bin, count(*) AS n,
        |round(min(v), 2) AS lo, round(max(v), 2) AS hi
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q99_char_lm" ->
      // context counts derive from the trigram table (sum over 2-char
      // prefixes), mirroring charTrigramLogProb exactly; k = 0.5
      """WITH tri AS (SELECT doc_id, substr(text, i, 3) AS g
        |FROM documents, unnest(range(1, greatest(len(text) - 2, 0) + 1)) AS r(i)),
        |c3 AS (SELECT g, count(*) AS c FROM tri GROUP BY g),
        |c2 AS (SELECT substr(g, 1, 2) AS p, sum(c) AS cp FROM c3 GROUP BY 1),
        |v AS (SELECT count(DISTINCT substr(g, 3, 1)) AS nv FROM c3),
        |s AS (SELECT t.doc_id, ln((c3.c + 0.5) / (c2.cp + 0.5 * v.nv)) AS lp
        |FROM tri t JOIN c3 ON t.g = c3.g JOIN c2 ON substr(t.g, 1, 2) = c2.p CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_tri, round(avg(lp), 6) AS avg_logp
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q101_binary_ann" -> {
      // the same sign-bit packing as Similarity.binarySignPack, rebuilt in
      // SQL; ties on hamming resolve by neighbor id in both engines
      def word(r: Range, base: Int) = r.map(d =>
        s"CASE WHEN len(e) >= $d AND e[$d] >= 0 THEN CAST(${1L << (d - base)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |b AS (SELECT vec_id, ${word(1 to 32, 1)} AS lo, ${word(33 to 64, 33)} AS hi FROM v),
         |p AS (SELECT vec_id AS probe_id, lo AS plo, hi AS phi FROM b WHERE vec_id < 8),
         |s AS (SELECT p.probe_id, b.vec_id AS neighbor_id,
         |bit_count(xor(b.lo, p.plo)) + bit_count(xor(b.hi, p.phi)) AS hamming
         |FROM b, p WHERE b.vec_id <> p.probe_id),
         |r AS (SELECT probe_id, neighbor_id, hamming,
         |row_number() OVER (PARTITION BY probe_id ORDER BY hamming, neighbor_id) AS rank FROM s)
         |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, CAST(hamming AS INTEGER) AS hamming
         |FROM r WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin
    },

    "q102_rerank_ann" -> {
      // stage 1 = q101's hamming shortlist at width 50; stage 2 = q27's
      // exact cosine rank over only the shortlisted pairs
      def word(r: Range, base: Int) = r.map(d =>
        s"CASE WHEN len(e) >= $d AND e[$d] >= 0 THEN CAST(${1L << (d - base)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |b AS (SELECT vec_id, ${word(1 to 32, 1)} AS lo, ${word(33 to 64, 33)} AS hi FROM v),
         |p AS (SELECT vec_id AS probe_id, lo AS plo, hi AS phi FROM b WHERE vec_id < 8),
         |h AS (SELECT p.probe_id, b.vec_id AS neighbor_id,
         |row_number() OVER (PARTITION BY p.probe_id
         |  ORDER BY bit_count(xor(b.lo, p.plo)) + bit_count(xor(b.hi, p.phi)), b.vec_id) AS hrank
         |FROM b, p WHERE b.vec_id <> p.probe_id),
         |sc AS (SELECT h.probe_id, h.neighbor_id,
         |list_dot_product(pv.e, cv.e) / (sqrt(list_dot_product(pv.e, pv.e)) * sqrt(list_dot_product(cv.e, cv.e))) AS cos
         |FROM h JOIN v pv ON h.probe_id = pv.vec_id JOIN v cv ON h.neighbor_id = cv.vec_id
         |WHERE h.hrank <= 50),
         |r AS (SELECT probe_id, neighbor_id, cos,
         |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
         |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine
         |FROM r WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin
    },

    "q103_pretrain_filter" ->
      // each stage's CTE is copied verbatim from its own green oracle
      // (q87 gopher, q83 repetition, q99 char-LM); conditions apply to the
      // same ROUNDED values the operators emit
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
        |  string_split(text, chr(10)) AS ln FROM documents),
        |gs AS (SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_words,
        |  round(list_aggregate(list_transform(tk, x -> len(x)), 'sum') * 1.0 / len(tk), 6) AS mean_word_len,
        |  round(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk), 6) AS alpha_word_frac,
        |  round((len(string_split(text, '#')) - 1 + len(string_split(text, '...')) - 1) * 1.0 / len(tk), 6) AS symbol_word_ratio,
        |  round(len(list_filter(ln, x -> starts_with(x, '- ') OR starts_with(x, '* '))) * 1.0 / len(ln), 6) AS bullet_line_frac,
        |  round(len(list_filter(ln, x -> ends_with(x, '...'))) * 1.0 / len(ln), 6) AS ellipsis_line_frac,
        |  CAST(len(list_filter(tk, x -> x IN (${TextAnalysis.GopherStopwords.map(w => s"'$w'").mkString(",")}))) AS BIGINT) AS n_stopwords
        |  FROM t),
        |gq AS (SELECT doc_id, (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
        |  AND mean_word_len <= 10.0 AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
        |  AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 AND n_stopwords >= 2) AS g_keep FROM gs),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS gram FROM t),
        |cnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS mc, sum(c) AS tot FROM cnt GROUP BY 1),
        |rep AS (SELECT t.doc_id,
        |  (round(1.0 - len(list_distinct(tk)) * 1.0 / len(tk), 6) <= 0.6
        |   AND round(coalesce(mc * 1.0 / tot, 0.0), 6) <= 0.08) AS r_keep
        |  FROM t LEFT JOIN top ON t.doc_id = top.doc_id),
        |tri AS (SELECT doc_id, substr(text, i, 3) AS g
        |  FROM documents, unnest(range(1, greatest(len(text) - 2, 0) + 1)) AS r(i)),
        |c3 AS (SELECT g, count(*) AS c FROM tri GROUP BY g),
        |c2 AS (SELECT substr(g, 1, 2) AS p, sum(c) AS cp FROM c3 GROUP BY 1),
        |vv AS (SELECT count(DISTINCT substr(g, 3, 1)) AS nv FROM c3),
        |lm AS (SELECT tr.doc_id, round(avg(ln((c3.c + 0.5) / (c2.cp + 0.5 * vv.nv))), 6) AS avg_logp
        |  FROM tri tr JOIN c3 ON tr.g = c3.g JOIN c2 ON substr(tr.g, 1, 2) = c2.p CROSS JOIN vv
        |  GROUP BY tr.doc_id),
        |d AS (SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM documents)
        |SELECT t.doc_id, g_keep, r_keep,
        |  coalesce(avg_logp > -0.78, false) AS lm_keep, (rn = 1) AS dup_keep,
        |  (g_keep AND r_keep AND coalesce(avg_logp > -0.78, false) AND rn = 1) AS kept
        |FROM t JOIN gq ON t.doc_id = gq.doc_id JOIN rep ON t.doc_id = rep.doc_id
        |LEFT JOIN lm ON t.doc_id = lm.doc_id JOIN d ON t.doc_id = d.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q104_bootstrap_ci" -> {
      // identical Poisson(1) CDF literals and per-replica squared mix as
      // Stats.bootstrapMeanCI — the key hashes once per ROW, replica b
      // derives through ((h+b)^2 mod p)*A + B mod p (every constant and
      // the replica count/alpha interpolate from the one source)
      val cdf = graft.operators.Stats.PoissonCdf1
      val (a, bb) = (graft.operators.Stats.MixA, graft.operators.Stats.MixB)
      val k = "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"
      s"""WITH h AS (SELECT l_returnflag, l_extendedprice AS x, (${dmix(k)}) AS hh
         |FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |e AS (SELECT l_returnflag, x, b,
         |(((((hh + b) * (hh + b)) % $Mod) * $a + $bb) % $Mod) / $Mod.0 AS u
         |FROM h, unnest(range(0, $BootReplicas)) AS t(b)),
         |w AS (SELECT l_returnflag, x, b,
         |CASE WHEN u < ${cdf(0)} THEN 0.0 WHEN u < ${cdf(1)} THEN 1.0
         |WHEN u < ${cdf(2)} THEN 2.0 WHEN u < ${cdf(3)} THEN 3.0 ELSE 4.0 END AS w FROM e),
         |bm AS (SELECT l_returnflag, b,
         |CASE WHEN sum(w) = 0 THEN NULL ELSE sum(w * x) / sum(w) END AS m
         |FROM w GROUP BY 1, 2),
         |ci AS (SELECT l_returnflag, quantile_cont(m, ${BootAlpha / 2}) AS lo,
         |quantile_cont(m, ${1 - BootAlpha / 2}) AS hi FROM bm GROUP BY 1),
         |mn AS (SELECT l_returnflag, count(l_extendedprice) AS n, avg(l_extendedprice) AS mean FROM lineitem GROUP BY 1)
         |SELECT mn.l_returnflag, n, round(mean, 6) AS mean,
         |round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi
         |FROM mn JOIN ci ON mn.l_returnflag = ci.l_returnflag
         |ORDER BY mn.l_returnflag""".stripMargin
    },

    "q105_span_scrub" ->
      // q91's span CTEs verbatim (same hash, same canonical-first rank),
      // then: removed spans expand to covered 1-based line indices, lines
      // rebuild positionally, and the cleaned text re-joins with chr(10).
      // Docs with no removals (incl. shorter-than-3-lines) pass through.
      s"""WITH ${dLineSynth(withPunct = false)},
         |sp AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    ${dhash("array_to_string(ln[i:i+2], chr(10))")} AS h
         |  FROM t1, unnest(range(1, len(ln) - 1)) AS r(i)),
         |j AS (SELECT doc_id, pos,
         |  count(*) OVER (PARTITION BY h) AS n_occ,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sp),
         |rm AS (SELECT DISTINCT doc_id, pos + k AS ri
         |  FROM j, unnest(range(0, 3)) AS t(k) WHERE n_occ > 1 AND rn > 1),
         |u AS (SELECT doc_id, CAST(i AS INTEGER) AS li, ln[i] AS line
         |  FROM t1, unnest(range(1, len(ln) + 1)) AS r(i)),
         |kept AS (SELECT u.doc_id,
         |    array_to_string(list(u.line ORDER BY u.li), chr(10)) AS ct
         |  FROM u LEFT JOIN rm ON u.doc_id = rm.doc_id AND u.li = rm.ri
         |  WHERE rm.ri IS NULL GROUP BY u.doc_id),
         |nr AS (SELECT doc_id, count(*) AS n_rm FROM rm GROUP BY doc_id)
         |SELECT t1.doc_id, CAST(len(ln) AS BIGINT) AS n_lines,
         |  CAST(coalesce(nr.n_rm, 0) AS BIGINT) AS n_removed_lines,
         |  coalesce(kept.ct, '') AS clean_text
         |FROM t1 LEFT JOIN kept ON t1.doc_id = kept.doc_id
         |LEFT JOIN nr ON t1.doc_id = nr.doc_id
         |ORDER BY t1.doc_id""".stripMargin,

    "q107_mixture_weights" ->
      // same rate arithmetic as Stats.mixtureResampleToWeights, term for
      // term: N = min(cnt/share), rate = ceil(1e6*N*share/cnt) capped at
      // 1e6. Weights are binary-exact doubles summing to exactly 1.0, so
      // the engine's normalize (w / 1.0) is an identity on both sides.
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |w AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.25), ('zh', 0.25)) AS t(lang, share)),
         |j AS (SELECT c.lang, cnt, CAST(share AS DOUBLE) AS share FROM c JOIN w USING (lang)),
         |n AS (SELECT min(cnt / share) AS n FROM j),
         |r AS (SELECT lang, CAST(least(ceil(1000000.0 * n.n * share / cnt), 1000000) AS BIGINT) AS keep_ppm FROM j, n),
         |k AS (SELECT d.lang, d.doc_id, r.keep_ppm FROM documents d JOIN r USING (lang)
         |  WHERE ${dbucket("text", 1000000)} < keep_ppm)
         |SELECT lang, max(keep_ppm) AS keep_ppm, count(*) AS n_kept, min(doc_id) AS first_doc
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    "q108_fuzzy_scrub" ->
      // q65's cluster CTEs verbatim; kept = docs that ARE their cluster's
      // min label (the canonical member fuzzyDedupKeepFirst retains)
      s"""WITH RECURSIVE $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst),
         |kept AS (SELECT id FROM reach GROUP BY id HAVING min(m) = id)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d JOIN kept k ON d.doc_id = k.id
         |ORDER BY d.doc_id""".stripMargin,

    "q109_length_batching" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
        |r AS (SELECT doc_id, len,
        |  row_number() OVER (ORDER BY len, doc_id) - 1 AS idx FROM t),
        |b AS (SELECT CAST(floor(idx / 64.0) AS BIGINT) AS batch_id, doc_id, len FROM r)
        |SELECT batch_id, count(*) AS n_rows, max(len) AS max_len,
        |  CAST(sum(len) AS BIGINT) AS sum_len,
        |  round(CASE WHEN max(len) > 0
        |    THEN 1.0 - (sum(len) * 1.0) / (count(*) * max(len)) ELSE 0.0 END, 6)
        |    AS padding_frac,
        |  min(doc_id) AS first_id
        |FROM b GROUP BY batch_id ORDER BY batch_id""".stripMargin,

    "q110_fuzzy_keep_best" ->
      // q108's cluster CTEs verbatim; survivor = row_number 1 per
      // component under (n_chars DESC, doc_id ASC) — fuzzyDedupKeepBest's
      // quality-then-id rank
      s"""WITH RECURSIVE $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst),
         |comp AS (SELECT id, min(m) AS component FROM reach GROUP BY id),
         |ranked AS (SELECT c.id,
         |  row_number() OVER (PARTITION BY c.component ORDER BY d.n_chars DESC, d.doc_id) AS rk
         |  FROM comp c JOIN documents d ON d.doc_id = c.id)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d JOIN ranked r ON d.doc_id = r.id AND r.rk = 1
         |ORDER BY d.doc_id""".stripMargin,

    "q111_line_dedup" ->
      // the q105 lined corpus, salted with each doc's first two lines
      // appended; keep = first occurrence per (doc, line), text rebuilds
      // positionally from kept lines
      s"""WITH ${dLineSynth(withPunct = false)},
         |s AS (SELECT doc_id, list_concat(ln, ln[1:2]) AS ln FROM t1),
         |u AS (SELECT doc_id, CAST(i AS INTEGER) AS li, ln[i] AS line
         |  FROM s, unnest(range(1, len(ln) + 1)) AS r(i)),
         |k AS (SELECT doc_id, li, line,
         |  row_number() OVER (PARTITION BY doc_id, line ORDER BY li) AS rn FROM u)
         |SELECT doc_id, count(*) AS n_lines,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_lines,
         |  array_to_string(list(line ORDER BY li) FILTER (WHERE rn = 1), chr(10)) AS clean_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q112_incremental_dedup" ->
      // seen = fingerprints of even docs; batch = odd + re-crawls of every
      // 6th even (+1000000) + re-issues of every 10th odd (+2000000);
      // anti-join on the fingerprint, then keep-first within the batch
      s"""WITH seen AS (SELECT DISTINCT ${dhash("text")} AS h
         |  FROM documents WHERE doc_id % 2 = 0),
         |batch AS (
         |  SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id + 1000000, text, lang, n_chars FROM documents WHERE doc_id % 6 = 0
         |  UNION ALL SELECT doc_id + 2000000, text, lang, n_chars FROM documents WHERE doc_id % 10 = 1),
         |hashed AS (SELECT doc_id, lang, n_chars, ${dhash("text")} AS h FROM batch),
         |fresh AS (SELECT * FROM hashed WHERE h NOT IN (SELECT h FROM seen)),
         |k AS (SELECT doc_id, lang, n_chars,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM fresh)
         |SELECT doc_id, lang, n_chars FROM k WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q113_ppl_buckets" ->
      // q99's scoring CTEs verbatim, rounded per doc the way the operator
      // rounds, then per-lang ntile(3) on (score DESC, doc_id)
      """WITH tri AS (SELECT doc_id, substr(text, i, 3) AS g
        |FROM documents, unnest(range(1, greatest(len(text) - 2, 0) + 1)) AS r(i)),
        |c3 AS (SELECT g, count(*) AS c FROM tri GROUP BY g),
        |c2 AS (SELECT substr(g, 1, 2) AS p, sum(c) AS cp FROM c3 GROUP BY 1),
        |v AS (SELECT count(DISTINCT substr(g, 3, 1)) AS nv FROM c3),
        |s AS (SELECT t.doc_id, ln((c3.c + 0.5) / (c2.cp + 0.5 * v.nv)) AS lp
        |FROM tri t JOIN c3 ON t.g = c3.g JOIN c2 ON substr(t.g, 1, 2) = c2.p CROSS JOIN v),
        |sc AS (SELECT doc_id, round(avg(lp), 6) AS avg_logp FROM s GROUP BY doc_id),
        |j AS (SELECT d.lang, sc.doc_id, sc.avg_logp FROM sc JOIN documents d USING (doc_id)),
        |b AS (SELECT lang, doc_id, avg_logp,
        |  ntile(3) OVER (PARTITION BY lang ORDER BY avg_logp DESC, doc_id) AS bucket FROM j)
        |SELECT lang, bucket, count(*) AS n_docs,
        |  round(min(avg_logp), 6) AS min_logp, round(max(avg_logp), 6) AS max_logp,
        |  min(doc_id) AS first_doc
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,

    "q114_markup_strip" ->
      // Same page synthesis (one <p> per line + entity footer), then the
      // same strip discipline: tags out first, entities decoded with
      // &amp; LAST (so &amp;amp; -> literal "&amp;"), whitespace
      // collapsed. DuckDB regexp_replace needs the explicit 'g' flag
      // where Spark's is always global.
      s"""WITH ${dLineSynth(withPunct = false)},
         |h AS (SELECT doc_id, '<html><body><p>' ||
         |    array_to_string(ln, '</p>' || chr(10) || '<p>') ||
         |    '</p><p>Tom&#39;s page &amp;amp; &lt;tags&gt;&nbsp;&quot;quoted&quot;</p></body></html>' AS html
         |  FROM t1),
         |st AS (SELECT doc_id, html,
         |    replace(replace(replace(replace(replace(replace(
         |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
         |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
         |      '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS dec
         |  FROM h)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
         |  trim(regexp_replace(dec, '\\s+', ' ', 'g')) AS clean_text
         |FROM st ORDER BY doc_id""".stripMargin,

    "q115_char_quality" ->
      // Same deterministic corruption (control + U+FFFD + e-acute on every
      // 7th doc), counts via length-difference over the same character
      // classes. chr() takes the Unicode codepoint on the DuckDB side.
      """WITH c AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || chr(1) || chr(65533) || chr(233)
        |       ELSE text END AS text FROM documents),
        |m AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
        |  CAST(len(text) - len(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS BIGINT) AS n_control,
        |  CAST(len(text) - len(regexp_replace(text, '\x{FFFD}', '', 'g')) AS BIGINT) AS n_replacement,
        |  CAST(len(text) - len(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS BIGINT) AS n_non_ascii
        |  FROM c)
        |SELECT doc_id, n_chars, n_control, n_replacement, n_non_ascii,
        |  CASE WHEN n_chars = 0 THEN 1.0
        |       ELSE round((n_chars - n_non_ascii) * 1.0 / n_chars, 6) END AS ascii_ratio,
        |  (n_replacement = 0 AND n_control = 0 AND
        |   (CASE WHEN n_chars = 0 THEN 1.0
        |         ELSE round((n_chars - n_non_ascii) * 1.0 / n_chars, 6) END) >= 0.0) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "q116_boilerplate_scrub" ->
      // Line document-frequency over per-doc DISTINCT line hashes (a line
      // repeated within one doc counts once), DF > 2 lines deleted from
      // every document — no canonical survivor.
      s"""WITH ${dLineSynth(withPunct = false)},
         |u AS (SELECT doc_id, CAST(i AS INTEGER) AS li, ln[i] AS line,
         |    ${dhash("ln[i]")} AS h
         |  FROM t1, unnest(range(1, len(ln) + 1)) AS r(i)),
         |df AS (SELECT h, count(DISTINCT doc_id) AS df FROM u GROUP BY h),
         |bad AS (SELECT h FROM df WHERE df > 2),
         |rm AS (SELECT DISTINCT u.doc_id, u.li FROM u JOIN bad ON u.h = bad.h),
         |kept AS (SELECT u.doc_id,
         |    array_to_string(list(u.line ORDER BY u.li), chr(10)) AS ct
         |  FROM u LEFT JOIN rm ON u.doc_id = rm.doc_id AND u.li = rm.li
         |  WHERE rm.li IS NULL GROUP BY u.doc_id),
         |nr AS (SELECT doc_id, count(*) AS n_rm FROM rm GROUP BY doc_id)
         |SELECT t1.doc_id, CAST(len(ln) AS BIGINT) AS n_lines,
         |  CAST(coalesce(nr.n_rm, 0) AS BIGINT) AS n_removed_lines,
         |  coalesce(kept.ct, '') AS clean_text
         |FROM t1 LEFT JOIN kept ON t1.doc_id = kept.doc_id
         |LEFT JOIN nr ON t1.doc_id = nr.doc_id
         |ORDER BY t1.doc_id""".stripMargin,

    "q117_token_span_scrub" ->
      // q105's span CTEs re-expressed over whitespace TOKENS with 10-token
      // windows and ' ' rebuild — same hash, same canonical-first rank,
      // same covered-index interval merge.
      s"""WITH t0 AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         |sp AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    ${dhash("array_to_string(tk[i:i+9], ' ')")} AS h
         |  FROM t0, unnest(range(1, len(tk) - 8)) AS r(i)),
         |j AS (SELECT doc_id, pos,
         |  count(*) OVER (PARTITION BY h) AS n_occ,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sp),
         |rm AS (SELECT DISTINCT doc_id, pos + k AS ri
         |  FROM j, unnest(range(0, 10)) AS t(k) WHERE n_occ > 1 AND rn > 1),
         |u AS (SELECT doc_id, CAST(i AS INTEGER) AS ti, tk[i] AS tok
         |  FROM t0, unnest(range(1, len(tk) + 1)) AS r(i)),
         |kept AS (SELECT u.doc_id,
         |    array_to_string(list(u.tok ORDER BY u.ti), ' ') AS ct
         |  FROM u LEFT JOIN rm ON u.doc_id = rm.doc_id AND u.ti = rm.ri
         |  WHERE rm.ri IS NULL GROUP BY u.doc_id),
         |nr AS (SELECT doc_id, count(*) AS n_rm FROM rm GROUP BY doc_id)
         |SELECT t0.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(nr.n_rm, 0) AS BIGINT) AS n_removed_tokens,
         |  coalesce(kept.ct, '') AS clean_text
         |FROM t0 LEFT JOIN kept ON t0.doc_id = kept.doc_id
         |LEFT JOIN nr ON t0.doc_id = nr.doc_id
         |ORDER BY t0.doc_id""".stripMargin,

    "q118_rag_chunks" ->
      // Same chunk-count arithmetic and inclusive-slice grid as chunkDocs:
      // starts at i*stride+1, width chunkTokens, tail truncates.
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |n AS (SELECT doc_id, tk, len(tk) AS n,
        |  CASE WHEN len(tk) <= 32 THEN 1
        |       ELSE CAST(ceil((len(tk) - 32) / 24.0) AS BIGINT) + 1 END AS nc
        |  FROM t0),
        |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |    CAST(least(32, n - i * 24) AS BIGINT) AS n_tokens,
        |    array_to_string(tk[i*24+1 : i*24+32], ' ') AS chunk_text
        |  FROM n, unnest(range(0, nc)) AS r(i))
        |SELECT doc_id, chunk_id, n_tokens, chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q119_temperature_mix" ->
      // same alpha-share + largest-N rate arithmetic as
      // Stats.mixtureResampleTemperature, term for term (see its scaladoc
      // for the ULP-vs-ceil-cliff parity analysis).
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |s AS (SELECT lang, cnt, pow(cnt, 0.3) / sum(pow(cnt, 0.3)) OVER () AS share FROM c),
         |n AS (SELECT min(cnt / share) AS n FROM s),
         |r AS (SELECT lang, CAST(least(ceil(1000000.0 * n.n * share / cnt), 1000000) AS BIGINT) AS keep_ppm FROM s, n),
         |k AS (SELECT d.lang, d.doc_id, r.keep_ppm FROM documents d JOIN r USING (lang)
         |  WHERE ${dbucket("text", 1000000)} < keep_ppm)
         |SELECT lang, max(keep_ppm) AS keep_ppm, count(*) AS n_kept, min(doc_id) AS first_doc
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    "q120_token_budget" ->
      // q31's quality expression verbatim; the budget cut is the inclusive
      // running-total filter selectByBudget mirrors distributedly.
      """WITH t AS (SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
        |length(text) AS n_chars FROM documents),
        |d AS (SELECT doc_id, n_tokens,
        |round((CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5 +
        |(CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.5 END) * 0.25 +
        |(CASE WHEN (CAST(n_chars AS DOUBLE) - (n_tokens - 1)) / n_tokens >= 3
        |AND (CAST(n_chars AS DOUBLE) - (n_tokens - 1)) / n_tokens <= 10 THEN 1.0 ELSE 0.5 END) * 0.25, 6) AS quality
        |FROM t),
        |c AS (SELECT doc_id, n_tokens, quality,
        |CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |FROM d)
        |SELECT doc_id, n_tokens, quality, cum_tokens
        |FROM c WHERE cum_tokens <= 15000 ORDER BY doc_id""".stripMargin,

    "q121_fuzzy_scrub_tau" ->
      // q108's cluster CTEs with the est-Jaccard >= 0.8 verification gate
      // on the candidate pairs (fraction of equal signature slots, computed
      // from the same sg signatures the banding used)
      s"""WITH RECURSIVE $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |WHERE len(list_filter(range(1, 17),
         |  i -> a.sig[CAST(i AS INTEGER)] = b.sig[CAST(i AS INTEGER)])) / 16.0 >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst),
         |kept AS (SELECT id FROM reach GROUP BY id HAVING min(m) = id)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d JOIN kept k ON d.doc_id = k.id
         |ORDER BY d.doc_id""".stripMargin,

    "q122_incremental_two_waves" ->
      // q112's anti-join + keep-first arithmetic, run twice with the index
      // grown by wave 1's survivors in between (fp1 = fp0 UNION s1 hashes)
      s"""WITH fp0 AS (SELECT DISTINCT ${dhash("text")} AS h
         |  FROM documents WHERE doc_id % 3 = 0),
         |w1 AS (
         |  SELECT doc_id, lang, n_chars, ${dhash("text")} AS h FROM documents WHERE doc_id % 3 = 1
         |  UNION ALL SELECT doc_id + 1000000, lang, n_chars, ${dhash("text")} AS h FROM documents WHERE doc_id % 9 = 0),
         |s1 AS (SELECT doc_id, lang, n_chars, h FROM (
         |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
         |  FROM w1 WHERE h NOT IN (SELECT h FROM fp0)) WHERE rn = 1),
         |fp1 AS (SELECT h FROM fp0 UNION SELECT h FROM s1),
         |w2 AS (
         |  SELECT doc_id, lang, n_chars, ${dhash("text")} AS h FROM documents WHERE doc_id % 3 = 2
         |  UNION ALL SELECT doc_id + 3000000, lang, n_chars, ${dhash("text")} AS h FROM documents WHERE doc_id % 9 = 4
         |  UNION ALL SELECT doc_id + 4000000, lang, n_chars, ${dhash("text")} AS h FROM documents WHERE doc_id % 9 = 0),
         |s2 AS (SELECT doc_id, lang, n_chars FROM (
         |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
         |  FROM w2 WHERE h NOT IN (SELECT h FROM fp1)) WHERE rn = 1)
         |SELECT CAST(1 AS BIGINT) AS wave, doc_id, lang, n_chars FROM s1
         |UNION ALL SELECT CAST(2 AS BIGINT) AS wave, doc_id, lang, n_chars FROM s2
         |ORDER BY wave, doc_id""".stripMargin,

    "q123_url_dedup" ->
      // same synthesized URLs; canonicalization rules applied in the same
      // order as TextAnalysis.canonicalizeUrl (DuckDB regexp_replace needs
      // the explicit 'g' flag where Spark's replaces all matches)
      s"""WITH $dUrlCanon
        |SELECT url_canon, count(*) AS n_docs, min(doc_id) AS kept_doc
        |FROM s5 GROUP BY url_canon ORDER BY url_canon""".stripMargin,

    "q124_simhash_neardup" ->
      // q25's simhash CTE verbatim, then Manku banding: 4-bit blocks via
      // shift+mask, candidates share a block, exact bit_count(xor) verify
      s"""WITH th AS (SELECT doc_id, list_transform(string_split(text, ' '), s -> ${dhash("s")}) AS hs FROM documents),
         |sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 16),
         |b -> CASE WHEN list_sum(list_transform(hs,
         |h -> CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
         |THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash FROM th),
         |banded AS (SELECT doc_id, simhash, b.band AS band,
         |  (simhash >> (b.band * 4)) & 15 AS bkey
         |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 1
         |ORDER BY id_a, id_b""".stripMargin,

    "q125_host_stats" ->
      // q123's URL synthesis; host = scheme/www-stripped lowercase
      // authority; dup fraction from exact dhash fingerprints per host
      s"""WITH u AS (SELECT doc_id, text,
         |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
         |  (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END) ||
         |  source || '.example.com/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
         |  (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
         |  (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END) ||
         |  (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
         |  FROM documents),
         |h AS (SELECT regexp_replace(lower(regexp_extract(
         |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
         |    '^([^/?#]*)', 1)), '^www\\.', '') AS host, text FROM u),
         |g AS (SELECT host, count(*) AS n_docs,
         |  count(DISTINCT ${dhash("text")}) AS n_unique,
         |  round(avg(CAST(length(text) AS BIGINT)), 6) AS avg_chars
         |  FROM h GROUP BY host),
         |d AS (SELECT host, n_docs, n_unique, avg_chars,
         |  round(1.0 - CAST(n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_frac FROM g)
         |SELECT host, n_docs, n_unique, avg_chars, dup_frac,
         |  (host NOT IN ('src0.example.com')) AND dup_frac <= 0.5 AS keep
         |FROM d ORDER BY host""".stripMargin,

    "q126_corpus_diff" ->
      // full outer join on the id; changed = dhash(text) differs
      s"""WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 != 3),
         |n AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 1 THEN text || ' updated' ELSE text END AS text
         |  FROM documents WHERE doc_id % 4 != 0),
         |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN ${dhash("o.text")} = ${dhash("n.text")} THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT status, count(*) AS n_docs, min(doc_id) AS first_id
         |FROM d GROUP BY status ORDER BY status""".stripMargin,

    "q127_normalized_dedup" ->
      // same shouting re-renders; normalization term-for-term with
      // TextAnalysis.normalizeForDedup (DuckDB regexp_replace needs 'g')
      """WITH c AS (
        |  SELECT doc_id, lang, n_chars, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, lang, n_chars, upper(text) || '!!!  '
        |  FROM documents WHERE doc_id % 6 = 0),
        |n AS (SELECT doc_id, lang, n_chars,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g'), ' +', ' ', 'g')) AS norm FROM c),
        |k AS (SELECT doc_id, lang, n_chars,
        |  row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn FROM n)
        |SELECT doc_id, lang, n_chars FROM k WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q128_containment" ->
      // q26's intersect arithmetic over the same quote-seeded corpus;
      // containment divides by each side's own shingle count
      s"""WITH base AS (
         |  SELECT doc_id * 10 AS doc_id, text FROM documents
         |  UNION ALL SELECT doc_id * 10 + 1,
         |    array_to_string((string_split(text, ' '))[1:12], ' ')
         |  FROM documents WHERE doc_id % 8 = 0),
         |hs AS (SELECT doc_id, ${dShingleHashes("text")} AS hashes FROM base),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(CAST(len(list_filter(a.hashes, h -> list_contains(b.hashes, h))) AS DOUBLE) /
         |    CAST(len(a.hashes) AS DOUBLE), 6) AS cont_a_in_b,
         |  round(CAST(len(list_filter(a.hashes, h -> list_contains(b.hashes, h))) AS DOUBLE) /
         |    CAST(len(b.hashes) AS DOUBLE), 6) AS cont_b_in_a
         |  FROM hs a JOIN hs b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 1)
         |SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM p
         |WHERE cont_a_in_b >= 0.9 OR cont_b_in_a >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,

    "q129_zipf_slope" ->
      // same rank-within-lang + log-log regression; regr_slope/regr_r2
      // take (y, x) in both engines
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT lang, tok, count(*) AS freq FROM t GROUP BY lang, tok),
        |r AS (SELECT lang, freq,
        |  row_number() OVER (PARTITION BY lang ORDER BY freq DESC, tok) AS rank FROM f)
        |SELECT lang, count(*) AS n_types,
        |  round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
        |  round(regr_r2(ln(freq), ln(rank)), 6) AS fit_r2
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "q130_quality_probe" ->
      // same seeded corpus; the OLS fit is Cramer's rule on the centered
      // normal equations (covar_pop matrix), mirroring fitLinearProbe's
      // driver solve; weights and scores round to 6 dp in both engines so
      // every downstream IEEE op is computed on identical doubles. The
      // stop/dup fragments come from q87/q83's green oracles, lm from q99's.
      s"""WITH $dProbeScored
        |SELECT doc_id, stop_frac, dup_word_frac, lm_logp, score, score >= 0.5 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q137_probe_eval" ->
      // q130's CTE chain (shared fragment) scored on the ODD held-out ids;
      // AUC by tie-aware average ranks — every intermediate an exact binary
      // fraction, so the cross-engine hash carries no float-order risk
      s"""WITH $dProbeScored,
        |e AS (SELECT score AS s, CASE WHEN doc_id >= 2000000 THEN 0.0 ELSE 1.0 END AS y
        |  FROM sc WHERE doc_id % 2 = 1),
        |per AS (SELECT s, CAST(count(*) AS DOUBLE) AS n, sum(y) AS np FROM e GROUP BY s),
        |rk AS (SELECT *, coalesce(sum(n) OVER (ORDER BY s
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM per),
        |ag AS (SELECT sum(np) AS p, sum(n - np) AS nn,
        |  sum(np * (below + (n + 1) / 2)) AS sr,
        |  sum(CASE WHEN s >= 0.5 THEN np ELSE 0 END) AS tpd,
        |  sum(CASE WHEN s >= 0.5 THEN n - np ELSE 0 END) AS fpd FROM rk)
        |SELECT CAST(p AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        |  round((sr - p * (p + 1) / 2) / (p * nn), 6) AS auc,
        |  CAST(tpd AS BIGINT) AS tp, CAST(fpd AS BIGINT) AS fp,
        |  CAST(p - tpd AS BIGINT) AS fn, CAST(nn - fpd AS BIGINT) AS tn,
        |  round(tpd / (tpd + fpd), 6) AS prec,
        |  round(tpd / p, 6) AS rec,
        |  round(2 * tpd / (p + tpd + fpd), 6) AS f1,
        |  round((tpd + nn - fpd) / (p + nn), 6) AS acc
        |FROM ag""".stripMargin,

    "q138_dsir_select" ->
      // same two add-0.5-smoothed hashed-unigram multinomials (dhash % 256
      // buckets), per-doc Σ log-ratio, hash-seeded Gumbel key (dbucket is
      // Stats.mixHash's mirror), top ceil(|pool|/4) by (key, doc_id)
      s"""WITH d AS (SELECT doc_id, text, lang = 'en' AS tgt FROM documents),
        |tk AS (SELECT doc_id, tgt, (${dhash("w")}) % 256 AS b
        |  FROM d, unnest(string_split(text, ' ')) AS t(w)),
        |c AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
        |  sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr FROM tk GROUP BY b),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM c),
        |lr AS (SELECT b, ln((ct + 0.5) / (nt + 0.5 * 256)) -
        |  ln((cr + 0.5) / (nr + 0.5 * 256)) AS lw FROM c CROSS JOIN tot),
        |pd AS (SELECT tk.doc_id, count(*) AS n_tokens, sum(lw) AS logw
        |  FROM tk JOIN lr USING (b) WHERE NOT tgt GROUP BY tk.doc_id),
        |ky AS (SELECT pd.doc_id, n_tokens, round(logw, 6) AS log_weight,
        |  round(logw - ln(-ln((${dbucket("text", 1000000)} + 0.5) / 1000000.0)), 6) AS sel_key
        |  FROM pd JOIN d USING (doc_id)),
        |kk AS (SELECT CAST(ceil(count(*) * 0.25) AS BIGINT) AS k FROM d WHERE NOT tgt)
        |SELECT doc_id, n_tokens, log_weight, sel_key FROM ky, kk
        |QUALIFY row_number() OVER (ORDER BY sel_key DESC, doc_id) <= k
        |ORDER BY doc_id""".stripMargin,

    "q139_neardup_decontam" -> {
      // q133's signature+banding CTEs over the train corpus and the seeded
      // eval set; hits = band-join pairs with est >= 0.8, aggregated per
      // train doc (est is slots-equal/16 — exact binary fractions)
      def bands(src: String) =
        s"""${src}hs AS (SELECT doc_id, ${dShingleHashes("text")} AS hashes FROM $src),
           |${src}sg AS (SELECT doc_id, list_transform(range(0, 16),
           |  i -> list_min(list_transform(hashes, h -> ((2*i+3)*h + (7*i+1)) % $Mod))) AS sig FROM ${src}hs),
           |${src}bd AS (SELECT doc_id, sig, b.band AS band,
           |  array_to_string(sig[b.band*4+1 : b.band*4+4], '-') AS bkey
           |  FROM ${src}sg CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin
      val est =
        "list_sum(list_transform(range(1, 17), i -> CASE WHEN t.sig[i] = e.sig[i] THEN 1 ELSE 0 END)) / 16.0"
      s"""WITH tr AS (SELECT doc_id, text FROM documents),
         |ev AS (SELECT doc_id + 3000000 AS doc_id, text || ' eval suite footer' AS text
         |  FROM documents WHERE doc_id % 7 = 3
         |  UNION ALL SELECT doc_id + 4000000, 'benchmark question about topic ' ||
         |    CAST(doc_id AS VARCHAR) || ' with entirely fresh phrasing'
         |  FROM documents WHERE doc_id % 11 = 5),
         |${bands("tr")},
         |${bands("ev")},
         |pe AS (SELECT DISTINCT t.doc_id, e.doc_id AS eid, $est AS ej
         |  FROM trbd t JOIN evbd e ON t.band = e.band AND t.bkey = e.bkey)
         |SELECT doc_id, count(DISTINCT eid) AS n_eval_hits,
         |  max(ej) AS max_est_jaccard
         |FROM pe WHERE ej >= 0.8 GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q140_bpe_encode" -> {
      // the same wrapped-symbol '(a)(b)' replace chain over the DISTINCT
      // word set (merges in table order, all-occurrence replace == the
      // fold, see bpeEncodeStats); subtokens = '(' count of the encoding
      val enc = BpeApplyMerges.foldLeft(
        "'(' || array_to_string(string_split(w, ''), ')(') || ')'") {
        case (acc, (a, b)) => s"replace($acc, '($a)($b)', '($a$b)')"
      }
      s"""WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS w
         |  FROM documents),
         |we AS (SELECT w, $enc AS enc FROM (SELECT DISTINCT w FROM tk)),
         |ws AS (SELECT w, len(enc) - len(replace(enc, '(', '')) AS ns FROM we)
         |SELECT doc_id, count(*) AS n_words, CAST(sum(ns) AS BIGINT) AS n_subtokens,
         |  round(CAST(sum(ns) AS DOUBLE) / count(*), 6) AS subtokens_per_word
         |FROM tk JOIN ws USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q141_paragraph_scrub" ->
      // q105's scrub CTE shapes at n = 1 over 2-line paragraphs: t0/t1
      // are dLineSynth verbatim, t2 regroups pairs of lines with chr(10),
      // paragraphs join with chr(10)||chr(10); same hash + canonical rank
      s"""WITH ${dLineSynth(withPunct = false)},
         |t2 AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(ln) / 2.0) AS BIGINT)),
         |    j -> array_to_string(ln[j*2+1 : j*2+2], chr(10))) AS pr FROM t1),
         |sp AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, ${dhash("pr[i]")} AS h
         |  FROM t2, unnest(range(1, len(pr) + 1)) AS r(i)),
         |j AS (SELECT doc_id, pos,
         |  count(*) OVER (PARTITION BY h) AS n_occ,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sp),
         |rm AS (SELECT doc_id, pos AS ri FROM j WHERE n_occ > 1 AND rn > 1),
         |u AS (SELECT doc_id, CAST(i AS INTEGER) AS pi, pr[i] AS par
         |  FROM t2, unnest(range(1, len(pr) + 1)) AS r(i)),
         |kept AS (SELECT u.doc_id,
         |    array_to_string(list(u.par ORDER BY u.pi), chr(10) || chr(10)) AS ct
         |  FROM u LEFT JOIN rm ON u.doc_id = rm.doc_id AND u.pi = rm.ri
         |  WHERE rm.ri IS NULL GROUP BY u.doc_id),
         |nr AS (SELECT doc_id, count(*) AS n_rm FROM rm GROUP BY doc_id)
         |SELECT t2.doc_id, CAST(len(pr) AS BIGINT) AS n_paragraphs,
         |  CAST(coalesce(nr.n_rm, 0) AS BIGINT) AS n_removed_paragraphs,
         |  coalesce(kept.ct, '') AS clean_text
         |FROM t2 LEFT JOIN kept ON t2.doc_id = kept.doc_id
         |LEFT JOIN nr ON t2.doc_id = nr.doc_id
         |ORDER BY t2.doc_id""".stripMargin,

    "q142_shard_plan" ->
      // shard/order keys are dbucket/dmix over the same "seed:<id>" /
      // "seed~<id>" strings shardPlan builds; pos = row_number within
      // shard by (order hash, id)
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    (${dbucket("'42:' || CAST(doc_id AS VARCHAR)", 8)}) AS shard,
         |    (${dmix("'42~' || CAST(doc_id AS VARCHAR)")}) AS ord
         |  FROM documents)
         |SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS pos,
         |  n_tokens
         |FROM d ORDER BY doc_id""".stripMargin,

    "q143_curation_funnel" ->
      // each stage's CTE verbatim from its own green oracle (q123 URL
      // canon via dUrlCanon, q127 normalization, q87/q103 gopher, q82
      // 5-gram contamination), chained on the PREVIOUS stage's
      // survivors; the datasheet is the per-lang left-join rollup
      s"""WITH $dUrlCanon,
         |c1 AS (SELECT doc_id FROM (SELECT doc_id,
         |    row_number() OVER (PARTITION BY url_canon ORDER BY doc_id) AS rn FROM s5)
         |  WHERE rn = 1),
         |nrm AS (SELECT d.doc_id,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'), ' +', ' ', 'g')) AS norm
         |  FROM documents d JOIN c1 USING (doc_id)),
         |c2 AS (SELECT doc_id FROM (SELECT doc_id,
         |    row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn FROM nrm)
         |  WHERE rn = 1),
         |t AS (SELECT doc_id, source, lang, text, string_split(text, ' ') AS tk,
         |  string_split(text, chr(10)) AS ln FROM documents),
         |gs AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  round(list_aggregate(list_transform(tk, x -> len(x)), 'sum') * 1.0 / len(tk), 6) AS mean_word_len,
         |  round(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk), 6) AS alpha_word_frac,
         |  round((len(string_split(text, '#')) - 1 + len(string_split(text, '...')) - 1) * 1.0 / len(tk), 6) AS symbol_word_ratio,
         |  round(len(list_filter(ln, x -> starts_with(x, '- ') OR starts_with(x, '* '))) * 1.0 / len(ln), 6) AS bullet_line_frac,
         |  round(len(list_filter(ln, x -> ends_with(x, '...'))) * 1.0 / len(ln), 6) AS ellipsis_line_frac,
         |  CAST(len(list_filter(tk, x -> x IN (${TextAnalysis.GopherStopwords.map(w => s"'$w'").mkString(",")}))) AS BIGINT) AS n_stopwords
         |  FROM t),
         |gq AS (SELECT doc_id, (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
         |  AND mean_word_len <= 10.0 AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
         |  AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 AND n_stopwords >= 2) AS g_keep FROM gs),
         |c3 AS (SELECT c2.doc_id FROM c2 JOIN gq ON c2.doc_id = gq.doc_id WHERE g_keep),
         |gg AS (SELECT doc_id, source, unnest(CASE WHEN len(tk) < 5 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(tk) - 3), i -> array_to_string(tk[i:i+4], ' ')) END) AS gram FROM t),
         |hh AS (SELECT doc_id, source, ${dhash("gram")} AS gh FROM gg),
         |bench AS (SELECT DISTINCT gh FROM hh WHERE source = 'src0'),
         |hits AS (SELECT DISTINCT hh.doc_id FROM hh JOIN bench USING (gh) WHERE source <> 'src0'),
         |c4 AS (SELECT c3.doc_id FROM c3 JOIN t USING (doc_id)
         |  WHERE t.source <> 'src0' AND c3.doc_id NOT IN (SELECT doc_id FROM hits))
         |SELECT t.lang, count(*) AS n_raw,
         |  count(c1.doc_id) AS n_after_url,
         |  count(c2.doc_id) AS n_after_dedup,
         |  count(c3.doc_id) AS n_after_quality,
         |  count(c4.doc_id) AS n_final,
         |  CAST(coalesce(sum(CASE WHEN c4.doc_id IS NOT NULL THEN len(tk) END), 0) AS BIGINT) AS n_tokens_final
         |FROM t LEFT JOIN c1 ON t.doc_id = c1.doc_id
         |LEFT JOIN c2 ON t.doc_id = c2.doc_id
         |LEFT JOIN c3 ON t.doc_id = c3.doc_id
         |LEFT JOIN c4 ON t.doc_id = c4.doc_id
         |GROUP BY t.lang ORDER BY t.lang""".stripMargin,

    "q144_winnow_pairs" ->
      // same 3-gram poly-31 hashes; windows of 4, leftmost-min selection
      // (list_position finds the first match), distinct (doc, h), then
      // the fingerprint-keyed pair count with the >= 2 evidence bar
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN CAST([] AS BIGINT[])
         |  ELSE list_transform(range(1, len(tk) - 1), i -> ${dhash("array_to_string(tk[i:i+2], ' ')")}) END AS gh FROM t),
         |wd AS (SELECT doc_id, CASE WHEN len(gh) < 4 THEN CAST([] AS BIGINT[])
         |  ELSE list_transform(range(1, len(gh) - 2), j -> list_min(gh[j:j+3])) END AS sel FROM g),
         |fp AS (SELECT DISTINCT doc_id, h FROM wd, unnest(sel) AS u(h))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin,

    "q145_badwords" ->
      // same whole-token lowercase membership; fraction via the * 1.0
      // pattern every green quality oracle uses
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(tk, x -> lower(x) IN ('batch', 'stream', 'forbidden'))) AS BIGINT) AS n_flagged FROM t)
        |SELECT doc_id, n_tokens, n_flagged,
        |  round(n_flagged * 1.0 / n_tokens, 6) AS flagged_frac,
        |  n_flagged = 0 AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    "q146_silhouette" ->
      // q28's double-cast cosine CTEs; distance = 1 - cos, top-2 by
      // (dist, cell_id), s = (b-a)/max(a,b) with the both-zero guard
      """WITH cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT corp.vec_id, cent.cell_id,
        |  1.0 - list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS dist
        |  FROM corp CROSS JOIN cent),
        |r AS (SELECT vec_id, cell_id, dist,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rn FROM d),
        |ab AS (SELECT vec_id, max(CASE WHEN rn = 1 THEN cell_id END) AS cell_id,
        |  max(CASE WHEN rn = 1 THEN dist END) AS a, max(CASE WHEN rn = 2 THEN dist END) AS b
        |  FROM r WHERE rn <= 2 GROUP BY vec_id),
        |s AS (SELECT cell_id, CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s FROM ab)
        |SELECT cell_id, count(*) AS n_vecs, round(avg(s), 6) AS mean_silhouette,
        |  round(min(s), 6) AS min_silhouette
        |FROM s GROUP BY cell_id ORDER BY cell_id""".stripMargin,

    "q147_hard_negatives" ->
      // q27's double-cast cosine CTEs plus the different-label filter
      """WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv, label AS pl FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS cl FROM embeddings),
        |sc AS (SELECT probe_id, neighbor_id, cl,
        |list_dot_product(pv, cv) / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |FROM p JOIN c ON neighbor_id != probe_id AND cl != pl),
        |r AS (SELECT probe_id, neighbor_id, cl, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  round(cos, 6) AS cosine, cl AS neighbor_label
        |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q148_label_noise" ->
      // q28's assignment CTE (cos DESC, cell_id tie), cell-local self-
      // join, top-5 by (cos DESC, neighbor id), majority-disagree verdict
      """WITH cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |asg AS (SELECT vec_id, v, label, cell_id FROM (
        |  SELECT corp.vec_id, corp.v, corp.label, cent.cell_id,
        |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
        |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
        |    cent.cell_id) AS rr
        |  FROM corp CROSS JOIN cent) WHERE rr = 1),
        |sc AS (SELECT a.vec_id AS probe_id, a.label AS probe_label,
        |  b.vec_id AS nid, b.label AS nl,
        |  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id != b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, nid) AS rn FROM sc)
        |SELECT probe_id, probe_label, count(*) AS n_neighbors,
        |  CAST(sum(CASE WHEN nl != probe_label THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
        |  round(sum(CASE WHEN nl != probe_label THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS disagree_frac,
        |  round(sum(CASE WHEN nl != probe_label THEN 1 ELSE 0 END) * 1.0 / count(*), 6) > 0.5 AS suspect
        |FROM r WHERE rn <= 5 GROUP BY 1, 2 ORDER BY probe_id""".stripMargin,

    "q149_nfc_audit" ->
      // same seeded combining marks (chr(769)/chr(776)); DuckDB's
      // nfc_normalize is utf8proc's UAX #15 — the same canonical
      // composition java.text.Normalizer implements
      """WITH c AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) || ' u' || chr(776) ELSE '' END AS raw
        |  FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM c)
        |SELECT doc_id, raw != nfc AS changed,
        |  CAST(len(raw) AS BIGINT) AS len_raw, CAST(len(nfc) AS BIGINT) AS len_nfc
        |FROM n ORDER BY doc_id""".stripMargin,

    "q150_char_entropy" ->
      // same histogram fold over the doc's own char list; the bracket
      // compares the 6-dp-rounded entropy (engine-reproducible boundary)
      """WITH s AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
        |e AS (SELECT doc_id, len(cs) AS n, list_distinct(cs) AS dc, cs FROM s),
        |h AS (SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |  CAST(len(dc) AS BIGINT) AS n_distinct_chars,
        |  round(ln(n) - list_sum(list_transform(dc, c ->
        |    len(list_filter(cs, x -> x = c)) *
        |    ln(len(list_filter(cs, x -> x = c))))) / n, 6) AS entropy
        |  FROM e)
        |SELECT doc_id, n_chars, n_distinct_chars, entropy,
        |  entropy >= 2.0 AND entropy <= 5.0 AS keep
        |FROM h ORDER BY doc_id""".stripMargin,

    "q151_soft_dedup" ->
      // same seeded clones; the window keys on text where the operator
      // keys on its fingerprint (q21/q127's green pairing)
      """WITH c AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0),
        |g AS (SELECT doc_id, count(*) OVER (PARTITION BY text) AS n,
        |  row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM c)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_copies,
        |  round(1.0 / n, 6) AS sample_weight, rn = 1 AS is_canonical
        |FROM g ORDER BY doc_id""".stripMargin,

    "q152_card_pii" ->
      // same seeded numbers; the Luhn mod-10 fold reproduced digit-for-
      // digit (double every 2nd digit from the RIGHT, 2d>9 -> 2d-9)
      """WITH c AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 6 = 0 THEN ' card 4532015112830366 on file'
        |       WHEN doc_id % 6 = 3 THEN ' card 4532015112830367 on file'
        |       ELSE '' END AS text FROM documents),
        |x AS (SELECT doc_id, regexp_extract_all(text, '[0-9]{13,19}') AS cands FROM c),
        |v AS (SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
        |  CAST(len(list_filter(cands, s -> (list_sum(list_transform(range(1, len(s) + 1), i ->
        |    CASE WHEN (len(s) - i) % 2 = 1 THEN
        |      CASE WHEN 2 * CAST(s[i] AS INTEGER) > 9 THEN 2 * CAST(s[i] AS INTEGER) - 9
        |           ELSE 2 * CAST(s[i] AS INTEGER) END
        |    ELSE CAST(s[i] AS INTEGER) END))) % 10 = 0)) AS BIGINT) AS n_valid_cards
        |  FROM x)
        |SELECT doc_id, n_candidates, n_valid_cards, n_valid_cards > 0 AS has_card_pii
        |FROM v ORDER BY doc_id""".stripMargin,

    "q153_filter_matrix" ->
      // gopher/repetition CTEs from q103's green oracle, entropy from
      // q150's; the rollup groups the three rounded-boundary verdicts
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
        |  string_split(text, chr(10)) AS ln FROM documents),
        |gs AS (SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_words,
        |  round(list_aggregate(list_transform(tk, x -> len(x)), 'sum') * 1.0 / len(tk), 6) AS mean_word_len,
        |  round(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk), 6) AS alpha_word_frac,
        |  round((len(string_split(text, '#')) - 1 + len(string_split(text, '...')) - 1) * 1.0 / len(tk), 6) AS symbol_word_ratio,
        |  round(len(list_filter(ln, x -> starts_with(x, '- ') OR starts_with(x, '* '))) * 1.0 / len(ln), 6) AS bullet_line_frac,
        |  round(len(list_filter(ln, x -> ends_with(x, '...'))) * 1.0 / len(ln), 6) AS ellipsis_line_frac,
        |  CAST(len(list_filter(tk, x -> x IN (${TextAnalysis.GopherStopwords.map(w => s"'$w'").mkString(",")}))) AS BIGINT) AS n_stopwords
        |  FROM t),
        |gq AS (SELECT doc_id, (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
        |  AND mean_word_len <= 10.0 AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
        |  AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 AND n_stopwords >= 2) AS g_keep FROM gs),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS gram FROM t),
        |cnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS mc, sum(c) AS tot FROM cnt GROUP BY 1),
        |rep AS (SELECT t.doc_id,
        |  (round(1.0 - len(list_distinct(tk)) * 1.0 / len(tk), 6) <= 0.6
        |   AND round(coalesce(mc * 1.0 / tot, 0.0), 6) <= 0.08) AS r_keep
        |  FROM t LEFT JOIN top ON t.doc_id = top.doc_id),
        |cs AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
        |ee AS (SELECT doc_id, len(cs) AS n, list_distinct(cs) AS dc, cs FROM cs),
        |ent AS (SELECT doc_id,
        |  round(ln(n) - list_sum(list_transform(dc, c ->
        |    len(list_filter(cs, x -> x = c)) *
        |    ln(len(list_filter(cs, x -> x = c))))) / n, 6) AS entropy FROM ee)
        |SELECT g_keep, r_keep, entropy >= 2.0 AND entropy <= 5.0 AS e_keep,
        |  count(*) AS n_docs, min(t.doc_id) AS first_doc
        |FROM t JOIN gq ON t.doc_id = gq.doc_id JOIN rep ON t.doc_id = rep.doc_id
        |JOIN ent ON t.doc_id = ent.doc_id
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q154_chat_validate" ->
      // dTurnSynth's ordered turn lists; alternation checks the post-
      // system suffix against the strict user/assistant pattern
      s"""WITH $dTurnSynth,
         |v AS (SELECT conv_id, t, CAST(len(t) AS BIGINT) AS n_turns,
         |  t[1].r IN ('system', 'user') AS starts_ok,
         |  CASE WHEN t[1].r = 'system' THEN t[2:len(t)] ELSE t END AS rest FROM g),
         |w AS (SELECT conv_id, n_turns, starts_ok,
         |  CASE WHEN len(rest) = 0 THEN false
         |       ELSE len(list_filter(range(1, len(rest) + 1),
         |    i -> rest[i].r != CASE WHEN (i - 1) % 2 = 0 THEN 'user' ELSE 'assistant' END)) = 0 END AS alternates_ok,
         |  len(list_filter(t, s -> len(s.x) = 0)) = 0 AS no_empty FROM v)
         |SELECT conv_id, n_turns, starts_ok, alternates_ok, no_empty,
         |  starts_ok AND alternates_ok AND no_empty AS valid
         |FROM w ORDER BY conv_id""".stripMargin,

    "q155_chat_flatten" ->
      // same lists; keep = system turn + last 4 of the rest, then the
      // <|role|>content join with chr(10)
      s"""WITH $dTurnSynth,
         |f AS (SELECT conv_id, t,
         |  CASE WHEN t[1].r = 'system' THEN t[1:1] ELSE t[1:0] END AS sys,
         |  CASE WHEN t[1].r = 'system' THEN t[2:len(t)] ELSE t END AS rest FROM g),
         |k AS (SELECT conv_id, CAST(len(t) AS BIGINT) AS n_turns,
         |  list_concat(sys, CASE WHEN len(rest) <= 4 THEN rest
         |    ELSE rest[len(rest)-3 : len(rest)] END) AS kept FROM f),
         |o AS (SELECT conv_id, n_turns, kept,
         |  array_to_string(list_transform(kept, s -> '<|' || s.r || '|>' || s.x), chr(10)) AS fl FROM k)
         |SELECT conv_id, n_turns, CAST(len(kept) AS BIGINT) AS n_turns_kept,
         |  CAST(len(fl) AS BIGINT) AS n_chars, fl AS text
         |FROM o ORDER BY conv_id""".stripMargin,

    "q156_chat_spans" ->
      // q155's kept list; per-turn offset = closed-form prefix sum of
      // len('<|') + role + '|>' + content + the chr(10) separator (+5/+4)
      s"""WITH $dTurnSynth,
         |f AS (SELECT conv_id, t,
         |  CASE WHEN t[1].r = 'system' THEN t[1:1] ELSE t[1:0] END AS sys,
         |  CASE WHEN t[1].r = 'system' THEN t[2:len(t)] ELSE t END AS rest FROM g),
         |k AS (SELECT conv_id, list_concat(sys, CASE WHEN len(rest) <= 4 THEN rest
         |    ELSE rest[len(rest)-3 : len(rest)] END) AS kept FROM f),
         |sp AS (SELECT conv_id, j,
         |  coalesce(list_sum(list_transform(range(1, j), i ->
         |    len(kept[i].r) + len(kept[i].x) + 5)), 0) AS off,
         |  kept[j].r AS role, len(kept[j].r) AS rl, len(kept[j].x) AS xl
         |  FROM k, unnest(range(1, len(kept) + 1)) AS u(j)),
         |a AS (SELECT conv_id, off + 2 + rl + 2 AS start_char,
         |  off + rl + xl + 4 AS end_char,
         |  row_number() OVER (PARTITION BY conv_id ORDER BY j) AS span_idx
         |  FROM sp WHERE role = 'assistant')
         |SELECT conv_id, CAST(span_idx AS BIGINT) AS span_idx,
         |  CAST(start_char AS BIGINT) AS start_char,
         |  CAST(end_char AS BIGINT) AS end_char,
         |  CAST(end_char - start_char AS BIGINT) AS n_label_chars
         |FROM a ORDER BY conv_id, span_idx""".stripMargin,

    "q157_ict_pairs" ->
      // dLineSynth's lines; the query line is dmix('77:'||id) % n_lines
      // (mixHash's mirror), context = the other lines in order
      s"""WITH ${dLineSynth(withPunct = false)},
         |p AS (SELECT doc_id, ln,
         |  (${dmix("'77:' || CAST(doc_id AS VARCHAR)")}) % len(ln) AS qi
         |  FROM t1 WHERE len(ln) >= 2)
         |SELECT doc_id, CAST(qi AS BIGINT) AS query_line_idx, ln[qi + 1] AS query,
         |  array_to_string(list_transform(list_filter(range(1, len(ln) + 1),
         |    i -> i != qi + 1), i -> ln[i]), chr(10)) AS context
         |FROM p ORDER BY doc_id""".stripMargin,

    "q158_probe_calibration" ->
      // q130/q137's shared scored CTE; clamped-score deciles vs the
      // observed clean rate on the odd-id held-out slice
      s"""WITH $dProbeScored,
         |e AS (SELECT doc_id, score,
         |  CASE WHEN doc_id >= 2000000 THEN 0.0 ELSE 1.0 END AS label
         |  FROM sc WHERE doc_id % 2 = 1),
         |b AS (SELECT CAST(floor(least(greatest(score, 0), 0.999999) * 10) AS BIGINT) AS bucket,
         |  score, label FROM e)
         |SELECT bucket, count(*) AS n_docs, round(avg(score), 6) AS mean_score,
         |  round(avg(label), 6) AS clean_rate
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q159_pref_audit" ->
      // same seeded rejected variants; token counts mirror string_split
      """WITH p AS (SELECT doc_id, text AS chosen,
        |  CASE WHEN doc_id % 17 = 0 THEN text
        |       ELSE substr(text, 1, 60) || ' buy cheap pills now' END AS rejected
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(string_split(chosen, ' ')) AS BIGINT) AS n_tokens_chosen,
        |  CAST(len(string_split(rejected, ' ')) AS BIGINT) AS n_tokens_rejected,
        |  chosen = rejected AS identical,
        |  len(chosen) > 0 AND len(rejected) > 0 AS nonempty
        |  FROM p)
        |SELECT doc_id, n_tokens_chosen, n_tokens_rejected,
        |  round(n_tokens_chosen * 1.0 / n_tokens_rejected, 6) AS len_ratio,
        |  identical, n_tokens_chosen > n_tokens_rejected AS chosen_longer,
        |  NOT identical AND nonempty AS usable
        |FROM s ORDER BY doc_id""".stripMargin,

    "q160_mrl_recall" ->
      // q27's ranking twice (full vs 16-d prefix slice), top-5 sets,
      // per-probe intersection
      s"""WITH ${dBruteRank("f", "CAST(embedding AS DOUBLE[])")},
         |${dBruteRank("t", "list_slice(CAST(embedding AS DOUBLE[]), 1, 16)")},
         |fo AS (SELECT probe_id, neighbor_id FROM fr WHERE rank <= 5),
         |tt AS (SELECT probe_id, neighbor_id FROM tr WHERE rank <= 5),
         |ov AS (SELECT fo.probe_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM fo JOIN tt USING (probe_id, neighbor_id) GROUP BY 1)
         |SELECT p.vec_id AS probe_id,
         |  coalesce(n_overlap, 0) AS n_overlap,
         |  round(coalesce(n_overlap, 0) / CAST(5 AS DOUBLE), 6) AS recall
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) p
         |LEFT JOIN ov ON p.vec_id = ov.probe_id
         |ORDER BY probe_id""".stripMargin,

    "q161_rrf_fuse" ->
      // the same two arms; score = 1/(60+rank) per arm, absent arm = 0,
      // fused top-5 by (score DESC, neighbor)
      s"""WITH ${dBruteRank("f", "CAST(embedding AS DOUBLE[])")},
         |${dBruteRank("t", "list_slice(CAST(embedding AS DOUBLE[]), 1, 16)")},
         |fa AS (SELECT probe_id, neighbor_id, 1.0 / (60 + rank) AS sa FROM fr WHERE rank <= 5),
         |fb AS (SELECT probe_id, neighbor_id, 1.0 / (60 + rank) AS sb FROM tr WHERE rank <= 5),
         |u AS (SELECT coalesce(fa.probe_id, fb.probe_id) AS probe_id,
         |  coalesce(fa.neighbor_id, fb.neighbor_id) AS neighbor_id,
         |  coalesce(sa, 0) + coalesce(sb, 0) AS rrf
         |  FROM fa FULL OUTER JOIN fb
         |  ON fa.probe_id = fb.probe_id AND fa.neighbor_id = fb.neighbor_id),
         |rr AS (SELECT probe_id, neighbor_id, rrf,
         |  row_number() OVER (PARTITION BY probe_id ORDER BY rrf DESC, neighbor_id) AS rank FROM u)
         |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
         |  round(rrf, 6) AS rrf_score
         |FROM rr WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q162_readability" ->
      // dLineSynth's lines rejoined as sentences; identical syllable
      // regex and left-associated Flesch arithmetic
      s"""WITH ${dLineSynth(withPunct = false)},
         |d AS (SELECT doc_id, array_to_string(ln, '. ') || '.' AS t2 FROM t1),
         |w AS (SELECT doc_id, t2, regexp_extract_all(t2, '[A-Za-z0-9]+') AS ws FROM d),
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split(t2, '.'), x -> trim(x) != '')) AS BIGINT) AS n_sentences,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ws, x ->
         |    greatest(1, len(regexp_extract_all(lower(x), '[aeiouy]+'))))) AS BIGINT) AS n_syllables
         |  FROM w)
         |SELECT doc_id, n_sentences, n_words, n_syllables,
         |  round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
         |    - 84.6 * (n_syllables * 1.0 / n_words), 6) AS flesch
         |FROM m ORDER BY doc_id""".stripMargin,

    "q164_ivf_recall" ->
      // truth = dBruteRank over probes 10..20; approx = q28's IVF CTE
      // chain verbatim (same assignment tie rule); recall = overlap/3
      s"""WITH ${dBruteRank("b", "CAST(embedding AS DOUBLE[])", "vec_id >= 10 AND vec_id < 20")},
         |cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
         |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |asg AS (SELECT vec_id, v, cell_id FROM (
         |  SELECT corp.vec_id, corp.v, cent.cell_id,
         |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
         |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
         |    cent.cell_id) AS rr
         |  FROM corp CROSS JOIN cent) WHERE rr = 1),
         |iprobes AS (SELECT vec_id AS probe_id, v AS pv, cell_id FROM asg WHERE vec_id >= 10 AND vec_id < 20),
         |isc AS (SELECT p.probe_id, c.vec_id AS neighbor_id,
         |  list_dot_product(p.pv, c.v) / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
         |  FROM iprobes p JOIN asg c ON p.cell_id = c.cell_id AND c.vec_id != p.probe_id),
         |ir AS (SELECT probe_id, neighbor_id,
         |  row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM isc),
         |tt AS (SELECT probe_id, neighbor_id FROM br WHERE rank <= 3),
         |aa AS (SELECT probe_id, neighbor_id FROM ir WHERE rank <= 3),
         |ov AS (SELECT tt.probe_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM tt JOIN aa USING (probe_id, neighbor_id) GROUP BY 1)
         |SELECT p.probe_id, coalesce(n_overlap, 0) AS n_overlap,
         |  round(coalesce(n_overlap, 0) / CAST(3 AS DOUBLE), 6) AS recall
         |FROM (SELECT DISTINCT probe_id FROM tt) p
         |LEFT JOIN ov ON p.probe_id = ov.probe_id ORDER BY p.probe_id""".stripMargin,

    "q165_embedding_audit" ->
      // same seeded defects; norm2 via list_dot_product (the same
      // sequential element walk as the Spark fold); healthy = NOT nan
      """WITH s AS (SELECT label,
        |  CASE WHEN vec_id % 97 = 0 THEN CAST(list_transform(range(0, 64), i -> 0.0) AS DOUBLE[])
        |       WHEN vec_id % 89 = 3 THEN list_concat(['NaN'::DOUBLE], CAST(embedding AS DOUBLE[])[2:64])
        |       ELSE CAST(embedding AS DOUBLE[]) END AS v
        |  FROM embeddings),
        |m AS (SELECT label, list_dot_product(v, v) AS n2,
        |  len(list_filter(v, x -> isnan(x))) > 0 AS has_nan FROM s)
        |SELECT label AS grp, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN NOT has_nan AND n2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        |  round(avg(CASE WHEN NOT has_nan THEN sqrt(n2) END), 6) AS mean_norm,
        |  round(min(CASE WHEN NOT has_nan THEN sqrt(n2) END), 6) AS min_norm,
        |  round(max(CASE WHEN NOT has_nan THEN sqrt(n2) END), 6) AS max_norm
        |FROM m GROUP BY label ORDER BY grp""".stripMargin,

    "q163_langid_confusion" -> {
      // q30's score + argmax CASE verbatim, rolled up by (true, predicted)
      val m = langMarkers
      val scores = m.keys.toSeq.sorted
        .map(l => s"${dLangScore(m(l))} AS score_$l").mkString(", ")
      s"""WITH s AS (SELECT doc_id, lang, $scores FROM documents),
         |p AS (SELECT lang, CASE
         |WHEN score_zh >= score_fr AND score_zh >= score_es AND score_zh >= score_en AND score_zh >= score_de THEN 'zh'
         |WHEN score_fr >= score_es AND score_fr >= score_en AND score_fr >= score_de THEN 'fr'
         |WHEN score_es >= score_en AND score_es >= score_de THEN 'es'
         |WHEN score_en >= score_de THEN 'en'
         |ELSE 'de' END AS predicted FROM s),
         |g AS (SELECT lang, predicted, count(*) AS n_docs FROM p GROUP BY 1, 2)
         |SELECT lang, predicted, n_docs,
         |  round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang), 6) AS row_frac
         |FROM g ORDER BY lang, predicted""".stripMargin
    },

    "q131_word_lm" ->
      // same fit-on-even-slice bigram/unigram tables; seen bigrams score
      // the conditional, unseen ones the add-0.5-smoothed unigram backoff
      // with alpha = 0.4 — term-for-term with wordBigramLogProb (word
      // tokens mirror q73's regexp_extract_all)
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS tk,
        |  doc_id % 2 = 0 AS fit FROM documents),
        |bg AS (SELECT doc_id, fit, unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS g FROM d),
        |un AS (SELECT doc_id, fit, unnest(tk) AS w FROM d),
        |c1 AS (SELECT w, count(*) AS c1 FROM un WHERE fit GROUP BY w),
        |c2 AS (SELECT g, count(*) AS c2 FROM bg WHERE fit GROUP BY g),
        |nv AS (SELECT CAST(sum(c1) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM c1),
        |s AS (SELECT b.doc_id,
        |  CASE WHEN c2.c2 IS NOT NULL THEN ln(c2.c2 / k1.c1)
        |       ELSE ln(0.4 * (coalesce(k2.c1, 0) + 0.5) / (nv.n + 0.5 * nv.v)) END AS lp,
        |  CASE WHEN c2.c2 IS NULL THEN 1.0 ELSE 0.0 END AS bf
        |  FROM bg b LEFT JOIN c2 ON b.g = c2.g
        |  LEFT JOIN c1 k1 ON split_part(b.g, ' ', 1) = k1.w
        |  LEFT JOIN c1 k2 ON split_part(b.g, ' ', 2) = k2.w
        |  CROSS JOIN nv)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logp,
        |  round(avg(bf), 6) AS backoff_frac
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q132_neardiff" -> {
      // q126's full-outer diff + q124's simhash CTE on each side; the
      // changed split is bit_count(xor) <= 3 on the 16-bit fingerprints
      def dsim(src: String) =
        s"""${src}h AS (SELECT doc_id, ${dhash("text")} AS h,
           |  list_transform(string_split(text, ' '), s -> ${dhash("s")}) AS hs FROM $src),
           |${src}s AS (SELECT doc_id, h, CAST(list_sum(list_transform(range(0, 16),
           |  b -> CASE WHEN list_sum(list_transform(hs,
           |  t -> CASE WHEN (t // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
           |  THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sh FROM ${src}h)""".stripMargin
      s"""WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 != 3),
         |n AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 1 THEN text || ' updated'
         |       WHEN doc_id % 4 = 2 THEN 'totally different content about ' ||
         |         CAST(doc_id AS VARCHAR) || ' rewritten from scratch with new vocabulary'
         |       ELSE text END AS text
         |  FROM documents WHERE doc_id % 4 != 0),
         |${dsim("o")},
         |${dsim("n")}
         |SELECT coalesce(os.doc_id, ns.doc_id) AS doc_id,
         |  CASE WHEN os.doc_id IS NULL THEN 'added'
         |       WHEN ns.doc_id IS NULL THEN 'removed'
         |       WHEN os.h = ns.h THEN 'unchanged'
         |       WHEN bit_count(xor(os.sh, ns.sh)) <= 3 THEN 're-rendered'
         |       ELSE 'rewritten' END AS status
         |FROM os FULL OUTER JOIN ns ON os.doc_id = ns.doc_id
         |ORDER BY doc_id""".stripMargin
    },

    "q133_incremental_fuzzy" -> {
      // q24/q65's signature+banding arithmetic (dBandedCtes' formulas) over
      // the accepted corpus AND the wave; index hits + within-batch
      // reachability clusters; a cluster containing any hit drops entirely
      def bands(src: String) =
        s"""${src}hs AS (SELECT doc_id, ${dShingleHashes("text")} AS hashes FROM $src),
           |${src}sg AS (SELECT doc_id, list_transform(range(0, 16),
           |  i -> list_min(list_transform(hashes, h -> ((2*i+3)*h + (7*i+1)) % $Mod))) AS sig FROM ${src}hs),
           |${src}bd AS (SELECT doc_id, sig, b.band AS band,
           |  array_to_string(sig[b.band*4+1 : b.band*4+4], '-') AS bkey
           |  FROM ${src}sg CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin
      def est(a: String, b: String) =
        s"list_sum(list_transform(range(1, 17), i -> CASE WHEN $a.sig[i] = $b.sig[i] THEN 1 ELSE 0 END)) / 16.0"
      s"""WITH RECURSIVE old AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         |wave AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
         |  UNION ALL SELECT doc_id + 1000000, text || ' extra recrawl footer'
         |  FROM documents WHERE doc_id % 9 = 0
         |  UNION ALL SELECT doc_id + 2000000, text || ' variant'
         |  FROM documents WHERE doc_id % 15 = 1),
         |${bands("old")},
         |${bands("wave")},
         |hits AS (SELECT DISTINCT n.doc_id FROM wavebd n
         |  JOIN oldbd o ON n.band = o.band AND n.bkey = o.bkey
         |  WHERE ${est("n", "o")} >= 0.8),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM wavebd a JOIN wavebd b ON a.band = b.band AND a.bkey = b.bkey
         |    AND a.doc_id < b.doc_id
         |  WHERE ${est("a", "b")} >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM wave
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst),
         |comp AS (SELECT id, min(m) AS component FROM reach GROUP BY id),
         |tainted AS (SELECT DISTINCT c.component FROM comp c JOIN hits h ON c.id = h.doc_id)
         |SELECT id AS doc_id FROM comp
         |WHERE id = component AND component NOT IN (SELECT component FROM tainted)
         |ORDER BY doc_id""".stripMargin
    },

    "q134_corpus_drift" ->
      // same spam-footer snapshot; add-0.5-smoothed p/q over the union
      // vocab per lang, KL both ways + Jensen-Shannon, term-for-term with
      // tokenDivergence (word tokens mirror q73's regexp_extract_all)
      """WITH o AS (SELECT lang, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS w
        |  FROM documents),
        |n AS (SELECT lang, unnest(regexp_extract_all(
        |    CASE WHEN doc_id % 4 = 1 THEN text || ' buy cheap pills now click here' ELSE text END,
        |    '[A-Za-z0-9]+')) AS w
        |  FROM documents),
        |oc AS (SELECT lang, w, count(*) AS co FROM o GROUP BY lang, w),
        |nc AS (SELECT lang, w, count(*) AS cn FROM n GROUP BY lang, w),
        |j AS (SELECT coalesce(oc.lang, nc.lang) AS lang, coalesce(oc.w, nc.w) AS w,
        |  coalesce(co, 0) AS co, coalesce(cn, 0) AS cn
        |  FROM oc FULL OUTER JOIN nc ON oc.lang = nc.lang AND oc.w = nc.w),
        |t AS (SELECT lang, sum(co) AS no, sum(cn) AS nn, count(*) AS v
        |  FROM j GROUP BY lang),
        |e AS (SELECT j.lang, co, cn,
        |  (co + 0.5) / (no + 0.5 * v) AS p, (cn + 0.5) / (nn + 0.5 * v) AS q
        |  FROM j JOIN t ON j.lang = t.lang)
        |SELECT lang,
        |  CAST(sum(CASE WHEN co > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_old,
        |  CAST(sum(CASE WHEN cn > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_new,
        |  count(*) AS n_types_union,
        |  round(sum(p * ln(p / q)), 6) AS kl_old_new,
        |  round(sum(q * ln(q / p)), 6) AS kl_new_old,
        |  round(sum(p * ln(p / ((p + q) / 2.0)) / 2.0 + q * ln(q / ((p + q) / 2.0)) / 2.0), 6) AS js_div
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,

    "q135_bpe_pairs" ->
      // same word-frequency weighting; ties inside the top-50 cut break by
      // pair ascending in both engines
      """WITH t AS (SELECT unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS w FROM documents),
        |wf AS (SELECT w, count(*) AS f FROM t GROUP BY w),
        |p AS (SELECT f, unnest(CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(w)), i -> substr(w, i, 2)) END) AS pair FROM wf)
        |SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin,

    "q166_main_content" ->
      // block split + per-block (text, link-chars, words, stopwords) +
      // integer-rule classification, term-for-term with
      // TextAnalysis.extractMainContent; regexes are RE2-safe (classes +
      // alternation + non-greedy only) and replaces carry the 'g' flag
      // DuckDB needs for Spark's replace-all semantics
      """WITH pages AS (
        |  SELECT doc_id,
        |    '<html><body><nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact us</a></nav>'
        |    || '<h1>Post ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>'
        |    || CASE WHEN doc_id % 2 = 0 THEN '<div class="share"><a href="/s">Share</a> <a href="/t">Tweet</a></div>' ELSE '' END
        |    || '<footer><a href="/privacy">Privacy policy</a> <a href="/terms">Terms</a> Copyright 2024 Example Corp</footer></body></html>'
        |    AS html
        |  FROM documents),
        |stats AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(
        |        regexp_split_to_array(html, '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|thead|tbody|tr|td|th|section|article|header|footer|nav|aside|blockquote|pre|form)\b[^>]*>'),
        |        b -> struct_pack(
        |          txt := trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
        |          lc := coalesce(list_sum(list_transform(
        |                  regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a>', 1),
        |                  a -> length(trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))))), 0),
        |          nw := len(list_filter(regexp_split_to_array(lower(trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))), '[^a-z]+'), w -> w <> '')),
        |          ns := len(list_filter(list_filter(regexp_split_to_array(lower(trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))), '[^a-z]+'), w -> w <> ''),
        |                    w -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this','are','from','have','not','but','they','his','her','you','we'], w)))
        |        )),
        |      s -> length(s['txt']) > 0) AS nb
        |  FROM pages),
        |splitk AS (
        |  SELECT doc_id, nb,
        |    list_filter(nb, s -> length(s['txt']) >= 25 AND s['lc'] * 3 <= length(s['txt'])
        |                     AND s['nw'] >= 1 AND s['ns'] * 1000 >= s['nw'] * 50) AS kb
        |  FROM stats)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      coalesce(array_to_string(list_transform(kb, s -> s['txt']), ' '), ''),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS main_text,
        |  len(nb)::BIGINT AS n_blocks,
        |  len(kb)::BIGINT AS n_content_blocks,
        |  coalesce(list_sum(list_transform(kb, s -> length(s['txt']))), 0)::BIGINT AS chars_kept,
        |  (coalesce(list_sum(list_transform(nb, s -> length(s['txt']))), 0)
        |   - coalesce(list_sum(list_transform(kb, s -> length(s['txt']))), 0))::BIGINT AS chars_dropped
        |FROM splitk ORDER BY doc_id""".stripMargin,

    "q167_trained_langid" ->
      // same fit-on-even-slice trigram profiles, add-0.5 smoothing over
      // the shared fit vocabulary, per-language unseen floor, 6-dp score
      // rounding BEFORE the (score desc, lang asc) argmax — term-for-term
      // with TextAnalysis.trigramLangId
      """WITH seeded AS (SELECT doc_id, lang, text ||
        |  CASE WHEN doc_id % 7 = 3 THEN ''
        |       WHEN lang = 'de' THEN ' und der nicht das ist ein'
        |       WHEN lang = 'fr' THEN ' et le ne pas est une'
        |       WHEN lang = 'es' THEN ' y el no es que una'
        |       WHEN lang = 'zh' THEN ' \u7684 \u662f \u4e0d \u4e86 \u5728'
        |       ELSE ' the and was of is not' END AS text FROM documents),
        |d AS (SELECT doc_id, lang, lower(text) AS t, doc_id % 2 = 0 AS fit FROM seeded),
        |tri AS (SELECT doc_id, lang, fit, unnest(CASE WHEN length(t) < 3 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, length(t) - 1), i -> substr(t, i, 3)) END) AS g FROM d),
        |c AS (SELECT lang AS plang, g, count(*) AS c FROM tri WHERE fit GROUP BY 1, 2),
        |tot AS (SELECT plang, CAST(sum(c) AS DOUBLE) AS tot FROM c GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT g) AS DOUBLE) AS v FROM c),
        |prof AS (SELECT g, plang, ln((c + 0.5) / (tot + 0.5 * v)) AS lp
        |  FROM c JOIN tot USING (plang) CROSS JOIN v),
        |fl AS (SELECT plang, ln(0.5 / (tot + 0.5 * v)) AS fl FROM tot CROSS JOIN v),
        |dt AS (SELECT doc_id, lang, count(*) AS n FROM tri GROUP BY 1, 2),
        |seen AS (SELECT t.doc_id, p.plang, count(*) AS ns, sum(p.lp) AS lps
        |  FROM tri t JOIN prof p ON t.g = p.g GROUP BY 1, 2),
        |grid AS (SELECT dt.doc_id, dt.lang, fl.plang,
        |  round(coalesce(s.lps, 0) + (dt.n - coalesce(s.ns, 0)) * fl.fl, 6) AS score
        |  FROM dt CROSS JOIN fl
        |  LEFT JOIN seen s ON s.doc_id = dt.doc_id AND s.plang = fl.plang),
        |pred AS (SELECT doc_id, lang, plang AS predicted,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn FROM grid),
        |g2 AS (SELECT lang, predicted, count(*) AS n_docs FROM pred
        |  WHERE rn = 1 AND doc_id % 2 = 1 GROUP BY 1, 2)
        |SELECT lang, predicted, n_docs,
        |  round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang), 6) AS row_frac
        |FROM g2 ORDER BY lang, predicted""".stripMargin,

    "q168_bitext_mine" ->
      // full cross join on the bounded sides, both directions' rank
      // windows, top-4 neighborhood means over the ROUNDED cosines (the
      // frame the Spark margin stage consumes), ratio margin rounded to
      // 6 dp before the tau gate — term-for-term with marginFromRankings
      """WITH s AS (SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 400),
        |t AS (SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 2 = 1),
        |sc AS (SELECT src_id, tgt_id,
        |  list_dot_product(s.v, t.v) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(t.v, t.v))) AS cos
        |  FROM s CROSS JOIN t),
        |f AS (SELECT src_id, tgt_id, round(cos, 6) AS cosine,
        |  row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rf FROM sc),
        |b AS (SELECT src_id, tgt_id, round(cos, 6) AS cosine,
        |  row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rb FROM sc),
        |af AS (SELECT src_id, avg(cosine) AS a_src FROM f WHERE rf <= 4 GROUP BY 1),
        |ab AS (SELECT tgt_id, avg(cosine) AS a_tgt FROM b WHERE rb <= 4 GROUP BY 1),
        |m AS (SELECT f.src_id, f.tgt_id, f.cosine,
        |  round(f.cosine / ((a_src + a_tgt) / 2), 6) AS margin
        |  FROM f JOIN af USING (src_id) JOIN ab USING (tgt_id)
        |  WHERE rf <= 4 AND (a_src + a_tgt) > 0)
        |SELECT src_id, tgt_id, cosine, margin FROM m WHERE margin >= 1.02
        |ORDER BY src_id, tgt_id""".stripMargin,

    "q169_host_quota" ->
      // q123's URL synthesis + q125's host extraction; rank window by
      // (length desc, id asc) capped at 25 per host
      """WITH u AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS score,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END) ||
        |  source || '.example.com/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
        |  FROM documents),
        |h AS (SELECT doc_id, score, regexp_replace(lower(regexp_extract(
        |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |    '^([^/?#]*)', 1)), '^www\.', '') AS host FROM u),
        |r AS (SELECT host, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |  FROM h)
        |SELECT host, rank, doc_id, score FROM r WHERE rank <= 25
        |ORDER BY host, rank""".stripMargin,

    "q170_lang_quantile_gate" ->
      // exact percentile: Spark `percentile` and DuckDB `quantile_cont`
      // are both linear-interpolation, bit-identical (q61's contract);
      // keep compares against the ROUNDED threshold
      """WITH f AS (SELECT lang, round(quantile_cont(n_chars, 0.25), 6) AS threshold
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, lang, n_chars, threshold, n_chars >= threshold AS keep
        |FROM documents JOIN f USING (lang)
        |ORDER BY doc_id""".stripMargin,

    "q171_ivf_ndcg" ->
      // q164's truth + IVF CTE chain verbatim; hits weighted by the
      // approx arm's position, ideal = all 3 truth hits at the head
      s"""WITH ${dBruteRank("b", "CAST(embedding AS DOUBLE[])", "vec_id >= 10 AND vec_id < 20")},
         |cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
         |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |asg AS (SELECT vec_id, v, cell_id FROM (
         |  SELECT corp.vec_id, corp.v, cent.cell_id,
         |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
         |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
         |    cent.cell_id) AS rr
         |  FROM corp CROSS JOIN cent) WHERE rr = 1),
         |iprobes AS (SELECT vec_id AS probe_id, v AS pv, cell_id FROM asg WHERE vec_id >= 10 AND vec_id < 20),
         |isc AS (SELECT p.probe_id, c.vec_id AS neighbor_id,
         |  list_dot_product(p.pv, c.v) / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
         |  FROM iprobes p JOIN asg c ON p.cell_id = c.cell_id AND c.vec_id != p.probe_id),
         |ir AS (SELECT probe_id, neighbor_id,
         |  row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM isc),
         |tt AS (SELECT probe_id, neighbor_id FROM br WHERE rank <= 3),
         |aa AS (SELECT probe_id, neighbor_id, rank FROM ir WHERE rank <= 3),
         |h AS (SELECT aa.probe_id, sum(1.0 / (ln(aa.rank + 1.0) / ln(2.0))) AS dcg
         |  FROM aa JOIN tt USING (probe_id, neighbor_id) GROUP BY 1),
         |i AS (SELECT 1.0 / (ln(2.0) / ln(2.0)) + 1.0 / (ln(3.0) / ln(2.0)) + 1.0 / (ln(4.0) / ln(2.0)) AS idcg)
         |SELECT p.probe_id, round(coalesce(dcg, 0), 6) AS dcg,
         |  round(coalesce(dcg, 0) / idcg, 6) AS ndcg
         |FROM (SELECT DISTINCT probe_id FROM tt) p
         |LEFT JOIN h ON p.probe_id = h.probe_id CROSS JOIN i
         |ORDER BY p.probe_id""".stripMargin,

    "q172_bm25" ->
      // same tf/df/dl/avgdl fits, Lucene idf, identical fold order in the
      // per-term score; rank on the 6-dp ROUNDED sum (ties by doc id) —
      // the operator's documented determinism contract
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[A-Za-z0-9]+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |q AS (SELECT doc_id AS query_id,
        |  array_to_string(list_slice(string_split(text, ' '), 1, 4), ' ') AS qtext
        |  FROM documents WHERE doc_id < 10),
        |qt AS (SELECT query_id,
        |  unnest(list_distinct(regexp_extract_all(lower(qtext), '[A-Za-z0-9]+'))) AS term FROM q),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |m AS (SELECT qt.query_id, tf.doc_id, tf.tf, dfq.df, dl.dl
        |  FROM qt JOIN tf USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id)),
        |s AS (SELECT query_id, doc_id,
        |  round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0) /
        |    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
        |  FROM m CROSS JOIN nn CROSS JOIN ad GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |  FROM s)
        |SELECT query_id, rank, doc_id, score FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q174_weighted_sample" ->
      // A-ES key ln(u)/w off the same universal-mix hash (dbucket mirrors
      // Stats.hashBucket); rank desc, ties by doc_id
      s"""WITH kk AS (SELECT doc_id, lang, n_chars,
         |  ln((${dbucket("text", 1000000)} + 0.5) / 1000000.0) / n_chars AS es
         |  FROM documents WHERE n_chars > 0),
         |r AS (SELECT lang, doc_id, n_chars,
         |  CAST(row_number() OVER (PARTITION BY lang ORDER BY es DESC, doc_id) AS BIGINT) AS sample_rank
         |  FROM kk)
         |SELECT lang, sample_rank, doc_id, n_chars FROM r WHERE sample_rank <= 20
         |ORDER BY lang, sample_rank""".stripMargin,

    "q175_vocab_growth" ->
      // per-doc token counts + types-born-per-doc (min doc per type),
      // cumulative window sums — value-identical to the distributed
      // prefix-sum (prefixSum's documented window equivalence)
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS w FROM documents),
        |pd AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY 1),
        |fs AS (SELECT w, min(doc_id) AS doc_id FROM tok GROUP BY 1),
        |born AS (SELECT doc_id, count(*) AS n_new_types FROM fs GROUP BY 1),
        |j AS (SELECT pd.doc_id, n_tokens, coalesce(n_new_types, 0) AS n_new_types
        |  FROM pd LEFT JOIN born USING (doc_id))
        |SELECT doc_id, n_tokens, n_new_types,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(sum(n_new_types) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
        |FROM j ORDER BY doc_id""".stripMargin,

    "q176_token_budget" ->
      // shares normalize over the sorted-key DOUBLE sum (same fold order
      // as the operator); epochs compare at the 6-dp rounded value
      """WITH w(stratum, wt) AS (VALUES
        |  ('de', 0.1::DOUBLE), ('en', 0.5::DOUBLE), ('es', 0.1::DOUBLE),
        |  ('fr', 0.1::DOUBLE), ('zh', 0.2::DOUBLE)),
        |ws AS (SELECT 0.1::DOUBLE + 0.5::DOUBLE + 0.1::DOUBLE + 0.1::DOUBLE + 0.2::DOUBLE AS s),
        |a AS (SELECT lang AS stratum, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY 1),
        |j AS (SELECT a.stratum, avail_tokens, wt / s AS share FROM a JOIN w USING (stratum) CROSS JOIN ws),
        |e AS (SELECT stratum, avail_tokens, share,
        |  round(share * 1000000 / avail_tokens, 6) AS epochs FROM j)
        |SELECT stratum, avail_tokens, round(share, 6) AS share,
        |  CAST(round(share * 1000000, 0) AS BIGINT) AS target_tokens,
        |  epochs, round(least(1.0, epochs), 6) AS keep_rate, epochs > 4.0 AS over_cap
        |FROM e ORDER BY stratum""".stripMargin,

    "q177_distinct_ngrams" ->
      // q42's bigram list per doc, one group aggregate of total vs
      // distinct grams
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'synthetic' ELSE 'human' END AS grp,
        |  CASE WHEN doc_id % 3 = 0 THEN 'as an ai model i think topic ' ||
        |    CAST(doc_id % 5 AS VARCHAR) || ' is interesting and worth discussing today'
        |  ELSE text END AS text FROM documents),
        |tk AS (SELECT grp, doc_id, string_split(text, ' ') AS t FROM d),
        |ng AS (SELECT grp, doc_id, unnest(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' ')) END) AS g FROM tk)
        |SELECT grp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  count(*) AS n_grams, CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
        |  round(count(DISTINCT g) * 1.0 / count(*), 6) AS distinct_ratio
        |FROM ng GROUP BY grp ORDER BY grp""".stripMargin,

    "q178_template_farms" ->
      // q123's URL synthesis + q125's host extraction + q127's
      // normalization, portable poly-31 fingerprint, one group aggregate
      s"""WITH u AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN 'Welcome to our site! Best deals on topic ' ||
         |    CAST(doc_id % 8 AS VARCHAR) || ' click here to learn more and subscribe'
         |  ELSE text END AS text,
         |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
         |  (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END) ||
         |  source || '.example.com/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
         |  (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
         |  (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END) ||
         |  (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
         |  FROM documents),
         |h AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'), ' +', ' ', 'g')) AS norm,
         |  regexp_replace(lower(regexp_extract(
         |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
         |    '^([^/?#]*)', 1)), '^www\\.', '') AS host FROM u),
         |f AS (SELECT ${dhash("norm")} AS fp, host, doc_id FROM h),
         |g AS (SELECT fp, count(*) AS n_docs, CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
         |  min(doc_id) AS first_doc FROM f GROUP BY fp)
         |SELECT fp, n_docs, n_hosts, first_doc FROM g WHERE n_hosts >= 3
         |ORDER BY fp""".stripMargin,

    "q179_padding_efficiency" ->
      // same (len, id)-ordered 0-based index; bucket = floor(idx*B/n)
      // via the identical double division (values << 2^53, so floor of
      // the double equals integer division exactly)
      """WITH l AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
        |i AS (SELECT doc_id, len, row_number() OVER (ORDER BY len, doc_id) - 1 AS idx FROM l),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l),
        |b(b) AS (VALUES (1), (2), (4), (8), (16), (32)),
        |g AS (SELECT b.b, CAST(floor(idx * b.b / (n * 1.0)) AS BIGINT) AS bucket, len
        |  FROM i CROSS JOIN nn CROSS JOIN b),
        |a AS (SELECT b, bucket, max(len) AS mx, sum(len) AS s, count(*) AS c
        |  FROM g GROUP BY 1, 2)
        |SELECT CAST(b AS BIGINT) AS n_buckets,
        |  CAST(sum(s) AS BIGINT) AS real_tokens,
        |  CAST(sum(c * mx) AS BIGINT) AS padded_tokens,
        |  round(1.0 - CAST(sum(s) AS DOUBLE) / CAST(sum(c * mx) AS DOUBLE), 6) AS waste_frac
        |FROM a GROUP BY b ORDER BY n_buckets""".stripMargin,

    "q180_fim_transform" ->
      // same hash-seeded selection and cut points (dbucket mirrors
      // Stats.hashBucket); the cut arithmetic stays inside the CASE so a
      // sub-3-token doc never divides by zero in either engine
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         |c AS (SELECT doc_id, text, tk, len(tk) AS n,
         |  (${dbucket("text", 100)}) < 50 AND len(tk) >= 3 AS sel,
         |  CASE WHEN len(tk) >= 3 THEN
         |    1 + (${dbucket("text || '#a'", 1000000)}) % (len(tk) - 1) END AS a,
         |  CASE WHEN len(tk) >= 3 THEN
         |    1 + (${dbucket("text || '#b'", 1000000)}) % (len(tk) - 1) END AS b
         |  FROM t),
         |p AS (SELECT doc_id, text, tk, n, sel,
         |  CAST(least(a, b) AS INTEGER) AS p1, CAST(greatest(a, b) AS INTEGER) AS p2 FROM c)
         |SELECT doc_id, sel AS fim_applied, CAST(n AS BIGINT) AS n_tokens,
         |  CASE WHEN sel THEN '<fim_prefix>' || coalesce(array_to_string(tk[1:p1], ' '), '') ||
         |    '<fim_suffix>' || coalesce(array_to_string(tk[p2+1:n], ' '), '') ||
         |    '<fim_middle>' || coalesce(array_to_string(tk[p1+1:p2], ' '), '')
         |  ELSE text END AS text_out
         |FROM p ORDER BY doc_id""".stripMargin,

    "q181_special_tokens" ->
      // same seeding; per-token counts by exact length arithmetic
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN '<|endoftext|> ' || text ||
        |    (CASE WHEN doc_id % 27 = 0 THEN ' <|endoftext|>' ELSE '' END)
        |  ELSE text END AS text FROM documents)
        |SELECT doc_id,
        |  CAST((length(text) - length(replace(text, '<|endoftext|>', ''))) / 13
        |     + (length(text) - length(replace(text, '<fim_prefix>', ''))) / 12
        |     + (length(text) - length(replace(text, '<|im_start|>', ''))) / 12
        |    AS BIGINT) AS n_special_hits,
        |  (length(text) - length(replace(text, '<|endoftext|>', ''))) / 13
        |     + (length(text) - length(replace(text, '<fim_prefix>', ''))) / 12
        |     + (length(text) - length(replace(text, '<|im_start|>', ''))) / 12 = 0 AS clean
        |FROM d ORDER BY doc_id""".stripMargin,

    "q182_pagerank" ->
      // the same graph synthesis; three unrolled power-iteration rounds
      // with per-round dangling redistribution, term-for-term with
      // Graph.pageRank ((1-d)/n + d*(in + dang/n), d = 0.85)
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |lk AS (SELECT doc_id FROM documents WHERE doc_id % 11 != 5),
        |e AS (SELECT doc_id AS src, (doc_id * 3 + 1) % n AS dst FROM lk, nn
        |  UNION SELECT doc_id, (doc_id * 7 + 3) % n FROM lk, nn),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
        |ids AS (SELECT doc_id AS id FROM documents),
        |r0 AS (SELECT id, 1.0 / n AS r FROM ids, nn),
        |d1 AS (SELECT coalesce(sum(r), 0) AS dang FROM r0 LEFT JOIN deg ON id = src WHERE src IS NULL),
        |c1 AS (SELECT e.dst AS id, sum(r0.r / deg.deg) AS cin
        |  FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r1 AS (SELECT ids.id, 0.15 / n + 0.85 * (coalesce(cin, 0) + dang / n) AS r
        |  FROM ids LEFT JOIN c1 USING (id) CROSS JOIN d1 CROSS JOIN nn),
        |d2 AS (SELECT coalesce(sum(r), 0) AS dang FROM r1 LEFT JOIN deg ON id = src WHERE src IS NULL),
        |c2 AS (SELECT e.dst AS id, sum(r1.r / deg.deg) AS cin
        |  FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r2 AS (SELECT ids.id, 0.15 / n + 0.85 * (coalesce(cin, 0) + dang / n) AS r
        |  FROM ids LEFT JOIN c2 USING (id) CROSS JOIN d2 CROSS JOIN nn),
        |d3 AS (SELECT coalesce(sum(r), 0) AS dang FROM r2 LEFT JOIN deg ON id = src WHERE src IS NULL),
        |c3 AS (SELECT e.dst AS id, sum(r2.r / deg.deg) AS cin
        |  FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r3 AS (SELECT ids.id, 0.15 / n + 0.85 * (coalesce(cin, 0) + dang / n) AS r
        |  FROM ids LEFT JOIN c3 USING (id) CROSS JOIN d3 CROSS JOIN nn)
        |SELECT id, round(r, 6) AS rank FROM r3 ORDER BY id""".stripMargin,

    "q183_embedding_gram" ->
      // covar_pop over list elements pins the matrix_gram kernel's
      // sum/sum-of-products arithmetic (population convention both sides;
      // 1-based list indexing in DuckDB)
      (for (i <- 0 to 3; j <- i to 3) yield
        s"""SELECT $i AS i, $j AS j, count(embedding) AS n,
           |round(avg(CAST(embedding[${i + 1}] AS DOUBLE)), 6) AS mean_i,
           |round(covar_pop(CAST(embedding[${i + 1}] AS DOUBLE),
           |                CAST(embedding[${j + 1}] AS DOUBLE)), 6) AS cov_ij
           |FROM embeddings""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY i, j"),

    "q189_script_mix" ->
      // same seeds, same literal BMP-range classes, same length-diff
      // counting (RE2 handles literal-char ranges; 'g' = replace all,
      // Spark's regexp_replace default)
      """WITH seeded AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' привет мир из Сети'
        |       WHEN doc_id % 7 = 2 THEN ' 你好世界网络文本'
        |       WHEN doc_id % 7 = 4 THEN ' pаypаl sеcurity аlert'
        |       WHEN doc_id % 7 = 6 THEN ' αβγ δοκιμή κείμενο'
        |       ELSE '' END AS t FROM documents),
        |c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS BIGINT) AS latin_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS cyrillic_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[Ͱ-Ͽ]', '', 'g')) AS BIGINT) AS greek_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g')) AS BIGINT) AS cjk_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[؀-ۿ]', '', 'g')) AS BIGINT) AS arabic_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[가-힯]', '', 'g')) AS BIGINT) AS hangul_chars
        |  FROM seeded)
        |SELECT doc_id, n_chars, latin_chars, digit_chars, cyrillic_chars,
        |  greek_chars, cjk_chars, arabic_chars, hangul_chars,
        |  CAST((CASE WHEN latin_chars > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN cyrillic_chars > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN greek_chars > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN cjk_chars > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN arabic_chars > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN hangul_chars > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_scripts,
        |  latin_chars > 0 AND (cyrillic_chars > 0 OR greek_chars > 0) AS confusable_mix
        |FROM c ORDER BY doc_id""".stripMargin,

    "q190_k_anonymity" ->
      // same class key, same bucketed sensitive attribute, same bounds
      """SELECT c_nationkey, c_mktsegment,
        |  count(*) AS class_size,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l_distinct,
        |  count(*) >= 10 AS k_anonymous,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 3 AS l_diverse
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  )
}
