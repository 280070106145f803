package graft
package catalog

import SparkEntry._
import graft.meta.Tables
import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The paper's ETL surface over the TPC-H and events tables: aggregates,
  * cleaning and encoding, joins, windows, sketches, and the OSV5M and image
  * pipelines. */
private[graft] object EtlQueries {
  val entries: Seq[Q] = Seq(

    // A3-A8/G-agg: full-scan hash aggregate with decimal-exact sums (TPC-H Q1 shape).
    Q("q01_pricing_summary", (s, dir) => {
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
    }, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |round(avg(l_quantity), 6) AS avg_qty,
        |round(avg(l_extendedprice), 6) AS avg_price,
        |round(avg(l_discount), 6) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A1/A2 — per-column null-count audit over dirty input.
    Q("q02_null_audit", (s, dir) => {
      Audit.nullCountsLong(dirtyEvents(s, dir).select("v", "u"))
        .withColumnRenamed("column", "col_name")
        .orderBy("col_name")
    }, Oracle(
      """WITH d AS (SELECT CASE WHEN event_type IN ('click','view') THEN NULL ELSE value END AS v,
        |CASE WHEN user_id % 5 = 0 THEN NULL ELSE user_id END AS u FROM events)
        |SELECT 'v' AS col_name, CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null FROM d
        |UNION ALL
        |SELECT 'u' AS col_name, CAST(sum(CASE WHEN u IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null FROM d
        |ORDER BY col_name""".stripMargin)),

    // F3/F4 — epoch-ms roundtrip + date parts with 1970/1/1 null sentinels.
    Q("q03_date_parts", (s, dir) => {
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
    }, Oracle(
      """WITH base AS (SELECT o_orderkey,
        |CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE CAST(o_orderdate AS TIMESTAMP) END AS ts FROM orders)
        |SELECT o_orderkey, epoch_ms(ts) AS epoch_ms,
        |CAST(epoch_ms(epoch_ms(ts)) AS TIMESTAMP) AS ts_roundtrip,
        |CAST(coalesce(year(ts), 1970) AS INTEGER) AS year,
        |CAST(coalesce(month(ts), 1) AS INTEGER) AS month,
        |CAST(coalesce(day(ts), 1) AS INTEGER) AS day
        |FROM base ORDER BY o_orderkey""".stripMargin)),

    // F1/F2/F5/F6/F9/E5 — string cleaning: trim, sentinel replace, concat, regexp parse.
    Q("q04_string_clean", (s, dir) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        trim(col("c_name")).as("name_trim"),
        upper(col("c_mktsegment")).as("seg_upper"),
        coalesce(nullif(trim(col("c_mktsegment")), lit("BUILDING")), lit("Unknown"))
          .as("seg_clean"),
        concat_ws("/", col("c_mktsegment"), col("c_nationkey").cast("string")).as("path"),
        regexp_extract(col("c_name"), "[0-9]+", 0).as("name_digits"))
        .orderBy("c_custkey")
    }, Oracle(
      """SELECT c_custkey, trim(c_name) AS name_trim, upper(c_mktsegment) AS seg_upper,
        |coalesce(nullif(trim(c_mktsegment), 'BUILDING'), 'Unknown') AS seg_clean,
        |concat_ws('/', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS path,
        |coalesce(regexp_extract(c_name, '[0-9]+', 0), '') AS name_digits
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // E1 — global-fit label encoding (sorted distinct -> code, broadcast apply).
    Q("q05_label_encode", (s, dir) => {
      Encode.labelEncode(Tables.customer(s, dir), "c_mktsegment")
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_mktsegment_code").as("seg_code"))
        .orderBy("c_custkey")
    }, Oracle(
      """SELECT c_custkey, c_mktsegment,
        |CAST(dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS BIGINT) AS seg_code
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // E2/A3/J3 — global z-score: one collected agg, applied as literals.
    Q("q06_standard_scale", (s, dir) => {
      Encode.standardScale(Tables.customer(s, dir), Seq("c_acctbal"))
        .select(col("c_custkey"), round(col("c_acctbal_z"), 6).as("acctbal_z"))
        .orderBy("c_custkey")
    }, Oracle(
      """SELECT c_custkey,
        |round((c_acctbal - avg(c_acctbal) OVER ()) / stddev_pop(c_acctbal) OVER (), 6) AS acctbal_z
        |FROM customer ORDER BY c_custkey""".stripMargin)),

    // E3/A4 — per-group min-max scaling.
    Q("q07_minmax_scale", (s, dir) => {
      Encode.minMaxScale(Tables.lineitem(s, dir), Seq("l_quantity"), Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity_mm"), 6).as("qty_mm"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Oracle(
      """SELECT l_orderkey, l_linenumber,
        |round((l_quantity - min(l_quantity) OVER (PARTITION BY l_returnflag)) /
        |(max(l_quantity) OVER (PARTITION BY l_returnflag) - min(l_quantity) OVER (PARTITION BY l_returnflag)), 6) AS qty_mm
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // E4 — ffill().bfill() with explicit order + partition keys.
    Q("q08_ffill_bfill", (s, dir) => {
      val base = dirtyEvents(s, dir).select("event_id", "user_id", "ts", "v")
      Clean.fillForwardBackward(base, Seq("v"), Seq("ts", "event_id"), Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("ts"), col("v").as("v_filled"))
        .orderBy("user_id", "ts", "event_id")
    }, Oracle(
      """WITH base AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |CASE WHEN event_type IN ('click','view') THEN NULL ELSE value END AS v FROM events),
        |f AS (SELECT event_id, user_id, ts, v,
        |last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
        |first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bf
        |FROM base)
        |SELECT event_id, user_id, ts, coalesce(ff, bf) AS v_filled
        |FROM f ORDER BY user_id, ts, event_id""".stripMargin)),

    // E5/E6 — constant fill, dtype-driven.
    Q("q09_null_fill", (s, dir) => {
      dirtyEvents(s, dir).select("event_id", "v", "u")
        .na.fill(0.0, Seq("v")).na.fill(-1L, Seq("u"))
        .select(col("event_id"), col("v").as("v_filled"), col("u").as("u_filled"))
        .orderBy("event_id")
    }, Oracle(
      """SELECT event_id,
        |coalesce(CASE WHEN event_type IN ('click','view') THEN NULL ELSE value END, 0.0) AS v_filled,
        |coalesce(CASE WHEN user_id % 5 = 0 THEN NULL ELSE user_id END, -1) AS u_filled
        |FROM events ORDER BY event_id""".stripMargin)),

    // J1/J2 — positional index + cyclic modulo join (broadcast small side).
    Q("q10_positional_join", (s, dir) => {
      Relational.moduloJoin(
        Tables.orders(s, dir), Seq("o_orderkey"),
        Tables.customer(s, dir), Seq("c_custkey"))
        .select("o_orderkey", "c_custkey")
        .orderBy("o_orderkey")
    }, Oracle(
      """WITH o AS (SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) - 1 AS idx FROM orders),
        |c AS (SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS idx FROM customer),
        |n AS (SELECT count(*) AS cnt FROM customer)
        |SELECT o.o_orderkey, c.c_custkey
        |FROM o CROSS JOIN n JOIN c ON (o.idx % n.cnt) = c.idx
        |ORDER BY o.o_orderkey""".stripMargin)),

    // J3 + hash joins — 3-way join with broadcast dim, filtered aggregate.
    Q("q11_join_agg", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0).as("revenue"))
        .orderBy("o_orderpriority")
    }, Oracle(
      """SELECT o_orderpriority, count(*) AS n_lines,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Bucketed-layout round trip: write both fact tables hash-bucketed AND
    // bucket-sorted on the join key (the write-once co-location investment),
    // read back through the catalog, join WITHOUT an Exchange or a Sort on
    // either side (IngestStreamingSpec proves the plan), aggregate. The
    // oracle is the plain join — the layout must be invisible to results.
    // The 5-row aggregate is materialized inside the builder so the two
    // catalog tables and the tmp files can be dropped in the finally —
    // repeated driver runs must not accrete metastore/warehouse garbage.
    Q("q81_bucketed_join", (s, dir) => {
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
    }, Oracle(
      // The bucketed layout must be invisible to results: plain join oracle.
      """SELECT o_orderpriority, count(*) AS n_lines,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // semi/anti joins.
    Q("q12_semi_anti", (s, dir) => {
      val o = Tables.orders(s, dir)
      val big = Tables.lineitem(s, dir).where(col("l_quantity") >= 45)
      val semi = o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), lit("has_bigline").as("tag"))
      val anti = o.join(big, o("o_orderkey") === big("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), lit("no_bigline").as("tag"))
      semi.unionByName(anti).orderBy("o_orderkey")
    }, Oracle(
      """SELECT o_orderkey, 'has_bigline' AS tag FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |UNION ALL
        |SELECT o_orderkey, 'no_bigline' AS tag FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |ORDER BY o_orderkey""".stripMargin)),

    // U-set — intersect / except, tagged.
    Q("q13_setops", (s, dir) => {
      val cn = Tables.customer(s, dir).select(col("c_nationkey").as("nk")).distinct()
      val sn = Tables.supplier(s, dir).select(col("s_nationkey").as("nk")).distinct()
      cn.intersect(sn).select(col("nk"), lit("both").as("tag"))
        .unionByName(cn.except(sn).select(col("nk"), lit("customer_only").as("tag")))
        .unionByName(sn.except(cn).select(col("nk"), lit("supplier_only").as("tag")))
        .orderBy("tag", "nk")
    }, Oracle(
      """WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |SELECT nk, 'both' AS tag FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
        |UNION ALL SELECT nk, 'customer_only' AS tag FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
        |UNION ALL SELECT nk, 'supplier_only' AS tag FROM (SELECT nk FROM sn EXCEPT SELECT nk FROM cn)
        |ORDER BY tag, nk""".stripMargin)),

    // U1 — union-all then aggregate.
    Q("q14_union", (s, dir) => {
      val o = Tables.orders(s, dir)
      val u = o.where(col("o_totalprice") > 100000).select("o_orderstatus")
        .unionByName(o.where(col("o_orderpriority") === "1-URGENT").select("o_orderstatus"))
      u.groupBy("o_orderstatus").agg(count(lit(1)).as("n")).orderBy("o_orderstatus")
    }, Oracle(
      """SELECT o_orderstatus, count(*) AS n FROM (
        |SELECT o_orderstatus FROM orders WHERE o_totalprice > 100000
        |UNION ALL
        |SELECT o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // G1 — fixed-count micro-batch ids + per-batch stats. The batching
    // order carries l_extendedprice as the final tiebreak because
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem:
    // without it the row index is only defined up to tie permutation and
    // the oracle agreed by the accident of identical file read order
    // (caught when SplitLayout changed the scan layout). Ties on all
    // three keys are price-equal, so any residual permutation cannot
    // change a batch's count or sum.
    Q("q15_microbatch", (s, dir) => {
      Batching.microBatchId(
        Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_extendedprice"),
        Seq("l_orderkey", "l_linenumber", "l_extendedprice"), 200)
        .groupBy("batch_id")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0).as("batch_price"))
        .orderBy("batch_id")
    }, Oracle(
      """WITH x AS (SELECT l_extendedprice,
        |row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_extendedprice) - 1 AS rn FROM lineitem)
        |SELECT CAST(floor(rn / 200.0) AS BIGINT) AS batch_id, count(*) AS n,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS batch_price
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)),

    // G3 — running byte-budget chunking.
    Q("q16_byte_chunks", (s, dir) => {
      Batching.byteBudgetChunkId(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"),
        Seq("l_orderkey", "l_linenumber"), 20000L,
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
        .groupBy("chunk_id").agg(count(lit(1)).as("n"))
        .orderBy("chunk_id")
    }, Oracle(
      """WITH x AS (SELECT
        |coalesce(length(CAST(l_orderkey AS VARCHAR)), 4) + coalesce(length(CAST(l_linenumber AS VARCHAR)), 4) +
        |coalesce(length(l_returnflag), 4) + coalesce(length(l_linestatus), 4) + 1 AS row_bytes,
        |l_orderkey, l_linenumber FROM lineitem),
        |c AS (SELECT greatest(CAST(floor((sum(row_bytes) OVER (ORDER BY l_orderkey, l_linenumber
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) / 20000.0) AS BIGINT), 0) AS chunk_id FROM x)
        |SELECT chunk_id, count(*) AS n FROM c GROUP BY chunk_id ORDER BY chunk_id""".stripMargin)),

    // O3 — top-k with deterministic tie-break (TakeOrderedAndProject).
    Q("q17_topk", (s, dir) => {
      Relational.topK(Tables.orders(s, dir), 10,
        col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")
    }, Oracle(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // §2.11 — event-time tumbling window as batch group-by.
    Q("q18_window_hourly", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("value")).cast("decimal(28,0)")).cast("double") / 100.0).as("sum_value"))
        .orderBy("hour", "event_type")
    }, Oracle(
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |count(*) AS n, CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // JSON extraction (events.props) + aggregate.
    Q("q19_json_extract", (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"),
          round(avg("k"), 6).as("avg_k"))
        .orderBy("event_type")
    }, Oracle(
      """SELECT event_type, count(*) AS n,
        |min(k) AS min_k, max(k) AS max_k, round(avg(k), 6) AS avg_k
        |FROM (SELECT event_type, CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Sessionization — gap > 30 min starts a new session (batch analogue of
    // stateful streaming; SURVEY §2.11).
    Q("q20_sessionize", (s, dir) => {
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
    }, Oracle(
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |OR us - lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),

    // Flagship — geolocation error report (haversine km + Euclidean-degree
    // reference parity), native codegen'd distance kernel.
    Q("q32_geo_error", (s, dir) => {
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
    }, Oracle(
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
        |FROM km GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Distinct aggregates (north-star dedup cardinality).
    Q("q34_distinct_stats", (s, dir) => {
      Tables.customer(s, dir)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_nationkey")).as("n_nations"))
        .orderBy("c_mktsegment")
    }, Oracle(
      """SELECT c_mktsegment, count(*) AS n,
        |CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // P6 — skip-list predicate (partition-pruning shape).
    Q("q35_skiplist", (s, dir) => {
      Tables.lineitem(s, dir)
        .withColumn("part_bucket", col("l_suppkey") % 10)
        .where(!col("part_bucket").isin(3, 7))
        .groupBy("part_bucket").agg(count(lit(1)).as("n"))
        .orderBy("part_bucket")
    }, Oracle(
      """SELECT l_suppkey % 10 AS part_bucket, count(*) AS n FROM lineitem
        |WHERE l_suppkey % 10 NOT IN (3, 7)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Composed pipeline (SURVEY §7.2 shape): dirty ingest -> ffill/bfill ->
    // global z-score (literal-applied fit) -> event-time window aggregate.
    Q("q38_pipeline", (s, dir) => {
      val base = dirtyEvents(s, dir).select("event_id", "user_id", "ts", "v")
      val filled = Clean.fillForwardBackward(base, Seq("v"), Seq("ts", "event_id"), Seq("user_id"))
      val scaled = Encode.standardScale(filled, Seq("v"))
      scaled.groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"), round(avg("v_z"), 6).as("mean_z"))
        .orderBy("hour")
    }, Oracle(
      """WITH base AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |CASE WHEN event_type IN ('click','view') THEN NULL ELSE value END AS v FROM events),
        |f AS (SELECT event_id, user_id, ts, coalesce(
        |last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS v
        |FROM base),
        |z AS (SELECT ts, (v - avg(v) OVER ()) / stddev_pop(v) OVER () AS v_z FROM f)
        |SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |count(*) AS n, round(avg(v_z), 6) AS mean_z
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Pure-SQL surface: temp views + registered native functions
    // (haversine_km, rolling_hash) driven entirely through spark.sql.
    Q("q36_sql_surface", (s, dir) => {
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
    }, Oracle(
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
         |FROM km GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // As-of (point-in-time) join: each click picks the user's latest
    // prior-or-simultaneous purchase. Union+window plan — no range explosion.
    Q("q39_asof_join", (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("last_purchase_value"))
      Relational.asofJoin(clicks, purchases, Seq("user_id"), "ts",
        Seq("last_purchase_value"))
        .orderBy("event_id")
    }, Oracle(
      """WITH clicks AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |FROM events WHERE event_type = 'click'),
        |purch AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS last_purchase_value
        |FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ts, p.last_purchase_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin)),

    // Broadcast range join: quantity mapped into per-nation [lo, hi) bands.
    Q("q40_range_join", (s, dir) => {
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
    }, Oracle(
      """WITH r AS (SELECT n_name, CAST(n_nationkey AS DOUBLE) * 2.0 AS lo,
        |CAST(n_nationkey AS DOUBLE) * 2.0 + 2.0 AS hi FROM nation)
        |SELECT n_name, count(*) AS n,
        |CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
        |FROM lineitem JOIN r ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Rolling 5-row window per user: moving average via exact integer-cents
    // sums so sliding-window float drift can't split the engines.
    Q("q43_rolling", (s, dir) => {
      val w5 = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), cents(col("value")).as("c"))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(sum("c").over(w5).cast("double") / (count(lit(1)).over(w5) * 100.0), 6).as("mov_avg"),
          count(lit(1)).over(w5).as("cum_n5"))
        .orderBy("event_id")
    }, Oracle(
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |CAST(round(value * 100, 0) AS BIGINT) AS c FROM events)
        |SELECT event_id, user_id, ts,
        |round(CAST(sum(c) OVER w AS DOUBLE) / (count(*) OVER w * 100.0), 6) AS mov_avg,
        |CAST(count(*) OVER w AS BIGINT) AS cum_n5
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    // Exact linear-interpolation percentiles per group.
    Q("q44_percentiles", (s, dir) => {
      Stats.percentiles(Tables.lineitem(s, dir), Seq("l_returnflag"),
        "l_extendedprice", Seq(0.25, 0.5, 0.75))
        .select(col("l_returnflag"),
          round(col("pct").getItem(0), 6).as("p25"),
          round(col("pct").getItem(1), 6).as("p50"),
          round(col("pct").getItem(2), 6).as("p75"))
        .orderBy("l_returnflag")
    }, Oracle(
      """SELECT l_returnflag,
        |round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Top-k rows per group (rank window over a broadcast-joined dim).
    Q("q45_group_topk", (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      Relational.groupTopK(o.join(broadcast(c), o("o_custkey") === c("c_custkey")),
        Seq("c_mktsegment"), 3, col("o_totalprice").desc, col("o_orderkey").asc)
        .select("c_mktsegment", "rank", "o_orderkey", "o_totalprice")
        .orderBy("c_mktsegment", "rank")
    }, Oracle(
      """WITH j AS (SELECT c_mktsegment, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY c_mktsegment
        |ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, CAST(rank AS INTEGER) AS rank, o_orderkey, o_totalprice
        |FROM j WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin)),

    // Pivot: event-type counts per user cohort (fixed pivot values keep the
    // schema static — no second pass to discover columns).
    Q("q46_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, dir)
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", types).count()
        .select(col("cohort") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy("cohort")
    }, Oracle(
      """SELECT user_id % 10 AS cohort,
        |CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ROLLUP with grouping flags (subtotal lattice in one pass).
    Q("q47_rollup", (s, dir) => {
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
    }, Oracle(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |coalesce(l_linestatus, 'ALL') AS status,
        |CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
        |count(*) AS n,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin)),

    // Fixed-width histogram (integer bucketing, one combinable aggregate).
    Q("q48_histogram", (s, dir) => {
      Stats.histogram(Tables.orders(s, dir), col("o_totalprice"), 25000.0)
        .orderBy("bucket")
    }, Oracle(
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Correlation / covariance / stddev profile per group.
    Q("q49_corr_stats", (s, dir) => {
      Stats.corrStats(Tables.lineitem(s, dir), Seq("l_returnflag"),
        "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag")
    }, Oracle(
      """SELECT l_returnflag, count(*) AS n,
        |round(corr(l_quantity, l_extendedprice), 6) AS corr_xy,
        |round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_xy,
        |round(stddev_pop(l_quantity), 6) AS sd_x,
        |round(stddev_pop(l_extendedprice), 6) AS sd_y
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // CDC last-writer-wins upsert: a 10% update slice merged over the base
    // snapshot via union + rank window (no full-table join).
    Q("q54_upsert", (s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          lit(1L).as("version"))
      val updates = Tables.orders(s, dir)
        .where(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"), lit(2L).as("version"))
      Relational.upsert(base, updates, Seq("o_orderkey"), "version")
        .orderBy("o_orderkey")
    }, Oracle(
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
        |CAST(1 AS BIGINT) AS version, 0 AS src FROM orders),
        |upd AS (SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice,
        |CAST(2 AS BIGINT) AS version, 1 AS src FROM orders WHERE o_orderkey % 10 = 3),
        |u AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |ORDER BY version DESC, src DESC) AS rn FROM (SELECT * FROM base UNION ALL SELECT * FROM upd))
        |SELECT o_orderkey, o_orderstatus, o_totalprice, version
        |FROM u WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)),

    // Quartile bucketing per priority class (ntile window) + band stats.
    Q("q55_ntile", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("quartile", ntile(4).over(w))
        .groupBy("o_orderpriority", "quartile")
        .agg(count(lit(1)).as("n"),
          min("o_totalprice").as("min_price"), max("o_totalprice").as("max_price"))
        .orderBy("o_orderpriority", "quartile")
    }, Oracle(
      """WITH q AS (SELECT o_orderpriority, o_totalprice,
        |ntile(4) OVER (PARTITION BY o_orderpriority
        |ORDER BY o_totalprice, o_orderkey) AS quartile FROM orders)
        |SELECT o_orderpriority, CAST(quartile AS INTEGER) AS quartile, count(*) AS n,
        |min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Salted-join semantics proof: the skew-resistant salted join must be
    // row-identical to the plain equi-join the oracle runs.
    Q("q56_salted_join", (s, dir) => {
      val prio = Tables.orders(s, dir)
        .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Relational.saltedJoin(Tables.lineitem(s, dir), prio, "l_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0).as("revenue"))
        .orderBy("o_orderpriority")
    }, Oracle(
      """SELECT o_orderpriority, count(*) AS n_lines,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Fuzzy matching: edit distance between adjacent customer names — the
    // classic fuzzy-dedup primitive (codegen'd levenshtein, no UDF).
    Q("q57_levenshtein", (s, dir) => {
      val w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
      Tables.customer(s, dir)
        .withColumn("next_name", lead("c_name", 1).over(w))
        .where(col("next_name").isNotNull)
        .select(col("c_custkey"), col("c_mktsegment"),
          levenshtein(col("c_name"), col("next_name")).as("edit_dist"))
        .orderBy("c_custkey")
    }, Oracle(
      """WITH x AS (SELECT c_custkey, c_mktsegment, c_name,
        |lead(c_name) OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS next_name
        |FROM customer)
        |SELECT c_custkey, c_mktsegment,
        |CAST(levenshtein(c_name, next_name) AS INTEGER) AS edit_dist
        |FROM x WHERE next_name IS NOT NULL ORDER BY c_custkey""".stripMargin)),

    // One-pass per-column data profile (min/max/nulls/exact ndv) — the
    // corpus-QA report every ingest runs before training.
    Q("q58_profile", (s, dir) => {
      Audit.profile(Tables.orders(s, dir),
        Seq("o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus"))
        .orderBy("column")
    }, Oracle {
      def one(c: String) =
        s"""SELECT '$c' AS "column", CAST(min($c) AS VARCHAR) AS min_val,
           |CAST(max($c) AS VARCHAR) AS max_val,
           |CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM orders""".stripMargin
      Seq("o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    }),

    // Sketch-path profile: HLL++ ndv instead of exact — constant memory per
    // column at 100 TB. Sketch estimates are engine-specific, so this query
    // has no SQL oracle (driver records the weaker rows-only check).
    Q("q59_sketch_profile", (s, dir) => {
      Audit.profile(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"),
        exact = false)
        .orderBy("column")
    }, RowsOnly.Sketch),

    // Native bounded-buffer top-k aggregate (TopKByScore) — must be
    // row-identical to the q45 window form; the oracle proves it. At scale
    // this shuffles |groups| x k rows where the window shuffles everything.
    Q("q60_topk_agg", (s, dir) => {
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
    }, Oracle(
      """WITH j AS (SELECT c_mktsegment, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY c_mktsegment
        |ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, CAST(rank AS INTEGER) AS rank, o_orderkey, o_totalprice
        |FROM j WHERE rank <= 3 ORDER BY c_mktsegment, rank""".stripMargin)),

    // Winsorize: clamp prices into the per-flag [p05, p95] percentile band
    // (fit once, broadcast-apply — no window over the fact table).
    Q("q61_winsorize", (s, dir) => {
      Encode.winsorize(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_returnflag"), 0.05, 0.95)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice_w"), 6).as("price_w"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Oracle(
      """WITH f AS (SELECT l_returnflag,
        |quantile_cont(l_extendedprice, 0.05) AS lo,
        |quantile_cont(l_extendedprice, 0.95) AS hi
        |FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber,
        |round(least(greatest(l_extendedprice, lo), hi), 6) AS price_w
        |FROM lineitem JOIN f USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // §2.11 — SLIDING event-time windows (1h window, 15min slide) as batch
    // group-by: each event lands in 4 overlapping windows (same TimeWindow
    // expansion Structured Streaming uses).
    Q("q66_sliding_window", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").cast("timestamp_ntz").as("win_start"),
          col("event_type"), col("n"))
        .orderBy("win_start", "event_type")
    }, Oracle(
      """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |w AS (SELECT event_type,
        |make_timestamp((us // 900000000) * 900000000 - k.k * 900000000) AS win_start
        |FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k)
        |SELECT win_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // CUBE — the full grouping lattice (both one-dim subtotal planes that
    // ROLLUP omits), one Expand + aggregate pass.
    Q("q67_cube", (s, dir) => {
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("g_flag"), col("g_status"), col("n"))
        .orderBy("flag", "status", "g_flag", "g_status")
    }, Oracle(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |coalesce(l_linestatus, 'ALL') AS status,
        |CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
        |count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status, g_flag, g_status""".stripMargin)),

    // Robust (median/MAD) z-score — outlier-immune scaling, two broadcast
    // fits, fact table never shuffled.
    Q("q68_robust_scale", (s, dir) => {
      Encode.robustScale(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice_rz"), 6).as("robust_z"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Oracle(
      """WITH m AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        |FROM lineitem GROUP BY 1),
        |d AS (SELECT l.l_returnflag, l_orderkey, l_linenumber, l_extendedprice, med
        |FROM lineitem l JOIN m USING (l_returnflag)),
        |md AS (SELECT l_returnflag, quantile_cont(abs(l_extendedprice - med), 0.5) AS mad
        |FROM d GROUP BY 1)
        |SELECT l_orderkey, l_linenumber,
        |round((l_extendedprice - med) / (1.4826 * mad), 6) AS robust_z
        |FROM d JOIN md USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Null-safe equality join (<=>): null keys match the null group — the
    // semantics dirty-key enrichment needs (a plain equi-join drops them).
    Q("q69_nullsafe_join", (s, dir) => {
      val d = dirtyEvents(s, dir).select(col("event_id"), col("u"))
      val counts = d.groupBy("u").agg(count(lit(1)).as("n_per_user"))
        .withColumnRenamed("u", "cu")
      d.join(counts, d("u") <=> counts("cu"))
        .select(col("event_id"), col("n_per_user"))
        .orderBy("event_id")
    }, Oracle(
      """WITH d AS (SELECT event_id,
        |CASE WHEN user_id % 5 = 0 THEN NULL ELSE user_id END AS u FROM events),
        |c AS (SELECT u, count(*) AS n_per_user FROM d GROUP BY u)
        |SELECT d.event_id, c.n_per_user
        |FROM d JOIN c ON d.u IS NOT DISTINCT FROM c.u
        |ORDER BY d.event_id""".stripMargin)),

    // Sketch-path winsorize: the percentile band is fit with
    // percentile_approx (constant memory per group) — the fit that survives
    // a 100x group-size scale-up where the exact fit (q61) OOMs. Sketch
    // estimates are engine-specific, so no SQL oracle (rows-only check,
    // same contract as q59). Aggregated so the output is small and stable.
    Q("q70_winsorize_sketch", (s, dir) => {
      Encode.winsorize(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_returnflag"), 0.05, 0.95, exact = false)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(min("l_extendedprice_w"), 2).as("min_w"),
          round(max("l_extendedprice_w"), 2).as("max_w"))
        .orderBy("l_returnflag")
    }, RowsOnly.Sketch),

    // The reference's WHOLE process_batch trace end-to-end
    // (read_csv_s3_train.py:57-118): drop -> cast -> trim -> date parts w/
    // 1970 sentinels -> ffill/bfill -> Unknown-fill -> label encode (global
    // sorted-distinct fit) -> zero-fill numerics -> standard scale (global
    // fit, applied as literals). The flagship oracle row for SURVEY §3.1.
    //
    // The fill is CHUNK-SCOPED: the reference fills within each 100k-row
    // CSV chunk only (read_csv_s3_train.py:47,77-80 — `ffill().bfill()`
    // runs per `process_batch` call, never across chunk boundaries), so the
    // faithful window is PARTITION BY floor(key/100k), not a global window.
    // That also removes the single-partition sort: the fill shuffles once
    // on the derived chunk id and each chunk sorts independently — the
    // 100-TB shape. The chunk id is a pure narrow projection of the key
    // (computed while `id` is still numeric, before osv5mClean's cast).
    Q("q72_osv5m_clean", (s, dir) => {
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
    }, Oracle(
      // Mirrors osv5mFrame's synthesis (only the columns the output observes)
      // and the whole process_batch chain: trim, epoch->1970-sentinel date
      // parts, chunk-scoped id-ordered ffill/bfill (the reference fills per
      // 100k-row chunk, read_csv_s3_train.py:47,77-80 — both IGNORE NULLS
      // windows PARTITION BY floor(key/100000)), Unknown fill, sorted-distinct
      // label codes (dense_rank-1 == sklearn LabelEncoder), zero-fill, z-score
      // with population stddev. Fill order is VARCHAR `id` on both sides.
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
        |FROM e ORDER BY id""".stripMargin)),

    // Sketch-path robust scale: both fits (median, MAD) via
    // percentile_approx — the 100-TB path twin of q68. Rows-only check.
    Q("q71_robust_sketch", (s, dir) => {
      Encode.robustScale(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_returnflag"), exact = false)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(avg("l_extendedprice_rz"), 4).as("mean_rz"),
          round(max(abs(col("l_extendedprice_rz"))), 4).as("max_abs_rz"))
        .orderBy("l_returnflag")
    }, RowsOnly.Sketch),

    // The 100-TB shape of q72's fill: the same osv5m cleaning chain with
    // the ffill/bfill windows PARTITIONED by the trimmed country key —
    // one shuffle on the key, per-partition sorts, no single-partition
    // degeneration (q72 keeps the reference's chunk-scoped fill).
    // Output observes every fill-affected column plus the Unknown/zero
    // fills that run after it.
    Q("q78_osv5m_partfill", (s, dir) => {
      val cleaned = Clean.osv5mClean(osv5mFrame(s, dir), orderCol = "id",
        fillPartitionCols = Seq("country"))
      cleaned.select(
        col("id"), col("country"), col("year"),
        col("region"), col("sub-region").as("subregion"), col("city"),
        col("unique_country"), col("unique_city"), col("creator_username"),
        col("latitude").as("lat0"))
        .orderBy("id")
    }, Oracle(
      // q72's fill with PARTITION BY country in both IGNORE NULLS windows —
      // the distributed analogue of the reference's fill-within-chunk
      // (read_csv_s3_train.py:77-80). Same synthesis CTE as q72, trimmed to
      // the columns the output observes.
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
        |FROM f ORDER BY id""".stripMargin)),

    // Bloom-prefiltered semi join (build -> collect -> narrow probe -> exact
    // semi join). The oracle is a plain IN-subquery semi join: false
    // positives are absorbed by the exact join and false negatives cannot
    // occur, so hash-parity holds by construction.
    Q("q77_bloom_semijoin", (s, dir) => {
      val urgent = Tables.orders(s, dir).where(col("o_orderpriority") === "1-URGENT")
      Relational.bloomSemiJoin(Tables.lineitem(s, dir), urgent,
        "l_orderkey", "o_orderkey", numBits = 1 << 17)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("l_extendedprice")).cast("decimal(28,0)")).cast("double") / 100.0)
            .as("sum_price"))
        .orderBy("l_returnflag")
    }, Oracle(
      // The bloom prefilter is result-preserving (exact semi join absorbs
      // false positives), so the oracle is the plain IN-subquery semi join.
      """SELECT l_returnflag, count(*) AS n,
        |CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Ordered conversion funnel (view -> click -> purchase, 24h deadlines):
    // one row per entered user with stage timestamps + stages completed.
    // All stages are windows over ONE user-keyed exchange, no joins.
    Q("q85_funnel", (s, dir) => {
      Behavior.funnel(Tables.events(s, dir), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowSec = 86400)
        .orderBy("user_id")
    }, Oracle(
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
        |WHERE t_view IS NOT NULL ORDER BY user_id""".stripMargin)),

    // Cohort retention triangle: first-event week cohorts x day offsets,
    // distinct active users per cell.
    Q("q86_retention", (s, dir) => {
      Behavior.retention(Tables.events(s, dir), "user_id", "ts")
        .orderBy("cohort_week", "day_offset")
    }, Oracle(
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |f AS (SELECT user_id, min(ts) AS t0 FROM e GROUP BY 1)
        |SELECT CAST(date_trunc('week', t0) AS DATE) AS cohort_week,
        |  CAST(date_diff('day', CAST(t0 AS DATE), CAST(ts AS DATE)) AS INTEGER) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_active
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, day_offset""".stripMargin)),

    // Per-group closed-form linear regression (price ~ quantity per return
    // flag): the "fit a trend per key" one-pass primitive.
    Q("q97_group_linfit", (s, dir) => {
      Stats.groupLinearFit(Tables.lineitem(s, dir), Seq("l_returnflag"),
        "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag")
    }, Oracle(
      """SELECT l_returnflag, count(*) AS n,
        |round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        |round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Equi-depth quantile binning: 8 per-flag price bins, rolled up to
    // per-bin counts and exact bin edges — the feature bucketizer with a
    // fit-then-broadcast-apply plan (no fact-side shuffle before the
    // rollup).
    Q("q98_quantile_bin", (s, dir) => {
      Encode.quantileBin(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_returnflag"), 8)
        .groupBy(col("l_returnflag"), col("l_extendedprice_bin").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min("l_extendedprice"), 2).as("lo"),
          round(max("l_extendedprice"), 2).as("hi"))
        .orderBy("l_returnflag", "bin")
    }, Oracle(
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
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Poisson-bootstrap 95% CI for the per-flag price mean: 100
    // hash-seeded replicas, one embarrassingly parallel pass — error bars
    // at scale, reproducible across engines/runs/retries. Replica count
    // and alpha are pinned by BootReplicas/BootAlpha, which the oracle
    // interpolates from the same vals.
    Q("q104_bootstrap_ci", (s, dir) => {
      Stats.bootstrapMeanCI(Tables.lineitem(s, dir), Seq("l_returnflag"),
        "l_extendedprice",
        concat_ws("-", col("l_orderkey"), col("l_linenumber")),
        replicas = BootReplicas, alpha = BootAlpha)
        .orderBy("l_returnflag")
    }, Oracle {
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
    }),

    // k-anonymity / l-diversity audit (Stats.kAnonymity): equivalence
    // classes on the (nation, market-segment) quasi-identifiers with a
    // bucketed account balance as the sensitive attribute — classes
    // under k=10 members are linkage-re-identifiable, k-anonymous
    // classes with under l=3 distinct balances still leak via the
    // homogeneity attack. One class-keyed aggregate; fully
    // oracle-paired.
    Q("q190_k_anonymity", (s, dir) => {
      Stats.kAnonymity(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"), k = 10, l = 3)
        .orderBy("c_nationkey", "c_mktsegment")
    }, Oracle(
      // same class key, same bucketed sensitive attribute, same bounds
      """SELECT c_nationkey, c_mktsegment,
        |  count(*) AS class_size,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l_distinct,
        |  count(*) >= 10 AS k_anonymous,
        |  count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 3 AS l_diverse
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Z-order (Morton) clustering key over (user_id, event time) — the
    // lake-maintenance layout pass (Clustering.zOrderWrite) that makes
    // 2-D box predicates (one user cohort in one time window) prune
    // files on BOTH dimensions. The query surfaces the key math the
    // layout rests on: equi-width int64 buckets (exact DIV arithmetic,
    // no float boundary — the oracle recomputes it verbatim) bit-
    // interleaved into zkey, aggregated per coarse z-cell (top 8 bits).
    // Each cell's tight (user, time) envelope IS the pruning claim;
    // ClusteringSpec measures it end-to-end on written files.
    Q("q195_zorder", (s, dir) => {
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
    }, Oracle(
      // Same exact int64 arithmetic as Clustering.equiWidthBucket/zValue:
      // integer DIV bucketing (no float boundary) and an explicit 16-term
      // bit interleave.
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
        |FROM z GROUP BY zcell ORDER BY zcell""".stripMargin)),

    // LAION-style image size/aspect gate over all four sniffed container
    // formats: 64 deterministic synthetic images (q192's construction)
    // at id-derived dimensions, audited by the HEADER-ONLY dimension
    // sniff (Media.imageAudit — no pixel decode, the 100-TB shape for a
    // corpus-wide image filter). Every output column is a pure function
    // of the id and the generator arithmetic, so the whole verdict —
    // format canonicalization included — gets a FULL hash oracle that
    // never encodes an image; the sniffers' agreement with real encoder
    // output is pinned in MediaSpec.
    Q("q200_image_audit", (s, dir) => {
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
    }, Oracle(
      // The generator arithmetic IS the oracle (q192's discipline): the
      // sniffed dims equal the requested dims and the canonical format is
      // a function of k/16 — MediaSpec pins both against real encoder
      // bytes, so the SQL never touches an image.
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
        |FROM a ORDER BY img_id""".stripMargin)),

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
    Q("q214_rankz_gate", (s, dir) => {
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
    }, Oracle(
      // Exact-percentile rank buckets + Morton interleave, all integer-
      // exact: cut positions i*256 land on data points (no interpolation),
      // so quantile_cont returns the same integer-valued cuts Spark's
      // `percentile` fit collected, and bucket = count of cuts passed.
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
        |FROM z ORDER BY id""".stripMargin)),
  )
}
