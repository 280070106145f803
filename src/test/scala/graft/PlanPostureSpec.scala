package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan posture assertions for the scale claims the library makes
  * (SURVEY §4.4, §7.5): filters reach the parquet scan, column pruning
  * reaches the read schema, estimator applies broadcast instead of
  * shuffling the fact side, and aggregates combine map-side before the
  * exchange. These are the properties that decide whether a plan survives a
  * 100x scale-up; asserting them here means a refactor that silently turns
  * a broadcast into a sort-merge join, or un-pushes a filter, fails the
  * build instead of only showing up as a bench regression.
  */
class PlanPostureSpec extends SparkSuite {

  private def executedPlan(df: DataFrame): String = {
    // collect() drives THIS dataset's QueryExecution (a write or count
    // would plan a separate one), so AQE's adaptive plan is final when read
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filter and projection push down to the parquet scan (P6/q35 shape)") {
    val q = graft.meta.Tables.lineitem(spark, sf)
      .where(col("l_suppkey") > 50)
      .select("l_suppkey", "l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_suppkey), GreaterThan(l_suppkey,50)]"),
      s"filter not pushed to scan:\n$scan")
    // read schema prunes to the two referenced columns
    assert(scan.contains("ReadSchema: struct<l_suppkey:bigint,l_quantity:double>"),
      s"column pruning missed the scan:\n$scan")
  }

  test("standardScale's apply is a projection: no join, no exchange on the fact side") {
    val plan = executedPlan(graft.operators.Encode.standardScale(
      graft.meta.Tables.customer(spark, sf), Seq("c_acctbal")))
    assert(!plan.contains("Join"), s"a one-row fit is applied by a join:\n$plan")
    assert(!plan.contains("Exchange"), s"the fact side is exchanged for a one-row fit:\n$plan")
  }

  test("labelEncode mapping joins as broadcast hash join on the fact side") {
    val plan = executedPlan(graft.operators.Encode.labelEncode(
      graft.meta.Tables.customer(spark, sf), "c_mktsegment"))
    assert(plan.contains("BroadcastHashJoin"), s"mapping join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact side shuffled for a vocab join:\n$plan")
  }

  test("groupBy aggregates combine map-side before the exchange (A6/q01 shape)") {
    val q = graft.meta.Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(sum("l_quantity").as("s"), count(lit(1)).as("n"))
    val plan = executedPlan(q)
    // partial aggregate must appear upstream of the shuffle: Spark prints the
    // map-side half with partial_ function names
    assert(plan.contains("partial_sum"), s"no map-side partial aggregation:\n$plan")
  }

  test("hot keys: AQE splits the skewed join; saltedJoin spreads the key (q56 shape)") {
    // 95% of the big side shares one key — the shape saltedJoin exists for.
    // Thresholds are scaled down so a ~7 MB hot partition counts as skewed.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val big = spark.range(0, 200000).select(
        when(col("id") % 20 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        concat(lit("payload_payload_payload_payload_"), col("id")).as("payload"))
      val dim = spark.range(0, 200000, 20)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      // 1) the declarative plan self-heals: AQE's runtime re-plan detects
      // the hot partition and splits it across multiple reducer tasks
      val plain = big.join(dim, "k")
      val n = plain.collect().length // collect() finalizes THIS plan's AQE
      val plan = plain.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not engage its skew-split on the hot key:\n$plan")
      // 2) the explicit lever for when AQE can't see the skew: saltedJoin
      // shuffles on (key, _salt), spreading the hot key across `salts`
      // reducers by construction — the partitioning proves it
      val salted = graft.operators.Relational.saltedJoin(big, dim, "k", salts = 8)
      assert(salted.collect().length === n, "saltedJoin changed join semantics")
      val saltPlan = salted.queryExecution.executedPlan.toString
      assert(saltPlan.contains("hashpartitioning(k#") &&
        saltPlan.contains("_salt#"),
        s"salted shuffle key does not include the salt:\n$saltPlan")
    } finally prev.foreach { case (k, vOpt) =>
      vOpt match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  private def shuffleCount(plan: String): Int =
    // adaptive plans print Final + Initial sections — count the final only
    "Exchange hashpartitioning".r
      .findAllIn(plan.split("== Initial Plan ==").head).size

  test("q72 chain: no sort-merge or nested-loop join, one hash exchange for the fill") {
    val plan = executedPlan(SparkEntry.queries("q72_osv5m_clean")(spark, sf))
    assert(!plan.contains("SortMergeJoin"), s"the chain shuffles a join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"the chain cross-joins a fit:\n$plan")
    assert(shuffleCount(plan) === 1, s"the fill should shuffle once on the chunk id:\n$plan")
  }

  test("funnel plans ONE user exchange for all stage windows + the collapse agg (q85 shape)") {
    // The Behavior.scala claim: every stage is a Window over the SAME user
    // partitioning and the collapse groupBy reuses it, so a 3-stage funnel
    // shuffles exactly once no matter how many stages it has.
    val plan = executedPlan(graft.operators.Behavior.funnel(
      graft.meta.Tables.events(spark, sf), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), windowSec = 86400))
    assert(shuffleCount(plan) === 1,
      s"funnel should shuffle exactly once on the user key:\n$plan")
  }

  test("retention partial-aggregates the countDistinct on both exchanges (q86 shape)") {
    val plan = executedPlan(graft.operators.Behavior.retention(
      graft.meta.Tables.events(spark, sf), "user_id", "ts"))
    // one user-window exchange + one final (cohort, offset) exchange; the
    // distinct's dedup stage rides the user partitioning (subset clustering)
    assert(shuffleCount(plan) === 2,
      s"retention should shuffle twice (user window, final cell agg):\n$plan")
    assert(plan.contains("partial_count"),
      s"countDistinct lost its map-side partial aggregation:\n$plan")
  }

  test("repetitionStats and gopherQualityFlags are zero-shuffle projections (q83/q87 shape)") {
    // Both operators claim "one codegen'd projection over the corpus scan" —
    // the property that makes them free riders on a 100 TB pass.
    val docs = graft.meta.Tables.documents(spark, sf)
    val rep = executedPlan(graft.operators.TextAnalysis.repetitionStats(
      docs, "doc_id", "text"))
    assert(shuffleCount(rep) === 0, s"repetitionStats shuffled:\n$rep")
    val gopher = executedPlan(graft.operators.TextAnalysis.gopherQualityFlags(
      docs, "doc_id", "text"))
    assert(shuffleCount(gopher) === 0, s"gopherQualityFlags shuffled:\n$gopher")
  }

  test("canonicalizeUrl is a zero-shuffle projection; urlDedup windows on the hash (q123 shape)") {
    val docs = graft.meta.Tables.documents(spark, sf)
      .select(col("doc_id"),
        concat(lit("https://www.h"), col("doc_id") % 50,
          lit(".com/p?utm_source=x")).as("url"), col("text"))
    val canon = executedPlan(docs.select(
      graft.operators.TextAnalysis.canonicalizeUrl(col("url")).as("c")))
    assert(shuffleCount(canon) === 0, s"canonicalizeUrl shuffled:\n$canon")
    // the dedup's only exchange is the keep-first window keyed on the
    // canonical's int64 hash — never a second one for the join-back (none
    // exists: the window runs in place) and never a single-partition sort
    val dedup = executedPlan(graft.operators.Dedup.urlDedupKeepFirst(
      docs, "doc_id", "url"))
    assert(shuffleCount(dedup) === 1, s"urlDedup should shuffle once:\n$dedup")
    assert(!dedup.contains("SinglePartition"), s"global sort in urlDedup:\n$dedup")
  }

  test("corpusDiff reduces both sides to (id, hash) BEFORE its single join (q126 shape)") {
    val d = graft.meta.Tables.documents(spark, sf)
    val plan = executedPlan(graft.operators.Dedup.corpusDiff(
      d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
      "doc_id", "text"))
    // one exchange per join side, nothing else — and the shuffled columns
    // are the projected (id, fingerprint) pair, so `text` must not appear
    // in any Exchange's output schema
    assert(shuffleCount(plan) === 2, s"corpusDiff should shuffle once per side:\n$plan")
    val shuffledText = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).exists(_.contains("text"))
    assert(!shuffledText, s"document text crossed the wire in corpusDiff:\n$plan")
  }

  test("exact dedup plans one keyed shuffle, no global sort (q21 shape)") {
    val plan = executedPlan(graft.operators.Dedup.dedupKeepFirst(
      graft.meta.Tables.documents(spark, sf), Seq("text"), Seq("doc_id")))
    // keep-first semantics via keyed window: partitioned sort, never a
    // single-partition Window.orderBy
    assert(!plan.contains("SinglePartition"), s"global single-partition stage:\n$plan")
  }

  test("quantileBin and vocabCoverage apply fits by broadcast (q98/q95 shape)") {
    // both are fit-then-apply: the ONLY exchange is the fit aggregate's —
    // the fact side must take the fit as a broadcast, never a shuffle join
    val li = graft.meta.Tables.lineitem(spark, sf)
    val qb = executedPlan(graft.operators.Encode.quantileBin(
      li, "l_extendedprice", Seq("l_returnflag"), 8))
    assert(qb.contains("BroadcastExchange"), s"quantileBin fit not broadcast:\n$qb")
    assert(shuffleCount(qb) === 1, s"quantileBin should shuffle only the fit agg:\n$qb")
    val docs = graft.meta.Tables.documents(spark, sf)
    val vc = executedPlan(graft.operators.TextAnalysis.vocabCoverage(
      docs, "doc_id", "text", 20))
    assert(vc.contains("BroadcastExchange"), s"vocab not broadcast:\n$vc")
    val lf = executedPlan(graft.operators.Stats.groupLinearFit(
      li, Seq("l_returnflag"), "l_quantity", "l_extendedprice"))
    assert(shuffleCount(lf) === 1, s"groupLinearFit must be one keyed pass:\n$lf")
    assert(lf.contains("partial_regr"),
      s"regr aggregates lost map-side partials:\n$lf")
  }

  test("pqEncode is a zero-shuffle projection; pqTopK broadcasts the LUT side (q93 shape)") {
    // encode claims "one narrow pass, vectors never shuffled" — the property
    // that makes building a 100-TB code index a free rider on the scan
    val emb = graft.meta.Tables.embeddings(spark, sf)
    val books = graft.operators.Similarity.fitPqCodebooks(
      emb, m = 8, ksub = 16, iterations = 1)
    val enc = executedPlan(graft.operators.Similarity.pqEncode(emb, books))
    assert(shuffleCount(enc) === 0, s"pqEncode shuffled:\n$enc")
    val top = executedPlan(graft.operators.Similarity.pqTopK(
      graft.operators.Similarity.pqEncode(emb, books), books,
      emb.where(col("vec_id") < 4), 5))
    assert(top.contains("BroadcastNestedLoopJoin") || top.contains("BroadcastExchange"),
      s"pqTopK LUT side not broadcast:\n$top")
  }

  test("hammingTopK/rerankTopK shuffle only |probes|x k rows; ivfPqTopK equi-joins on cell_id") {
    // The ANN-tier shuffle contract: the bounded-buffer top-k aggregate
    // prunes map-side, so the ONLY exchange in each search is the
    // aggregate's own |probes| x k hand-off — the corpus side (sign words
    // / codes) never shuffles, at any corpus size.
    val emb = graft.meta.Tables.embeddings(spark, sf)
    val probes = emb.where(col("vec_id") < 4)
    val ham = executedPlan(graft.operators.Similarity.hammingTopK(emb, probes, 5))
    assert(shuffleCount(ham) === 1,
      s"hammingTopK's only exchange is the topk agg hand-off:\n$ham")
    assert(ham.contains("partial_topk_by_score"),
      s"top-k buffer lost its map-side partial pass:\n$ham")
    val rr = executedPlan(graft.operators.Similarity.rerankTopK(
      emb, probes, shortlist = 10, k = 5))
    assert(shuffleCount(rr) === 2,
      s"rerankTopK = two agg hand-offs, both stages broadcast-shaped:\n$rr")
    assert(rr.contains("partial_topk_by_score"),
      s"re-rank stage lost its map-side partial pass:\n$rr")
    assert(!rr.contains("SortMergeJoin"),
      s"rerankTopK candidate fetch must stay broadcast:\n$rr")
    // IVF-PQ: the scored join must be a broadcast HASH equi-join on
    // cell_id (pruning = join selectivity); a nested-loop here would scan
    // every code row against every LUT. Fits are detached first — the
    // fit-once/probe-many shape (q106) — so the probe plan is measured
    // alone, without the Lloyd fit's own aggregate exchange riding in.
    val cents = graft.operators.Relational.detach(
      graft.operators.Similarity.trainCentroids(emb, 4, 1))
    val books = graft.operators.Relational.detach(
      graft.operators.Similarity.fitIvfPqCodebooks(
        emb, cents, m = 8, ksub = 16, iterations = 1))
    val enc = graft.operators.Relational.detach(
      graft.operators.Similarity.ivfPqEncode(emb, cents, books))
    val ivf = executedPlan(graft.operators.Similarity.ivfPqTopK(
      enc, cents, books, probes, 5, nprobe = 2))
    assert(ivf.contains("BroadcastHashJoin") && !ivf.contains("BroadcastNestedLoopJoin"),
      s"ivfPqTopK scored join must be an equi-join on cell_id:\n$ivf")
    assert(shuffleCount(ivf) === 1,
      s"ivfPqTopK's only exchange is the topk agg hand-off:\n$ivf")
  }

  test("salted IVF-PQ: the salt fit scans ONLY cell_id from the encoded store") {
    // the distributed path's skew fit is one COLUMN-PRUNED pass: a 100-TB
    // encoded table is 8+m bytes per row, and the per-cell count must
    // read the 8-byte cell_id column alone — a fit that dragged codes
    // through its aggregate would double the scoring pass's IO. Persist
    // the index like production does and assert the pruning reached the
    // parquet read schema.
    val emb = graft.meta.Tables.embeddings(spark, sf)
    val cents = graft.operators.Relational.detach(
      graft.operators.Similarity.trainCentroids(emb, 4, 1))
    val books = graft.operators.Relational.detach(
      graft.operators.Similarity.fitIvfPqCodebooks(
        emb, cents, m = 8, ksub = 16, iterations = 1))
    val dir = tempDir("graft_saltfit")
    graft.operators.Similarity.ivfPqEncode(emb, cents, books)
      .write.mode("overwrite").parquet(dir)
    val enc = spark.read.parquet(dir)
      .select(col("vec_id").cast("long").as("neighbor_id"),
        col("cell_id").cast("long").as("cell_id"), col("codes"))
    // the fit runs as its own driver-bounded job (the salt rows collect
    // like centroids do), so its pruning is asserted on the fit frame
    val fitPlan = executedPlan(
      graft.operators.Similarity.cellSaltFactors(enc, 1L, 4))
    val fitScans = "ReadSchema: struct<[^>]*>".r.findAllIn(fitPlan).toList
    assert(fitScans.exists(_ == "ReadSchema: struct<cell_id:bigint>"),
      s"salt-fit scan is not pruned to cell_id alone — scans: $fitScans")
    // and the scored join's scan still reads exactly the index columns
    val plan = executedPlan(graft.operators.Similarity.ivfPqTopK(
      spark.read.parquet(dir), cents, books, emb.where(col("vec_id") < 8),
      3, nprobe = 2, broadcastProbes = false, codesPerSalt = 1, maxSalt = 4))
    assert(plan.contains("_salt"), "forced salting did not engage")
    val scans = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(scans.exists(s => s.contains("codes") && s.contains("cell_id")),
      s"scoring scan missing — scans: $scans")
    graft.operators.Relational.release(cents)
    graft.operators.Relational.release(books)
  }

  test("mixtureResampleToWeights shuffles only the stratum-count fit (q107 shape)") {
    // the corpus side is a scan + broadcast rate join + filter: the ONLY
    // hash exchange anywhere is the fit's own groupBy — the property that
    // makes reweighting a 100 TB corpus a free rider on one scan
    val docs = graft.meta.Tables.documents(spark, sf)
    val plan = executedPlan(graft.operators.Stats.mixtureResampleToWeights(
      docs, col("lang"), col("text"),
      Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.25)))
    assert(shuffleCount(plan) === 1,
      s"only the stratum-count fit may shuffle:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"rate join-back must broadcast, never shuffle the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled for a stratum-sized fit:\n$plan")
  }

  test("spanScrub ships int64 span hashes through the window; text only joins back by id (q105 shape)") {
    val docs = graft.meta.Tables.documents(spark, sf)
    val plan = executedPlan(graft.operators.Dedup.spanScrub(
      docs, "doc_id", "text", 3))
    // hash-keyed window + removed-lines rollup + id join-back: never more
    // than three exchanges, none of them single-partition, no cartesian
    assert(shuffleCount(plan) <= 3, s"spanScrub exchange count grew:\n$plan")
    assert(!plan.contains("SinglePartition"), s"global single-partition stage:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in spanScrub:\n$plan")
  }

  test("shardPlan: both hashes in one projection, ONE shard-keyed exchange (q142 shape)") {
    val plan = executedPlan(graft.operators.Batching.shardPlan(
      graft.meta.Tables.documents(spark, sf), "doc_id", "text", 8, 42L))
    assert(shuffleCount(plan) === 1,
      s"shardPlan must shuffle exactly once (the pos window):\n$plan")
    assert(!plan.contains("SinglePartition"), s"global single-partition stage:\n$plan")
  }

  test("writeJsonlShards: ONE scan of docs and ONE exchange, no join back to the plan") {
    // the write's own physical plan, captured from the command execution
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val out = tempDir("graft_shardplan")
    spark.listenerManager.register(listener)
    try {
      graft.operators.Batching.writeJsonlShards(
        graft.meta.Tables.documents(spark, sf), "doc_id", "text", 4, 42L, out)
      org.apache.spark.sql.GraftSqlBridge.awaitListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    val write = plans.toArray.map(_.toString).filter(_.contains("InsertIntoHadoopFsRelation"))
    assert(write.length === 1, s"expected one write plan, got ${plans.size} plans")
    val fin = write.head.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(fin).size === 1, s"the write must shuffle exactly once:\n$fin")
    assert("FileScan parquet".r.findAllIn(fin).size === 1, s"docs must be scanned once:\n$fin")
    assert(!fin.contains("Join") && !fin.contains("Window"), s"join back or window:\n$fin")
  }

  test("withRowIndex: ONE query execution through the sequence-id node, no RDD round trip") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        runs.add(f -> qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val df = spark.range(0, 2000, 1, 7)
      .select(((col("id") * 7) % 2000).as("k"), array_repeat(col("id").cast("float"), 8).as("vec"))
    spark.listenerManager.register(listener)
    try {
      graft.operators.Relational.withRowIndex(df, Seq("k"))
      org.apache.spark.sql.GraftSqlBridge.awaitListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    val execs = runs.toArray(Array.empty[(String, String)])
    assert(execs.length === 1, s"expected one query execution, got ${execs.map(_._1).mkString(", ")}")
    val plan = execs.head._2
    assert(plan.contains("AttachDistributedSequence"), s"no sequence-id node:\n$plan")
    assert(!plan.contains("Scan ExistingRDD"), s"an RDD round trip:\n$plan")
  }

  test("winnowedFingerprints: one fused per-doc kernel, ZERO exchanges (q144 shape)") {
    // The whole selection (gram hash, window min, tie rule, per-position
    // dedup) is one WinnowFingerprints kernel per document — the
    // (pos, h) dedup is doc-local by the winnowing tie rule, so even the
    // old distinct's exchange is gone.
    val plan = executedPlan(graft.operators.Dedup.winnowedFingerprints(
      graft.meta.Tables.documents(spark, sf), "doc_id", "text"))
    assert(shuffleCount(plan) === 0,
      s"winnowing fingerprints must not shuffle at all:\n$plan")
    assert(!plan.contains("Window"), s"no per-row window should appear:\n$plan")
  }

  test("knnLabelNoise: cell-keyed SELF-join — corpus never broadcast, no cartesian (q148 shape)") {
    val emb = graft.meta.Tables.embeddings(spark, sf)
    val plan = executedPlan(graft.operators.Similarity.knnLabelNoise(
      emb, emb.where(col("vec_id") < 8), 5))
    assert(!plan.contains("CartesianProduct"),
      s"cell join degenerated to all-pairs:\n$plan")
    // the candidate join is on cell_id: a sort-merge or shuffled-hash join
    // is the intended corpus-scale shape (broadcast only if AQE proves one
    // side tiny — but NEVER a broadcast nested loop over the corpus)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"corpus side must not ride a nested-loop broadcast:\n$plan")
  }

  test("semanticDedupBanded: corpus scanned once (detached), band joins stay equi, no cartesian (q219 shape)") {
    val emb = graft.meta.Tables.embeddings(spark, sf)
    val plan = executedPlan(graft.operators.Similarity.semanticDedupBanded(
      emb, threshold = 0.35, nPlanes = 6, bands = 2))
    // the bucketed frame detaches once: all five consumers (two sides per
    // band + the anti-join base) read the materialized blocks, so the
    // final plan must carry ZERO file scans of the corpus
    assert(!plan.contains("FileScan") && !plan.contains("BatchScan"),
      s"corpus re-scanned past the detach:\n$plan")
    // per-band candidate joins are bucket equi-joins — never all-pairs
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band join degenerated:\n$plan")
    // center=true adds one fit aggregate BEFORE plan build (fitMeanVector
    // runs eagerly; the mean rides as a literal) — the returned plan must
    // keep the exact same posture: no corpus re-scan, no join degeneration,
    // and no extra exchange smuggled in by the centering projection
    val centered = executedPlan(graft.operators.Similarity.semanticDedupBanded(
      emb, threshold = 0.35, nPlanes = 6, bands = 2, center = true))
    assert(!centered.contains("FileScan") && !centered.contains("BatchScan"),
      s"centered corpus re-scanned past the detach:\n$centered")
    assert(!centered.contains("CartesianProduct") &&
      !centered.contains("BroadcastNestedLoopJoin"),
      s"centered band join degenerated:\n$centered")
    assert(shuffleCount(centered) === shuffleCount(plan),
      s"centering added an exchange:\n$centered")
  }

  test("scrub + append on a LOADED index: broadcast anti join, narrow append, no degeneration (q226/q227 shape)") {
    // The production shape: the reference index is persisted and loaded
    // (fit-once/probe-many), so the serve plans read parquet — the fit's
    // own aggregates must not appear in any serve or append plan.
    val emb = graft.meta.Tables.embeddings(spark, sf)
    val corpus = emb.where(col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("graft-scrubplan").toFile
    try {
      graft.operators.Similarity.buildIvfPqIndex(corpus, dir.getPath,
        nCells = 4, m = 4, ksub = 8, iterations = 2)
      val idx = graft.operators.Similarity.loadIvfPqIndex(spark, dir.getPath)
      val wave = emb.where(col("vec_id") >= 400 && col("vec_id") < 448)
      val plan = executedPlan(graft.operators.Similarity.scrubAgainstIvfPqIndex(
        wave, idx, threshold = 0.9, nprobe = 2))
      // the dropped-id set is one long per hit — it must ride a broadcast
      // into the LEFT ANTI join, never shuffle the wave
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"survivor anti join lost its broadcast shape:\n$plan")
      // and nothing in the serve may degenerate to all-pairs
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"scrub serve degenerated:\n$plan")
      // APPEND: maxCellFrac = 1.0 skips the balance AGGREGATE (an
      // intentional count job) so the pinned plan is the pure append
      // path — assign + encode are narrow projections, the centroid
      // fetch is a broadcast, the union adds no exchange: appending N
      // waves costs N narrow passes, never a corpus shuffle
      val grown = graft.operators.Similarity.appendToIvfPqIndex(idx, wave,
        maxCellFrac = 1.0)
      val aPlan = executedPlan(grown.encoded)
      assert(shuffleCount(aPlan) === 0,
        s"append encode must be narrow (broadcast centroid fetch only):\n$aPlan")
      assert(aPlan.contains("BroadcastHashJoin"),
        s"centroid residual fetch lost its broadcast:\n$aPlan")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("chat family plans ONE conversation-keyed exchange each (q154/q155/q156 shape)") {
    // Every chat operator reduces to a single conversation-keyed aggregate
    // whose checks are array expressions over the collected turn list —
    // the contract PLANS.md documents; a refactor that sneaks in a second
    // shuffle (e.g. a per-turn window) fails here before it fails bench.
    import spark.implicits._
    val turns = Seq(
      (1L, 0L, "system", "be kind"), (1L, 1L, "user", "hi"),
      (1L, 2L, "assistant", "hello"), (2L, 0L, "system", "s"),
      (2L, 1L, "assistant", "wrong first"), (2L, 2L, "user", "x"))
      .toDF("conv_id", "turn_idx", "role", "content")
    for ((name, df) <- Seq(
      "validateTurns" -> graft.operators.Chat.validateTurns(
        turns, "conv_id", "turn_idx", "role", "content"),
      "flattenChat" -> graft.operators.Chat.flattenChat(
        turns, "conv_id", "turn_idx", "role", "content"),
      "assistantSpans" -> graft.operators.Chat.assistantSpans(
        turns, "conv_id", "turn_idx", "role", "content"))) {
      val plan = executedPlan(df)
      assert(shuffleCount(plan) === 1,
        s"$name must shuffle exactly once (conversation key):\n$plan")
      assert(!plan.contains("Window"), s"$name must not window per turn:\n$plan")
    }
  }

  test("streaming dedup ladder: text/media bytes never reach the stateful exchange") {
    // The streaming scrubs hash/band BEFORE the stateful shuffle — the
    // exchange carries fixed-width rows (bucket, id, sig|hash|vector|codes),
    // never the document text or media bytes, and the bucket only once.
    // Pinned on the ANALYZED plan of the unstarted streaming frame: the
    // TransformWithState input schema must not contain the raw payload
    // column.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    val fuzzy = graft.streaming.EventStreams.fuzzyDedupStream(docs, tau = 0.5)
    val items = MemoryStream[(Long, Long)].toDF().toDF("doc_id", "h")
    val ham = graft.streaming.EventStreams.hammingDedupStream(items)
    def vectors = MemoryStream[(Long, Seq[Double])].toDF().toDF("vec_id", "embedding")
    val v = Seq(1.0, 0.5, -0.25, 1.0)
    val books = graft.operators.Similarity.fitPqCodebooks(
      Seq((1L, v), (2L, v.map(-_))).toDF("vec_id", "embedding"),
      m = 2, ksub = 2, iterations = 1)
    val sem = graft.streaming.EventStreams.semanticDedupStream(vectors, 0.9)
    val semPq = graft.streaming.EventStreams.semanticDedupStream(vectors, 0.9,
      pqBooks = Some(books))
    val banded = graft.streaming.EventStreams.semanticDedupStreamBanded(vectors, 0.9,
      nPlanes = 4, bands = 2)
    for ((name, df, stringBudget) <- Seq(("fuzzyDedupStream", fuzzy, 1),
        ("hammingDedupStream", ham, 0), ("semanticDedupStream", sem, 0),
        ("semanticDedupStream(pqBooks)", semPq, 0),
        ("semanticDedupStreamBanded", banded, 0))) {
      val analyzed = df.queryExecution.analyzed
      val tws = analyzed.collect {
        case p if p.nodeName.contains("TransformWithState") => p
      }
      assert(tws.nonEmpty, s"$name: no TransformWithState node:\n$analyzed")
      val child = tws.head.children.head
      def cols = child.output.map(a => s"${a.name}:${a.dataType.simpleString}")
      // string budget through the stateful exchange: the fuzzy stream's
      // band-bucket KEY is a string (budget 1); the other keys are packed
      // longs (budget 0). Anything above budget means the raw document
      // text — or a duplicate of the key — is riding the shuffle (this pin
      // caught groupByKey's appended key column duplicating the in-tuple
      // bucket before mapValues stripped it).
      val stringy = child.output.filter(
        _.dataType == org.apache.spark.sql.types.StringType)
      assert(stringy.size <= stringBudget,
        s"$name shuffles ${stringy.size} string column(s) into state " +
          s"(budget $stringBudget): $cols")
      // exactly (id, payload) plus the appended key: a bucket carried on
      // the value side too would be a fourth column
      assert(child.output.size === 3,
        s"$name: stateful input must be (id, payload, appended key), got $cols")
    }
  }

  test("unigramEncodeStats: the only string through any shuffle is the word column (q197 shape)") {
    // The Viterbi DP runs on the DISTINCT-word table; the corpus side
    // shuffles (id, word) rows for the distinct/agg and fixed-width
    // (id, np, lp) rows after the join-back. If a refactor ever ships
    // document `text` through an exchange, the word-type cost model is
    // broken. AQE is off for this pin so exchanges sit as plain tree
    // nodes whose OUTPUT attributes we can inspect (the plan string only
    // shows partitioning keys).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    // restore the PRIOR value, not a hardcoded "true" — leaking a config
    // override if the suite default ever changes
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = graft.meta.Tables.documents(spark, sf)
      val df = graft.operators.TextAnalysis.unigramEncodeStats(
        docs, "doc_id", "text", Seq("a" -> -2.0, "th" -> -3.0, "e" -> -2.5))
      df.collect()
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected keyed exchanges in the encode plan")
      for (e <- exchanges) {
        val stringy = e.output.filter(_.dataType == StringType).map(_.name)
        assert(stringy.forall(_ == "_w"),
          s"non-word string column(s) $stringy crossed a shuffle: " +
            s"${e.output.map(a => s"${a.name}:${a.dataType.simpleString}")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("quality probe: ONE map-side-partial aggregate fit + zero-shuffle score (q130 shape)") {
    import spark.implicits._
    val feats = Seq((1L, 0.1, 0.2, -3.0, 1.0), (2L, 0.3, 0.1, -2.0, 0.0))
      .toDF("doc_id", "stop_frac", "dup_word_frac", "lm_logp", "label")
    val cols = Seq("stop_frac", "dup_word_frac", "lm_logp")
    // the fit reduces the whole labeled slice to one row of driver doubles
    // through ONE exchange with map-side partials
    val fitPlan = executedPlan(graft.operators.Quality.fitAggFrame(feats, cols, "label"))
    assert(shuffleCount(fitPlan) <= 1, s"fit must be one aggregate:\n$fitPlan")
    assert(fitPlan.contains("partial_avg") || fitPlan.contains("partial_covar"),
      s"fit aggregate must combine map-side:\n$fitPlan")
    // scoring with literal weights is a pure projection over the features
    val scorePlan = executedPlan(graft.operators.Quality.scoreQuality(
      feats, Array(0.5, 1.0, -2.0, 0.01), cols, 0.5))
    assert(shuffleCount(scorePlan) === 0, s"score must be zero-shuffle:\n$scorePlan")
  }
}
