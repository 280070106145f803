package graft

import graft.operators.{Relational, Stats, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-2 operators: as-of/range joins, group top-k, distribution stats,
  * TF-IDF / n-gram / PII text ops. */
class StatsRelational2Spec extends SparkSuite {
  import spark.implicits._

  test("asofJoin picks latest right row at or before left ts, per key") {
    val left = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 15L), (4L, "c", 9L))
      .toDF("id", "k", "t")
    val right = Seq(("a", 5L, 100.0), ("a", 10L, 110.0), ("a", 18L, 120.0),
      ("b", 16L, 200.0)).toDF("k", "t", "price")
    val out = Relational.asofJoin(left, right, Seq("k"), "t", Seq("price"))
      .orderBy("id").select("id", "price").as[(Long, Option[Double])].collect()
    assert(out === Array(
      (1L, Some(110.0)), // equal ts visible
      (2L, Some(120.0)), // latest of 3
      (3L, None),        // right row is later
      (4L, None)))       // no right rows for key
  }

  test("asofJoin matches a per-row scan on random data") {
    val left = (1 to 200).map(i => (i.toLong, s"k${i % 7}", (i * 37 % 100).toLong))
    val right = (1 to 50).map(i => (s"k${i % 7}", (i * 13 % 90).toLong, i * 1.0))
      .distinct.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val out = Relational.asofJoin(
      left.toDF("id", "k", "t"), right.toDF("k", "t", "v"),
      Seq("k"), "t", Seq("v"))
      .select("id", "v").as[(Long, Option[Double])].collect().toMap
    left.foreach { case (id, k, t) =>
      val expect = right.filter(r => r._1 == k && r._2 <= t)
        .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
      assert(out(id) === expect, s"id=$id k=$k t=$t")
    }
  }

  test("asofJoin rejects payload names that collide with left columns") {
    val left = Seq((1L, "a", 10L, 1.0)).toDF("id", "k", "t", "price")
    val right = Seq(("a", 5L, 100.0)).toDF("k", "t", "price")
    val e = intercept[IllegalArgumentException] {
      Relational.asofJoin(left, right, Seq("k"), "t", Seq("price"))
    }
    assert(e.getMessage.contains("collide"))
  }

  test("rangeJoin assigns each value to its [lo, hi) band and broadcasts") {
    val facts = Seq(0.5, 1.0, 4.9, 5.0, 9.9).toDF("v")
    val dims = Seq(("low", 0.0, 5.0), ("high", 5.0, 10.0)).toDF("band", "lo", "hi")
    val out = Relational.rangeJoin(facts, dims, col("v"), col("lo"), col("hi"))
    assert(out.where(col("band") === "low").count() === 3)
    assert(out.where(col("band") === "high").count() === 2)
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("groupTopK keeps k rows per group with deterministic ties") {
    val df = Seq(("g1", 5, 1), ("g1", 5, 2), ("g1", 3, 3), ("g2", 9, 4))
      .toDF("g", "score", "id")
    val out = Relational.groupTopK(df, Seq("g"), 2, col("score").desc, col("id").asc)
      .orderBy("g", "rank").select("g", "rank", "id").as[(String, Int, Int)].collect()
    assert(out === Array(("g1", 1, 1), ("g1", 2, 2), ("g2", 1, 4)))
  }

  test("upsert: updates win on key, unmatched rows pass through") {
    val base = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("k", "v", "version")
    val updates = Seq((2L, "B", 2L), (4L, "D", 2L)).toDF("k", "v", "version")
    val out = Relational.upsert(base, updates, Seq("k"), "version")
      .orderBy("k").select("k", "v").as[(Long, String)].collect()
    assert(out === Array((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
    // same version: updates side wins deterministically
    val tie = Relational.upsert(base, Seq((1L, "A", 1L)).toDF("k", "v", "version"),
      Seq("k"), "version").where(col("k") === 1).select("v").as[String].head()
    assert(tie === "A")
  }

  test("profile: one-pass min/max/nulls/ndv, exact and sketch modes agree here") {
    val df = Seq(("a", Some(1)), ("b", Some(2)), ("a", None)).toDF("s", "i")
    val out = graft.operators.Audit.profile(df, Seq("s", "i"))
      .orderBy("column").collect()
    assert(out.map(_.getString(0)) === Array("i", "s"))
    val i = out(0); val s = out(1)
    assert((i.getString(1), i.getString(2), i.getLong(3), i.getLong(4)) === ("1", "2", 1L, 2L))
    assert((s.getString(1), s.getString(2), s.getLong(3), s.getLong(4)) === ("a", "b", 0L, 2L))
    // sketch mode: same shape, ndv exact at tiny cardinality
    val approx = graft.operators.Audit.profile(df, Seq("s"), exact = false).head()
    assert(approx.getLong(4) === 2L)
  }

  test("topk_by_score aggregate equals the row_number window form") {
    import graft.functions.GraftFunctions.topk_by_score
    val rows = (1 to 500).map(i => (s"g${i % 5}", (i * 7919 % 97).toDouble, i.toLong))
    val df = rows.toDF("g", "score", "id").repartition(8)
    val got = df.groupBy("g")
      .agg(topk_by_score(col("score"), col("id"), 4).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).as("rank"), col("col.id").as("id"))
      .orderBy("g", "rank").as[(String, Int, Long)].collect()
    val expect = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.sortBy(r => (-r._2, r._3)).take(4).zipWithIndex
        .map { case (r, i) => (g, i + 1, r._3) }
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq === expect)
  }

  test("topk_by_score ranks NaN like the window form (NaN greatest)") {
    import graft.functions.GraftFunctions.topk_by_score
    val df = Seq((1.0, 1L), (Double.NaN, 2L), (5.0, 3L)).toDF("score", "id")
      .withColumn("g", lit("a"))
    val got = df.groupBy("g")
      .agg(topk_by_score(col("score"), col("id"), 2).as("top"))
      .select(posexplode(col("top"))).select(col("col.id"))
      .as[Long].collect()
    val win = df.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("g")
        .orderBy(col("score").desc, col("id").asc)))
      .where(col("rn") <= 2).orderBy("rn").select("id").as[Long].collect()
    assert(got.toSeq === win.toSeq) // NaN first in both forms
    assert(got.head === 2L)
  }

  test("TopKByScore buffer: bounded inserts, merge keeps global best") {
    import graft.functions.TopKByScore
    val a = new TopKByScore.Buffer(new Array[Double](3), new Array[Long](3), 0)
    Seq((1.0, 10L), (5.0, 2L), (3.0, 7L), (5.0, 1L), (0.5, 99L))
      .foreach { case (v, i) => a.insert(v, i) }
    assert(a.vs.take(a.size).toSeq === Seq(5.0, 5.0, 3.0))
    assert(a.ids.take(a.size).toSeq === Seq(1L, 2L, 7L)) // tie: smaller id first
    val b = new TopKByScore.Buffer(new Array[Double](3), new Array[Long](3), 0)
    Seq((9.0, 4L), (4.0, 6L)).foreach { case (v, i) => b.insert(v, i) }
    Seq.tabulate(b.size)(i => (b.vs(i), b.ids(i)))
      .foreach { case (v, i) => a.insert(v, i) }
    assert(Seq.tabulate(a.size)(i => (a.vs(i), a.ids(i))) ===
      Seq((9.0, 4L), (5.0, 1L), (5.0, 2L)))
  }

  test("percentiles: exact linear interpolation (percentile_cont semantics)") {
    val df = (1 to 5).map(_.toDouble).toDF("x").withColumn("g", lit("a"))
    val out = Stats.percentiles(df, Seq("g"), "x", Seq(0.25, 0.5, 0.75))
      .select(col("pct")).as[Seq[Double]].head()
    assert(out === Seq(2.0, 3.0, 4.0))
  }

  test("histogram buckets by floor(value/width), dense counts") {
    val df = Seq(0.0, 24.9, 25.0, 75.0).toDF("v")
    val out = Stats.histogram(df, col("v"), 25.0)
      .orderBy("bucket").as[(Long, Long)].collect()
    assert(out === Array((0L, 2L), (1L, 1L), (3L, 1L)))
  }

  test("corrStats: perfectly linear data has corr 1") {
    val df = (1 to 100).map(i => (i.toDouble, 2.0 * i + 3.0)).toDF("x", "y")
      .withColumn("g", lit("a"))
    val row = Stats.corrStats(df, Seq("g"), "x", "y").head()
    assert(row.getAs[Double]("corr_xy") === 1.0)
    assert(row.getAs[Double]("sd_y") === 2.0 * row.getAs[Double]("sd_x"))
  }

  test("sampleByHash is deterministic and roughly proportional") {
    val df = (1 to 2000).map(i => s"doc body number $i").toDF("t")
    val n1 = Stats.sampleByHash(df, col("t"), 10).count()
    val n2 = Stats.sampleByHash(df, col("t"), 10).count()
    assert(n1 === n2)             // reproducible
    assert(n1 > 100 && n1 < 300)  // ~10% of 2000
    // monotone: a larger budget strictly contains the smaller one
    val small = Stats.sampleByHash(df, col("t"), 10).as[String].collect().toSet
    val big = Stats.sampleByHash(df, col("t"), 30).as[String].collect().toSet
    assert(small.subsetOf(big))
  }

  test("mixtureResample: a 200:1 stratum keeps ~min rows, never starves") {
    // 200:1 ratio — the shape that starved under integer-percent rates
    // (floor(100*10/2000) = 0 dropped the big stratum ENTIRELY).
    val df = ((1 to 2000).map(i => (s"big corpus document $i", "en")) ++
      (1 to 10).map(i => (s"tiny corpus document $i", "xx"))).toDF("t", "lang")
    val out = Stats.mixtureResample(df, col("lang"), col("t"))
    val kept = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    // ceil(1e6*10/2000) = 5000 ppm -> expected 10 of 2000; hash-deterministic,
    // so the exact count is stable — assert it's alive and near the target.
    assert(kept.getOrElse("en", 0L) > 0, "big stratum starved to zero")
    assert(kept("en") <= 40, s"big stratum barely downsampled: ${kept("en")}")
    assert(kept("xx") === 10L) // smallest stratum keeps 100% (ppm capped at 1e6)
    val ppm = out.where(col("lang") === "xx").select("keep_ppm")
      .as[Long].head()
    assert(ppm === 1000000L)
    assert(out.count() === Stats.mixtureResample(df, col("lang"), col("t")).count())
  }

  test("mixtureResampleToWeights: bottleneck caps at 1e6 ppm, mix holds, no duplication") {
    // "code" is scarce relative to its 50% target (10 of 100 rows): the
    // feasible total is N = min(90/0.5, 10/0.5) = 20, code keeps 100%
    // (its rate pins at exactly 1e6 ppm — never above, never duplicated),
    // web downsamples to rate ceil(1e6*20*0.5/90) = 111112 ppm.
    val df = ((1 to 90).map(i => (s"web page number $i", "web")) ++
      (1 to 10).map(i => (s"code file number $i", "code")) ++
      (1 to 20).map(i => (s"book chapter $i", "books"))) // unweighted: dropped
      .toDF("t", "domain")
    val out = Stats.mixtureResampleToWeights(df, col("domain"), col("t"),
      Map("web" -> 0.5, "code" -> 0.5))
    val ppm = out.select("domain", "keep_ppm").distinct()
      .as[(String, Long)].collect().toMap
    assert(ppm("code") === 1000000L) // target exceeds supply -> capped at 1x
    assert(ppm("web") === 111112L)
    val kept = out.groupBy("domain").count().as[(String, Long)].collect().toMap
    assert(kept("code") === 10L)           // the whole scarce stratum, once
    assert(kept.getOrElse("books", 0L) === 0L, "unweighted stratum must drop")
    assert(kept("web") > 0 && kept("web") <= 30)
    // no row duplication: every kept row is distinct
    assert(out.count() === out.dropDuplicates("t").count())
    // weight scaling is invariant (normalization): 1/1 == 0.5/0.5
    val scaled = Stats.mixtureResampleToWeights(df, col("domain"), col("t"),
      Map("web" -> 1.0, "code" -> 1.0)).select("t").as[String].collect().toSet
    assert(scaled === out.select("t").as[String].collect().toSet)
    intercept[IllegalArgumentException](
      Stats.mixtureResampleToWeights(df, col("domain"), col("t"), Map.empty))
    intercept[IllegalArgumentException](
      Stats.mixtureResampleToWeights(df, col("domain"), col("t"),
        Map("web" -> 0.0)))
  }

  test("mixtureResampleTemperature: alpha=1 keeps all, alpha=0 flattens, 0.5 in between") {
    val df = ((1 to 400).map(i => (s"en doc body $i", "en")) ++
      (1 to 100).map(i => (s"de doc body $i", "de")) ++
      (1 to 25).map(i => (s"xx doc body $i", "xx")))
      .toDF("t", "lang")
    // alpha=1: shares == empirical mix, every rate caps at 1e6 -> identity
    val all = Stats.mixtureResampleTemperature(df, col("lang"), col("t"), 1.0)
    assert(all.count() === 525L)
    assert(all.select("keep_ppm").distinct().as[Long].collect().toSeq === Seq(1000000L))
    // alpha=0: uniform shares -> flatten-to-smallest; every stratum's
    // expected kept count is the smallest stratum's size (25), with the
    // smallest itself kept whole at exactly 1e6 ppm.
    val flat = Stats.mixtureResampleTemperature(df, col("lang"), col("t"), 0.0)
    val ppm0 = flat.select("lang", "keep_ppm").distinct()
      .as[(String, Long)].collect().toMap
    assert(ppm0("xx") === 1000000L)
    assert(ppm0("en") === 62500L)   // ceil(1e6 * 75 * (1/3) / 400)
    assert(ppm0("de") === 250000L)  // ceil(1e6 * 75 * (1/3) / 100)
    // alpha=0.5: shares prop sqrt(counts) = 20:10:5 -> N = min(cnt/share)
    // is xx's 25/(5/35) = 175; en rate ceil(1e6*175*(20/35)/400) = 250000,
    // de rate ceil(1e6*175*(10/35)/100) = 500000, xx capped at 1e6.
    val mid = Stats.mixtureResampleTemperature(df, col("lang"), col("t"), 0.5)
    val ppm5 = mid.select("lang", "keep_ppm").distinct()
      .as[(String, Long)].collect().toMap
    assert(ppm5 === Map("en" -> 250000L, "de" -> 500000L, "xx" -> 1000000L))
    // monotone: lower temperature never keeps MORE of a dominant stratum
    val keptEn = (a: org.apache.spark.sql.DataFrame) =>
      a.where(col("lang") === "en").count()
    assert(keptEn(flat) <= keptEn(mid) && keptEn(mid) <= keptEn(all))
    // no duplication at any temperature
    assert(mid.count() === mid.dropDuplicates("t").count())
    intercept[IllegalArgumentException](
      Stats.mixtureResampleTemperature(df, col("lang"), col("t"), -0.1))
    intercept[IllegalArgumentException](
      Stats.mixtureResampleTemperature(df, col("lang"), col("t"), 1.5))
  }

  test("selectByBudget: greedy prefix on DESC rank, boundary row excluded, window parity") {
    // score desc, id tiebreak -> visit order c(9,4), a(8,5), d(8,6), b(2,7):
    // cums 4, 9, 15, 22; budget 14 keeps c and a only (d would breach).
    val df = Seq(("a", 8.0, 5L), ("b", 2.0, 7L), ("c", 9.0, 4L), ("d", 8.0, 6L))
      .toDF("id", "score", "n")
    val order = Seq(col("score").desc, col("id").asc)
    val got = Stats.selectByBudget(df, order, "n", budget = 14L, out = "cum")
      .select("id", "cum").as[(String, Long)].collect().toMap
    assert(got === Map("c" -> 4L, "a" -> 9L))
    // parity with the single-partition window filter, value for value
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("id").asc)
      .rowsBetween(Long.MinValue, 0L)
    val exp = df.withColumn("cum", sum("n").over(win))
      .where(col("cum") <= 14).select("id", "cum")
      .as[(String, Long)].collect().toMap
    assert(got === exp)
    // budget 0: nothing fits (all values positive); budget covers all: identity
    assert(Stats.selectByBudget(df, order, "n", 0L).count() === 0L)
    assert(Stats.selectByBudget(df, order, "n", 100L).count() === 4L)
    intercept[IllegalArgumentException](
      Stats.selectByBudget(df, order, "n", -1L))
  }

  test("takePerStratum: exact k per group, prefix-stable, whole group when k exceeds it") {
    val df = ((1 to 100).map(i => (s"en doc body $i", "en", i.toLong)) ++
      (1 to 5).map(i => (s"xx doc body $i", "xx", 1000L + i)))
      .toDF("t", "lang", "id")
    val s10 = Stats.takePerStratum(df, col("lang"), col("t"), 10, Seq("id"))
    val counts = s10.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts("en") === 10L)  // exact, not expected
    assert(counts("xx") === 5L)   // k > |stratum| keeps the whole stratum
    // prefix-stable: the 10-sample is contained in the 25-sample
    val ids10 = s10.select("id").as[Long].collect().toSet
    val ids25 = Stats.takePerStratum(df, col("lang"), col("t"), 25, Seq("id"))
      .select("id").as[Long].collect().toSet
    assert(ids10.subsetOf(ids25))
    // deterministic across runs
    assert(ids10 === Stats.takePerStratum(df, col("lang"), col("t"), 10, Seq("id"))
      .select("id").as[Long].collect().toSet)
    // duplicate keys: tieBreak pins WHICH duplicate survives
    val dup = Seq(("same text", "en", 1L), ("same text", "en", 2L),
      ("same text", "en", 3L)).toDF("t", "lang", "id")
    val one = Stats.takePerStratum(dup, col("lang"), col("t"), 1, Seq("id"))
      .select("id").as[Long].collect()
    assert(one === Array(1L))
  }

  test("weightedSamplePerGroup: weight dominance, exact k, prefix-stable, w<=0 dropped") {
    // 5 heavy items (w=1e6) vs 35 light (w=1e-6): the A-ES key bounds
    // guarantee every heavy outranks every light (worst heavy key
    // ln(5e-7)/1e6 ~ -1.4e-5 > best light key ~ -5e-7/1e-6 = -0.5), so
    // the top-5 is exactly the heavy set — deterministically, not in
    // expectation
    val df = ((1 to 5).map(i => (s"heavy item $i", "g", i.toLong, 1e6)) ++
      (1 to 35).map(i => (s"light item $i", "g", 100L + i, 1e-6)))
      .toDF("t", "grp", "id", "w")
    val top5 = Stats.weightedSamplePerGroup(df, Seq("grp"), col("t"), "w", 5,
      Seq("id")).select("id").as[Long].collect().toSet
    assert(top5 === (1 to 5).map(_.toLong).toSet)
    // exact k per group; k > |group| keeps the whole group
    val two = df.withColumn("grp", when(col("id") <= 100, lit("a")).otherwise(lit("b")))
    val counts = Stats.weightedSamplePerGroup(two, Seq("grp"), col("t"), "w", 50, Seq("id"))
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts === Map("a" -> 5L, "b" -> 35L))
    // prefix-stable and deterministic
    val s3 = Stats.weightedSamplePerGroup(df, Seq("grp"), col("t"), "w", 3, Seq("id"))
      .select("id").as[Long].collect().toSet
    val s8 = Stats.weightedSamplePerGroup(df, Seq("grp"), col("t"), "w", 8, Seq("id"))
      .select("id").as[Long].collect().toSet
    assert(s3.subsetOf(s8))
    assert(s3 === Stats.weightedSamplePerGroup(df, Seq("grp"), col("t"), "w", 3, Seq("id"))
      .select("id").as[Long].collect().toSet)
    // nonpositive weights are never sampled
    val withZero = df.unionByName(Seq(("zero w", "g", 999L, 0.0), ("neg w", "g", 998L, -2.0))
      .toDF("t", "grp", "id", "w"))
    val all = Stats.weightedSamplePerGroup(withZero, Seq("grp"), col("t"), "w", 100, Seq("id"))
      .select("id").as[Long].collect().toSet
    assert(!all.contains(999L) && !all.contains(998L) && all.size === 40)
    intercept[IllegalArgumentException](
      Stats.weightedSamplePerGroup(df, Seq("grp"), col("t"), "w", 0, Seq("id")))
    // tieBreak is required: equal-key duplicates are otherwise nondeterministic
    intercept[IllegalArgumentException](
      Stats.weightedSamplePerGroup(df, Seq("grp"), col("t"), "w", 3, Nil))
  }

  test("winsorize clamps into the percentile band; interior values untouched") {
    val df = ((1 to 99).map(_.toDouble) :+ 1000.0).toDF("x").withColumn("g", lit("a"))
    val out = graft.operators.Encode.winsorize(df, "x", Seq("g"), 0.05, 0.95)
      .select("x", "x_w").as[(Double, Double)].collect().toMap
    assert(out(50.0) === 50.0)          // interior untouched
    assert(out(1000.0) === out.values.max)  // outlier clamped to p95
    assert(out(1.0) > 1.0)              // low tail clamped up to p05
  }

  test("stratifiedSampleByHash applies per-stratum rates deterministically") {
    val df = (1 to 1000).map(i => (s"text body $i", if (i % 2 == 0) "en" else "de"))
      .toDF("t", "lang")
    val out = Stats.stratifiedSampleByHash(df, col("t"), col("lang"),
      Map("en" -> 50), defaultPct = 5)
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts("en") > 150 && counts("en") < 350) // ~50% of 500
    assert(counts.getOrElse("de", 0L) < 80)          // ~5% of 500
    assert(out.count() === Stats.stratifiedSampleByHash(df, col("t"), col("lang"),
      Map("en" -> 50), 5).count())                   // reproducible
  }

  test("connectedComponents: chains collapse to min id, singletons self-label") {
    import graft.operators.Dedup
    val nodes = (1L to 8L).toDF("id")
    // chain 1-2-3, pair 5-6, singletons 4,7,8; edge 2-3 only via 1
    val edges = Seq((1L, 2L), (3L, 1L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(nodes, edges)
      .orderBy("id").as[(Long, Long)].collect()
    assert(out === Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 5L), (6L, 5L), (7L, 7L), (8L, 8L)))
    // longer chain needs multiple propagation rounds
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
      .toDF("id_a", "id_b")
    val out2 = Dedup.connectedComponents((1L to 7L).toDF("id"), chain)
      .select("component").distinct().as[Long].collect()
    assert(out2 === Array(1L))
    // one row per node, on both paths: an edge with a null endpoint is
    // dropped, and an endpoint outside `nodes` (99) gets no row
    val loose = Seq((Option(1L), Option(2L)), (None, Some(5L)), (Some(5L), Some(99L)))
      .toDF("id_a", "id_b")
    for (cc <- ccPaths)
      assert(cc(Seq(1L, 2L, 5L).toDF("id"), loose).orderBy("id").as[(Long, Long)]
        .collect() === Array((1L, 1L), (2L, 1L), (5L, 5L)))
  }

  /** Both connected-components paths: driver union-find and star rounds. */
  private val ccPaths = Seq[(DataFrame, DataFrame) => DataFrame](
    graft.operators.Dedup.connectedComponents,
    graft.operators.Dedup.connectedComponentsStar(_, _))

  /** The result of `body` and the Spark jobs launched while it ran. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftSqlBridge.awaitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.GraftSqlBridge.awaitListeners(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("connectedComponents returns an unpersisted frame (no caller-owned cache)") {
    import graft.operators.Dedup
    val out = Dedup.connectedComponents(
      (1L to 4L).toDF("id"), Seq((1L, 2L)).toDF("id_a", "id_b"))
    assert(out.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(out.count() === 4) // still materializable after internal unpersist
  }

  test("connectedComponents survives a deep chain (per-round lineage sever)") {
    import graft.operators.Dedup
    // A path's diameter costs nothing: one edge collect, then union-find on
    // the driver. The result holds no storage (nothing persisted or
    // detached), so no block outlives the call.
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (1L until 21L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents((1L to 21L).toDF("id"), chain)
    assert(out.select("component").distinct().as[Long].collect() === Array(1L))
    assert(out.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1,
      "connectedComponents left storage behind")
    // 1,000 links (a propagation loop needs 1,000 rounds): edges from a
    // local frame launch no job, and a Spark-computed edge frame costs its
    // collect plus the label join, whatever the length
    val local = (1L to 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (lazyOut, buildJobs) = jobsOf(Dedup.connectedComponents((1L to 1001L).toDF("id"), local))
    assert(buildJobs === 0)
    assert(lazyOut.select("component").distinct().as[Long].collect() === Array(1L))
    val computed = spark.range(1, 1001).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val (labels, jobs) = jobsOf(
      Dedup.connectedComponents(spark.range(1, 1002).toDF("id"), computed).collect())
    assert(jobs <= 3, s"$jobs jobs")
    assert(labels.length === 1001 && labels.forall(_.getLong(1) == 1L))
  }

  test("connectedComponents past MaxDriverEdges takes the star path") {
    import graft.operators.Dedup
    // a star of cap + 1 edges centred on 0, plus the pair 7-8 inside it
    val n = Dedup.MaxDriverEdges + 1L
    val edges = spark.range(1, n + 1).select(lit(0L).as("id_a"), col("id").as("id_b"))
      .unionByName(Seq((7L, 8L)).toDF("id_a", "id_b"))
    val nodes = spark.range(0, n + 2).toDF("id")
    val (out, jobs) = jobsOf(Dedup.connectedComponents(nodes, edges))
    // the driver path runs one collect; the star rounds run several jobs
    // and hand back a detached frame
    assert(jobs > 1, s"$jobs jobs")
    assert(out.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    val byLabel = out.groupBy("component").agg(count(lit(1)), min("id"), max("id"))
      .orderBy("component").as[(Long, Long, Long, Long)].collect()
    assert(byLabel === Array((0L, n + 1, 0L, n), (n + 1, 1L, n + 1, n + 1)))
  }

  test("connectedComponentsStar: deep chain beyond propagation's budget, dup " +
    "edges, singletons — min-rooted labels in O(log^2) rounds") {
    import graft.operators.Dedup
    // a 61-hop path: a handful of star rounds, not one per hop; plus
    // duplicate/reversed edges and singletons
    val chain = (1L until 61L).map(i => (i, i + 1))
    val edges = (chain ++ chain.map(_.swap) ++ Seq((70L, 71L)))
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponentsStar((1L to 72L).toDF("id"), edges)
    assert(out.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(out.count() === 72)
    val byId = out.as[(Long, Long)].collect().toMap
    assert((1L to 61L).forall(byId(_) === 1L))
    assert(byId(70L) === 70L && byId(71L) === 70L && byId(72L) === 72L)
    assert(org.apache.spark.sql.GraftSqlBridge.sqlCacheIsEmpty(spark),
      "connectedComponentsStar left a caller-orphaned SQL-cache entry")
  }

  test("connectedComponentsStar equals propagation CC on random graphs") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val n = 3 + rnd.nextInt(12)
      val edges = Seq.fill(rnd.nextInt(14))((1 + rnd.nextInt(n), 1 + rnd.nextInt(n)))
        .filter(e => e._1 != e._2).map { case (a, b) => (a.toLong, b.toLong) }
      val nodes = (1L to n.toLong).toDF("id")
      val ef = edges.toDF("id_a", "id_b")
      val star = Dedup.connectedComponentsStar(nodes, ef)
        .orderBy("id").as[(Long, Long)].collect()
      val prop = Dedup.connectedComponents(nodes, ef)
        .orderBy("id").as[(Long, Long)].collect()
      assert(star === prop, s"n=$n edges=$edges")
    }
  }

  test("connectedComponents matches a union-find reference on random graphs") {
    import graft.operators.Dedup
    def refComponents(n: Int, edges: Seq[(Int, Int)]): Map[Int, Int] = {
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (1 to n).map(i => i -> find(i)).toMap
    }
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val n = 2 + rnd.nextInt(10)
      val edges = Seq.fill(rnd.nextInt(10))((1 + rnd.nextInt(n), 1 + rnd.nextInt(n)))
        .filter(e => e._1 != e._2)
      for (cc <- ccPaths) {
        val got = cc((1L to n.toLong).toDF("id"),
          edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("id_a", "id_b"))
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
        assert(got === refComponents(n, edges), s"n=$n edges=$edges")
      }
    }
  }

  test("tokensWs collapses whitespace runs; wordTokens strips punctuation") {
    val df = Seq("  Hello,   world!\tfoo2bar  ", "").toDF("t")
      .select(TextAnalysis.tokensWs(col("t")).as("ws"),
        TextAnalysis.wordTokens(col("t")).as("wd"))
    val rows = df.as[(Seq[String], Seq[String])].collect()
    assert(rows(0)._1 === Seq("Hello,", "world!", "foo2bar"))
    assert(rows(0)._2 === Seq("Hello", "world", "foo2bar"))
    assert(rows(1)._1 === Seq.empty && rows(1)._2 === Seq.empty)
    // the single-space `tokens` keeps empties on multi-space input — the
    // exact behavior tokensWs exists to fix
    val legacy = Seq("a  b").toDF("t")
      .select(TextAnalysis.tokens(col("t"))).as[Seq[String]].head()
    assert(legacy === Seq("a", "", "b"))
  }

  test("ngrams builds sliding word windows; short docs yield none") {
    val df = Seq("a b c d", "solo").toDF("text")
      .select(TextAnalysis.tokens(col("text")).as("tk"))
    val out = df.select(TextAnalysis.ngrams(col("tk"), 2).as("ng"))
      .as[Seq[String]].collect()
    assert(out(0) === Seq("a b", "b c", "c d"))
    assert(out(1) === Seq.empty)
  }

  test("tfidfTopK ranks distinctive terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "apple apple common"),
      (2L, "banana common common"),
      (3L, "cherry common apple")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopK(docs, "doc_id", "text", 1)
      .orderBy("doc_id").select("doc_id", "term").as[(Long, String)].collect()
    // 'common' appears in every doc -> idf 0; the distinctive fruit wins
    assert(out === Array((1L, "apple"), (2L, "banana"), (3L, "cherry")))
  }

  test("tfidfCosinePairs: near-dup docs score high, disjoint docs absent") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // shares 5 shingles with 1
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfCosinePairs(docs, "doc_id", "text",
      minCos = 0.1, maxDf = 10)
      .as[(Long, Long, Double)].collect().sorted
    assert(out.map(p => (p._1, p._2)) === Array((1L, 2L)))
    // 5 of 6 shingles shared, but the unique shingle carries the highest
    // idf: cos = 5*ln(3/2)^2 / (5*ln(3/2)^2 + ln(3)^2) ~ 0.405
    assert(out(0)._3 > 0.3 && out(0)._3 < 0.5)
  }

  test("tfidfCosinePairs maxDf drops stop-shingles from dot and norms") {
    // Identical docs: cosine 1.0; with maxDf 1 every shared shingle (df=2)
    // is pruned, so no weights survive and no pair is emitted.
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val all = TextAnalysis.tfidfCosinePairs(docs, "doc_id", "text", 0.0, 10)
      .as[(Long, Long, Double)].collect()
    // df = 2 for every shingle -> idf = ln(2/2) = 0 -> zero norms drop out
    assert(all.isEmpty)
    val three = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "p q r s t")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfCosinePairs(three, "doc_id", "text", 0.5, 10)
      .as[(Long, Long, Double)].collect()
    assert(out.map(p => (p._1, p._2, p._3)) === Array((1L, 2L, 1.0)))
    assert(TextAnalysis.tfidfCosinePairs(three, "doc_id", "text", 0.0, 1)
      .as[(Long, Long, Double)].collect().isEmpty)
  }

  test("topNgrams returns the k most frequent per group, ties by ngram") {
    val docs = Seq(("en", "x y x y z"), ("en", "x y q")).toDF("lang", "text")
    val out = TextAnalysis.topNgrams(docs, "lang", "text", 2, 2)
      .orderBy("rank").select("ngram", "n_occur").as[(String, Long)].collect()
    assert(out(0) === ("x y", 3L)) // "x y" twice in doc1 + once in doc2
    assert(out(1)._2 <= 3L)
  }

  test("heavyHitterTokens: sketch equals exact unigram top-k under maxItemsTracked") {
    val docs = Seq(
      ("en", "x y x y z z z q"), ("en", "x y q r"),
      ("de", "a a b c"), ("de", "a b b d")).toDF("lang", "text")
    val sketch = TextAnalysis.heavyHitterTokens(docs, "lang", "text", 3)
      .orderBy("lang", "rank").as[(String, Int, String, Long)].collect()
    // vocabulary << maxItemsTracked: the frequent-items sketch is exact, so
    // it must match the exact n=1 table rank-for-rank (same tie-break)
    val exact = TextAnalysis.topNgrams(docs, "lang", "text", 1, 3)
      .orderBy("lang", "rank")
      .select(col("lang"), col("rank"), col("ngram"), col("n_occur"))
      .as[(String, Int, String, Long)].collect()
    assert(sketch === exact)
    assert(sketch.count(_._1 == "en") === 3) // k rows per group
  }

  test("scrubPii masks emails before digit runs") {
    val out = Seq("contact bob.smith+x@corp.example or call 4155550199 ext 42")
      .toDF("t").select(TextAnalysis.scrubPii(col("t"))).as[String].head()
    assert(out === "contact <EMAIL> or call <NUM> ext 42")
  }

  test("kAnonymity: linkage and homogeneity flags on engineered classes") {
    import graft.operators.Stats
    val df = Seq(
      ("US", "A", 1.0), // singleton: re-identifiable
      ("US", "B", 5.0), ("US", "B", 5.0), ("US", "B", 5.0), ("US", "B", 5.0),
      // ^ k-anonymous at k=3 but homogeneous (1 distinct value)
      ("DE", "A", 1.0), ("DE", "A", 2.0), ("DE", "A", 3.0)) // healthy
      .toDF("nation", "seg", "bal")
    val out = Stats.kAnonymity(df, Seq("nation", "seg"), col("bal"), k = 3, l = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("class_size"), r.getAs[Long]("l_distinct"),
          r.getAs[Boolean]("k_anonymous"), r.getAs[Boolean]("l_diverse")))).toMap
    assert(out(("US", "A")) === ((1L, 1L, false, false)))
    assert(out(("US", "B")) === ((4L, 1L, true, false)), "homogeneity attack case")
    assert(out(("DE", "A")) === ((3L, 3L, true, true)))
    intercept[IllegalArgumentException](
      Stats.kAnonymity(df, Seq.empty, col("bal"), 3, 2))
    intercept[IllegalArgumentException](
      Stats.kAnonymity(df, Seq("nation"), col("bal"), 0, 2))
  }

  test("bootstrapMeanCI: CI brackets the mean, deterministic, guards params") {
    val d = spark.range(0, 2000).select(lit("g").as("g"),
      (col("id") % 100).cast("double").as("x"), col("id").cast("string").as("k"))
    val out = Stats.bootstrapMeanCI(d, Seq("g"), "x", col("k"), replicas = 50)
    val r = out.head()
    val (n, mean, lo, hi) = (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(n === 2000L && lo < mean && mean < hi, s"CI [$lo, $hi] vs mean $mean")
    // se of uniform(0..99) at n=2000 ~ 0.65, so a 95% CI spans ~2.5 units
    assert(hi - lo > 0.5 && hi - lo < 10, s"implausible CI width ${hi - lo}")
    // hash-seeded: bit-identical on re-run
    assert(Stats.bootstrapMeanCI(d, Seq("g"), "x", col("k"), replicas = 50).head() === r)
    // null VALUES are excluded from n, mean, and every replica (their
    // weight must not drag replica means toward zero)
    val withNulls = d.union(spark.range(0, 500).select(lit("g"),
      lit(null).cast("double"), concat(lit("nul"), col("id")).cast("string")))
    val r2 = Stats.bootstrapMeanCI(withNulls, Seq("g"), "x", col("k"), replicas = 50).head()
    assert(r2.getLong(1) === 2000L && r2.getDouble(3) < r2.getDouble(2) &&
      r2.getDouble(2) < r2.getDouble(4), s"null values skewed the CI: $r2")
    // a null KEY is a caller bug and fails loudly, not weight-4 silently
    val nullKey = Seq(("g", 1.0, null.asInstanceOf[String])).toDF("g", "x", "k")
    val e = intercept[Exception](
      Stats.bootstrapMeanCI(nullKey, Seq("g"), "x", col("k")).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("null resampling key")))
    intercept[IllegalArgumentException](
      Stats.bootstrapMeanCI(d, Seq("g"), "x", col("k"), replicas = 1))
    intercept[IllegalArgumentException](
      Stats.bootstrapMeanCI(d, Seq("g"), "x", col("k"), alpha = 1.5))
  }

  test("groupLinearFit accepts column names needing backticks") {
    val d = Seq(("a", 0.0, 1.0), ("a", 1.0, 3.0), ("a", 2.0, 5.0))
      .toDF("g", "x val", "y val")
    val out = Stats.groupLinearFit(d, Seq("g"), "x val", "y val")
      .select("slope", "intercept").as[(Double, Double)].head()
    assert(out === ((2.0, 1.0)))
  }

  test("groupLinearFit: exact line recovers slope/intercept with r2 = 1") {
    val d = Seq.tabulate(20)(i => ("a", i.toDouble, 2.0 * i + 1.0)) ++
      Seq(("b", 0.0, 5.0), ("b", 1.0, 4.0), ("b", 2.0, 6.0), ("b", 3.0, 5.0))
    val out = Stats.groupLinearFit(d.toDF("g", "x", "y"), Seq("g"), "x", "y")
      .orderBy("g").as[(String, Long, Double, Double, Double)].collect()
    assert(out(0) === (("a", 20L, 2.0, 1.0, 1.0)))
    val (_, nB, slopeB, _, r2B) = out(1)
    assert(nB === 4L && math.abs(slopeB - 0.2) < 1e-9 && r2B < 0.2)
  }

  test("dsirSelect: target-like pool docs outweigh off-domain ones, k exact") {
    // target vocabulary {alpha beta gamma}; pool has 4 target-like docs and
    // 12 off-domain ones — at keepFrac=0.25 (k=4) exactly the target-like
    // docs must survive, regardless of the Gumbel noise, because the weight
    // gap dwarfs the noise range
    val target = Seq.tabulate(8)(i =>
      (100L + i, s"alpha beta gamma alpha beta gamma alpha beta gamma v$i", true))
    val likeTarget = Seq.tabulate(4)(i =>
      (200L + i, s"alpha beta gamma alpha beta gamma alpha beta gamma w$i", false))
    val offDomain = Seq.tabulate(12)(i =>
      (300L + i, s"xyzzy qux corge grault xyzzy qux corge grault u$i", false))
    val df = (target ++ likeTarget ++ offDomain).toDF("doc_id", "text", "is_t")
    val out = Stats.dsirSelect(df, "doc_id", "text", col("is_t"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(200L, 201L, 202L, 203L))
  }

  test("dsirSelect: weights are reproducible and selection is top-k sized") {
    val docs = graft.meta.Tables.documents(spark, sf)
    val a = Stats.dsirSelect(docs, "doc_id", "text", col("lang") === "en")
    val poolN = docs.where(col("lang") =!= "en").count()
    assert(a.count() === math.ceil(poolN * 0.25).toLong)
    // deterministic across invocations (hash-seeded Gumbel, no rand())
    val b = Stats.dsirSelect(docs, "doc_id", "text", col("lang") === "en")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // distributed top-k: the selection must be TakeOrderedAndProject, and
    // the bucket-ratio join back onto the token stream must broadcast
    val plan = a.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }
}
