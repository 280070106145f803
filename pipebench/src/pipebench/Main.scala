package pipebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One local session per process: N cores, N shuffle partitions, and the
  * confs `graft.Bench` runs with. Spill, warehouse and temp files stay
  * under `work`. */
object Session {
  def local(cpus: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("pipebench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "24000")
    .config("spark.sql.files.openCostInBytes", "8192")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
    .getOrCreate()
}

/** `Main --mode setup|run|trace|selftest --workload W --seed S --seconds R
  * --cpus N --in DIR --work DIR --result FILE`
  *
  * Every mode starts with setup: the session, then one untimed full pass
  * (the warm-up pass; `setup_s` ends with it).
  *  - run: full and chunk passes in turn, starting with a full one, while
  *    another pass fits in R seconds (at least four passes), checking
  *    every output; reports the end-to-end metrics.
  *  - trace: a settling full pass, then untraced and traced full passes
  *    in turn (listeners attached to the traced ones), then one pass of
  *    forced prefixes; reports the per-layer metrics and writes the span
  *    file.
  *  - selftest: one full and one chunk pass must pass every check, and
  *    every deliberately corrupted output must fail its check.
  *
  * `Main --mode archive --in DIR --work DIR --cpus N` instead runs one
  * full pass of every workload, inputs under `DIR/<workload>`, so the
  * build can record the classes they load in a class-data-sharing
  * archive. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    if (o("mode") == "archive") return archive(o("in"), o("work"), o("cpus").toInt)
    Heap.install()
    val wl = Workloads.all(o("workload"))
    val (seconds, cpus, work) = (o("seconds").toDouble, o("cpus").toInt, o("work"))
    val spark = Session.local(cpus, work)
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark)
    val c = Ctx(spark, tracer, o("in"), work, Gen.readTruth(o("in")), o("seed").toLong)
    wl.full(c, s"$work/warm_out") // the untimed warm-up pass
    System.err.println("[pipebench] setup done")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> o("workload"), "seed" -> c.seed, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576, "spark" -> spark.version,
      "java" -> System.getProperty("java.version"))
    val result = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS)
    var ok = true
    try {
      val r = new Runner(wl, c, seconds, cpus)
      o("mode") match {
        case "setup" =>
        case "run" => result ++= r.run()
        case "trace" => result ++= r.trace(info, o("trace_file"))
        case "selftest" => ok = r.selftest()
      }
      result("attempted") = r.attempted
      result("failed") = r.failed
    } finally spark.stop()
    Files.write(new File(o("result")).toPath,
      Json.obj(result ++ info).getBytes(StandardCharsets.UTF_8))
    if (!ok) System.exit(1)
  }

  private def archive(in: String, work: String, cpus: Int): Unit = {
    val spark = Session.local(cpus, work)
    try for ((name, wl) <- Workloads.all) {
      val dir = s"$in/$name"
      wl.full(Ctx(spark, new Tracer(spark), dir, s"$work/$name", Gen.readTruth(dir), 0L),
        s"$work/$name/out")
    } finally spark.stop()
  }
}

object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case m: collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }
  def obj(m: collection.Map[String, Any]): String =
    m.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

final class Runner(val wl: Workload, c: Ctx, seconds: Double, cpus: Int) {
  var attempted = 0
  var failed = 0

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def outDir(kind: String) = s"${c.work}/out_$kind"

  /** Bytes of the data files a sink wrote (Spark's `_SUCCESS` and `.crc`
    * side files excluded). */
  private def sinkBytes(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) sinkBytes(f)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
      else f.length()
    }.sum

  /** One pass, timed with the heap watcher on. A full GC first makes every
    * pass start from the same live heap. A pass that throws has no output. */
  private def timed(kind: String): (Double, Option[wl.Out]) = {
    attempted += 1
    System.gc()
    Heap.recording = true
    val t0 = System.nanoTime()
    val out = try Some(if (kind == "full") wl.full(c, outDir(kind)) else wl.chunk(c, outDir(kind)))
    catch { case NonFatal(e) => System.err.println(s"[pipebench] $kind pass threw: $e"); None }
    val dt = (System.nanoTime() - t0) / 1e9
    Heap.recording = false
    System.err.println(f"[pipebench] $kind pass $dt%.3f s")
    (dt, out)
  }

  /** Checks a pass's output, untimed. Returns the pass when it ran and its
    * output passed every check; otherwise counts it as failed. */
  private def verified(kind: String, dt: Double, out: Option[wl.Out]): Option[(Double, wl.Out)] = {
    val verdict = out.map { x =>
      try wl.checks(c, x)
      catch { case NonFatal(e) => Seq(Check("check_ran", ok = false, e.toString)) }
    }
    verdict.toSeq.flatten.filterNot(_.ok).foreach(ch =>
      System.err.println(s"[pipebench] $kind pass failed check ${ch.name}: ${ch.detail}"))
    if (verdict.exists(_.forall(_.ok))) out.map(dt -> _)
    else { failed += 1; None }
  }

  private def pass(kind: String): Option[(Double, wl.Out)] = {
    val (dt, out) = timed(kind)
    verified(kind, dt, out)
  }

  /** Repeat `body` at least `min` times, and again while another call of
    * the mean length so far still ends within `budget` seconds. */
  private def loop(budget: Double, min: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < min || elapsed * (i + 1) / i <= budget) { body(i); i += 1 }
  }

  def run(): Map[String, Any] = {
    val fullT = mutable.ArrayBuffer[Double]()
    val chunkT = mutable.ArrayBuffer[Double]()
    loop(seconds, 4) { i =>
      if (i % 2 == 0) pass("full").foreach(fullT += _._1)
      else pass("chunk").foreach(chunkT += _._1)
    }
    val records = wl.fullRecords(c)
    Map(
      "records_per_s" -> records / median(fullT.toSeq),
      "chunk_s" -> median(chunkT.toSeq),
      "heap_peak_mb" -> Heap.peakMb,
      "sink_bytes_per_record" -> sinkBytes(new File(outDir("full"))).toDouble / records,
      "failed_frac" -> failed.toDouble / attempted,
      "full_passes" -> fullT.size, "chunk_passes" -> chunkT.size,
      "full_s" -> fullT.toSeq, "chunk_pass_s" -> chunkT.toSeq)
  }

  def selftest(): Boolean = {
    var ok = true
    for (kind <- Seq("full", "chunk")) {
      val out = if (kind == "full") wl.full(c, outDir(kind)) else wl.chunk(c, outDir(kind))
      val clean = wl.checks(c, out)
      clean.foreach(ch => println(s"[selftest] $kind clean output: ${ch.name} " +
        (if (ch.ok) "passes" else s"FAILS (${ch.detail})")))
      ok &&= clean.forall(_.ok)
      if (kind == "full") for ((target, bad) <- wl.corrupt(c, out)) {
        val hit = wl.checks(c, bad).find(_.name == target).exists(!_.ok)
        println(s"[selftest] corrupted for $target: " + (if (hit) "check fails as it must" else "NOT DETECTED"))
        ok &&= hit
      }
    }
    ok
  }

  // ---- traced run -------------------------------------------------------

  private val sinks = Set("Audit.assertNoNulls", "Batching.writeChunked",
    "Batching.writeJsonlShards", "Media.writeTensorBatches")

  def trace(info: collection.Map[String, Any], file: String): Map[String, Any] = {
    val spark = c.spark
    val t = c.t
    val untraced = mutable.ArrayBuffer[Double]()
    val col = new Collector
    final case class PassRec(span: Span, seconds: Double, gcS: Double)
    val traced = mutable.ArrayBuffer[PassRec]()
    var last: Option[wl.Out] = None
    // after one settling pass, counted in neither, untraced and traced
    // passes alternate so both see the same JVM state
    loop(seconds, 5) { i =>
      if (i == 0) pass("full")
      else if (i % 2 == 1) pass("full").foreach(untraced += _._1)
      else {
        spark.sparkContext.addSparkListener(col)
        spark.listenerManager.register(col)
        t.enabled = true
        t.pass = i
        val gc0 = Heap.gcMillis
        var root: Span = null
        val (dt, out) = t.span("pass.full") {
          root = t.spans.last
          timed("full")
        }
        t.pass = -1
        t.enabled = false
        org.apache.spark.pipebench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(col)
        spark.listenerManager.unregister(col)
        verified("full", dt, out).foreach { case (s, x) =>
          traced += PassRec(root, s, (Heap.gcMillis - gc0) / 1e3); last = Some(x)
        }
      }
    }
    spark.sparkContext.addSparkListener(col)
    spark.listenerManager.register(col)
    t.enabled = true
    // lazy layers: each prefix is built, then forced through the noop sink
    t.pass = 1000
    val prefix = mutable.LinkedHashMap[String, (Double, Double)]() // build s, action s
    var candidates: Option[Double] = None // reference LSH candidate pairs
    for ((name, mk) <- wl.prefixes(c, outDir("full"))) {
      val t0 = System.nanoTime()
      val df = mk()
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      prefix(name) = ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      if (name == "lsh_ref") candidates = Some(df.count().toDouble)
    }
    t.pass = -1
    t.enabled = false
    org.apache.spark.pipebench.Bus.drain(spark.sparkContext)

    val tasks = col.tasks.asScala.toSeq
    val jobs = col.jobs.asScala.toSeq
    val stages = col.stages.asScala.toSeq
    val plans = col.plans.asScala.toSeq
    def spanSum(p: Int, names: String*): Double =
      t.ofPass(p).filter(s => names.contains(s.name)).map(_.seconds).sum
    def spanJobs(p: Int, names: String*): Double = {
      val ids = t.ofPass(p).filter(s => names.contains(s.name)).flatMap(t.subtree).toSet
      jobs.count(j => ids(j._2)).toDouble
    }
    val perPass = traced.toSeq.map { case PassRec(root, _, gcS) =>
      val ids = t.subtree(root)
      val ts = tasks.filter(x => ids(x.span))
      val runS = ts.map(_.runMs).sum / 1e3
      val busyMs = union(ts.map(x => (x.launchMs max root.startMs, x.finishMs min root.endMs)))
      val wall = root.seconds
      val qs = plans.filter { case (st, _) => st >= root.startMs && st <= root.endMs }
      val top = t.spans.filter(_.parent == root.id)
      val p = root.pass
      Map[String, Double](
        "spark.jobs" -> jobs.count(j => ids(j._2)),
        "spark.stages" -> stages.count(s => ids(s._2)),
        "spark.tasks" -> ts.size,
        "spark.task_run_s" -> runS,
        "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "spark.gc_s" -> gcS,
        "spark.core_util" -> runS / (wall * cpus),
        "spark.no_task_s" -> math.max(0.0, wall - busyMs / 1e3),
        "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1048576.0,
        "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1048576.0,
        "spark.spill_mb" -> ts.map(_.spill).sum / 1048576.0,
        "spark.input_mb" -> ts.map(_.input).sum / 1048576.0,
        "spark.output_mb" -> ts.map(_.output).sum / 1048576.0,
        "catalyst.plan_s" -> qs.map(_._2).sum,
        "catalyst.executions" -> qs.size,
        "driver.build_s" -> top.filterNot(s => sinks(s.name)).map(_.seconds).sum,
        "Encode.fit_s" -> spanSum(p, "Encode.labelEncodeAll", "Encode.standardScale", "Encode.minMaxScale"),
        "Audit.assert_s" -> spanSum(p, "Audit.assertNoNulls"),
        "Media.sink_s" -> spanSum(p, "Media.writeTensorBatches"),
        "Relational.posjoin_s" -> spanSum(p, "Relational.positionalJoin"),
        "Relational.posjoin_jobs" -> spanJobs(p, "Relational.positionalJoin"),
        "Batching.sink_s" -> spanSum(p, "Batching.writeChunked"),
        "Batching.shard_sink_s" -> spanSum(p, "Batching.writeJsonlShards"),
        "Dedup.cc_s" -> spanSum(p, "Dedup.fuzzyDedupKeepFirst"), // LSH comes off below
        "Dedup.cc_jobs" -> spanJobs(p, "Dedup.fuzzyDedupKeepFirst"),
        "Similarity.fit_s" -> spanSum(p, "Similarity.buildIvfPqIndex"),
        "Similarity.fit_jobs" -> spanJobs(p, "Similarity.buildIvfPqIndex"))
    }
    val layer = mutable.LinkedHashMap[String, Double]()
    perPass.headOption.foreach(_.keys.foreach(k => layer(k) = median(perPass.map(_(k)))))
    def act(n: String) = prefix.get(n).map(_._2).getOrElse(0.0)
    /** Action time of prefix `a` beyond prefix `b`; 0 where the workload
      * has no such prefixes. */
    def diff(a: String, b: String) =
      if (prefix.contains(a) && prefix.contains(b)) act(a) - act(b) else 0.0
    val lshS = Seq("lsh_ref", "lsh_new").flatMap(prefix.get).map { case (b, a) => b + a }.sum
    def truth(k: String) = c.truth.get(k).map(_.toDouble)
    layer ++= Seq(
      "sources.csv_scan_s" -> act("csv_scan"),
      "sources.binary_scan_s" -> act("binary_scan"),
      "sources.parquet_scan_s" -> (act("scan_tensors") + act("scan_meta")),
      "Clean.self_s" -> diff("clean", "csv_scan"),
      "Encode.self_s" -> (diff("encode", "clean") + diff("scale", "posjoin")),
      "Media.explode_s" -> diff("explode", "binary_scan"),
      "Media.decode_s" -> diff("decode", "explode"),
      "Media.decoded_frac" -> (for (g <- truth("full.images"); n <- truth("full.named")) yield g / n)
        .getOrElse(0.0),
      "Dedup.lsh_s" -> lshS,
      "Dedup.cc_s" -> (layer("Dedup.cc_s") - lshS),
      "Dedup.candidates_per_dup_pair" ->
        (for (n <- candidates; p <- truth("ref.dup_pairs")) yield n / p).getOrElse(0.0),
      "Similarity.scrub_s" -> (prefix.get("scrub").fold(0.0)(_._1) + diff("scrub", "dedup_new")),
      "Similarity.scrub_recall" -> last.collect { case out: CorpusDedup.Out =>
        CorpusDedup.recall(CorpusDedup.clusters(c, "new.clusters"),
          out.shards.select("id").collect().map(_.getLong(0)).toSet)
      }.getOrElse(0.0),
      "trace.overhead_frac" -> (1 - median(untraced.toSeq) / median(traced.map(_.seconds).toSeq)))
    writeTrace(file, info, prefix, layer, tasks, jobs)
    layer.toMap
  }

  /** Length of the union of [start, end] intervals, in ms. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (e > s) total += e - s
    total
  }

  private def writeTrace(file: String, info: collection.Map[String, Any],
                         prefix: collection.Map[String, (Double, Double)],
                         layer: collection.Map[String, Double],
                         tasks: Seq[TaskRec], jobs: Seq[(Int, Int)]): Unit = {
    val t = c.t
    val spans = t.spans.map { s =>
      val ts = tasks.filter(_.span == s.id)
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "seconds" -> s.seconds, "self_s" -> t.selfSeconds(s),
        "jobs" -> jobs.count(_._2 == s.id), "tasks" -> ts.size,
        "task_run_s" -> ts.map(_.runMs).sum / 1e3)
    }
    val doc = mutable.LinkedHashMap[String, Any]() ++ info ++ Seq(
      "spans" -> spans,
      "prefixes" -> prefix.map { case (k, (b, a)) => k -> Map("build_s" -> b, "action_s" -> a) },
      "per_layer" -> layer)
    Files.write(new File(file).toPath, Json.obj(doc).getBytes(StandardCharsets.UTF_8))
  }
}
