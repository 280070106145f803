package graft

import org.apache.spark.sql.SparkSession

/** The one place that holds graft's session conf. Bench, Verify, the plan
  * tools, the profiler and the tests all build their session here, so the
  * plans they lint, dump, test and time are the same plans.
  *
  * Any conf set here yields to a `-Dspark.*` JVM system property of the
  * same name (pass it through SPARK_GRAFT_JAVA_OPTS), so a one-off run can
  * A/B a conf without a code change or a new env knob.
  */
object GraftSession {

  /** SPARK_GRAFT_CPUS when set, else every core the JVM sees. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    require(cpus >= 1, s"GraftSession.local: cpus must be >= 1, got $cpus")
    val conf = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // The generated-code cache defaults to 100 entries (static conf); a
      // 90-query suite compiles far more generated classes than that, so
      // late-alphabet queries evict+recompile their codegen on EVERY pass
      // — q88's large projection paid ~6 s/pass of janino time in one
      // 89-query run (12.0 s min-of-2 vs 0.8 s standalone). Size the cache
      // to the suite: the rule is "comfortably ABOVE the suite's generated-
      // class count" — 8000 was set for a 102-query suite and the r10
      // bench run showed the eviction signature again at 129 queries
      // (q13 4.61 s in-suite vs 0.47 s standalone).
      "spark.sql.codegen.cache.maxEntries" -> "24000",
      // Let file scans split down to ~totalBytes/defaultParallelism:
      // maxSplitBytes = min(maxPartitionBytes, max(openCost, bytes/cores)),
      // so the default 4 MiB openCost floors every sub-128-MiB table at ONE
      // split and stage 1 of each query runs on one core. 8 KiB keeps the
      // formula's self-scaling term in charge; combined with the
      // SplitLayout row-group normalization the small-SF scans run at full
      // width, the same shape a production multi-file input gets for free.
      "spark.sql.files.openCostInBytes" -> "8192")
    val builder = SparkSession.builder().master(s"local[$cpus]").appName("graft")
    conf.foreach { case (k, v) => builder.config(k, sys.props.getOrElse(k, v)) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every persisted block — the detached (localCheckpoint) frames a
    * finished query leaves behind. Run between queries in one JVM so their
    * storage does not accumulate and inflate later queries. */
  def reapDetached(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}
