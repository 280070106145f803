package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-query profiler: `Profile <q1,q2,…> [sfDir] [explain]`.
  *
  * Runs each named query twice (pass 1 absorbs codegen and JIT) through the
  * [[GraftSession]] session into the `noop` sink, reaping detached blocks
  * after every pass. Each pass prints its wall time, then the jobs that took
  * at least [[JobMinMs]] (with call site — driver loops such as CC rounds
  * and Lloyd fits hide their cost in many small jobs), the stages that took
  * at least [[StageMinMs]], and one line per streaming trigger with its
  * duration breakdown and its first state operator's `numRowsTotal` and
  * `numRowsUpdated`. `explain` prints each query's formatted plan at the
  * end. sfDir defaults to SPARK_GRAFT_SF_DIR. To try a different conf, pass
  * `-Dspark.<key>=<value>` through SPARK_GRAFT_JAVA_OPTS. */
object Profile {
  val JobMinMs = 40L
  val StageMinMs = 200L

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile <q1,q2,...> [sfDir] [explain]"
    require(args.length >= 1 && args.length <= 3 && args.drop(2).forall(_ == "explain"), usage)
    val names = SparkEntry.selectQueries(args(0), "Profile")
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(throw new IllegalArgumentException(s"$usage (or set SPARK_GRAFT_SF_DIR)"))
    val spark = GraftSession.local()

    val lines = new ConcurrentLinkedQueue[String]()
    val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      // the result stage's name is the action's call site ("count at X.scala:N")
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStarts.put(e.jobId, (e.time,
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (t0, site) = jobStarts.getOrDefault(e.jobId, (e.time, "?"))
        val ms = e.time - t0
        if (ms >= JobMinMs) lines.add(f"  job   ${e.jobId}%5d ${ms}%6d ms  $site")
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        if (ms >= StageMinMs) lines.add(f"  stage ${si.stageId}%5d ${ms}%6d ms  " +
          f"tasks=${si.numTasks}%-4d ${si.name.take(90)}")
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(-1L)
        // state size of the first stateful operator (-1 when stateless)
        val st = p.stateOperators.headOption
        lines.add(f"  trigger ${p.batchId}%3d rows=${p.numInputRows}%6d " +
          f"total=${d("triggerExecution")}%5d addBatch=${d("addBatch")}%5d " +
          f"latestOffset=${d("latestOffset")}%4d walCommit=${d("walCommit")}%4d " +
          f"plan=${d("queryPlanning")}%4d commitOffsets=${d("commitOffsets")}%4d ms " +
          f"stateRows=${st.fold(-1L)(_.numRowsTotal)}%d " +
          f"stateUpdated=${st.fold(-1L)(_.numRowsUpdated)}%d")
      }
    })

    for (name <- names; pass <- 1 to 2) {
      lines.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      GraftSqlBridge.awaitListeners(spark)
      println(f"[profile] $name pass $pass ${secs}%.2f s")
      lines.forEach(println(_))
      GraftSession.reapDetached(spark)
    }
    if (args.length == 3)
      names.foreach(n => SparkEntry.queries(n)(spark, sfDir).explain("formatted"))
    spark.stop()
  }
}
