package graft.tools

import graft.{GraftSession, SparkEntry}

import scala.util.control.NonFatal

/** Scan query physical plans for scale red flags: `PlanLint [q1,q2,…]`
  * (default: every query). Exits 1 when any query fails to build. */
object PlanLint {
  // SinglePartition exchanges are the global-sort/window smell: every row
  // funnels through one task. (The deterministic final ORDER BY each query
  // ends in is range-partitioned, not single-partition, so it never trips
  // this.)
  val RedFlags = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
    "Exchange SinglePartition")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.headOption.map(SparkEntry.selectQueries(_, "PlanLint"))
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = GraftSession.local()
    val failed = names.filterNot { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString()
        val hits = RedFlags.filter(plan.contains)
        val exchanges = "Exchange".r.findAllIn(plan).length
        val scans = "Scan parquet".r.findAllIn(plan).length
        val flag = if (hits.nonEmpty) s"  <<< ${hits.mkString(",")}" else ""
        println(f"[lint] $name%-22s scans=$scans%-3d exchanges=$exchanges%-3d$flag")
        true
      } catch { case NonFatal(e) =>
        println(s"[lint] $name ERROR ${e.getMessage}")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[lint] ${failed.size} queries failed to build: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
