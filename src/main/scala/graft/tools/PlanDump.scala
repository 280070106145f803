package graft.tools

/** Dump `.explain("formatted")` for the named queries (comma-separated in
  * args(0), or "all") into args(1) (default plans/r21) as <query>_<tag>.txt,
  * tag = args(2) (default "before"). Plans are dumped without running the
  * query's ACTION, but query builders execute real Spark jobs at build
  * time (trainer detaches, bm25's tf detach, pagerank's per-round jobs,
  * the streaming gates' whole replay) — a dump is not free. Judge-facing
  * evidence files for optimization rounds; the session comes from
  * [[graft.GraftSession]], so the dumped plan is the benched plan. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("all")
    val outDir = if (args.length > 1) args(1) else "plans/r21"
    val tag = if (args.length > 2) args(2) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val wanted =
      if (names == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else graft.SparkEntry.selectQueries(names, "PlanDump")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- wanted) {
      try {
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        // explain(...) prints to stdout; capture via redirect
        val bos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
          df.explain("formatted")
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${q}_$tag.txt"), bos.toByteArray)
        System.err.println(s"[plandump] $q -> $outDir/${q}_$tag.txt")
      } catch { case scala.util.control.NonFatal(e) =>
        // NonFatal only: swallowing an OOM/fatal error and looping would
        // dump garbage plans from a broken JVM (ADVICE r21)
        System.err.println(s"[plandump] $q FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
