package graft.sources

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

/** Split-layout normalization for monolithic parquet inputs — the local
  * form of the small-files/ingest compaction every production lake runs.
  *
  * A parquet file is only parallelizable at ROW GROUP boundaries: a
  * single-row-group file is read by exactly one task no matter how many
  * byte-range splits the scan plans, so every narrow stage above it —
  * which is where this engine's fused text/vector kernels run — executes
  * on one core. That is purely a LAYOUT property, not a data-size one:
  * the same rows written as ~`defaultParallelism` files scan at full
  * width with byte-identical content. At production scale inputs arrive
  * as thousands of files/row groups and this pass is a no-op (the
  * single-file check below); the testdata snapshots are one
  * single-row-group file per table, which would serialize stage 1 of
  * every query on ANY engine.
  *
  * `normalized(path)` returns a path whose scan parallelizes: the
  * original when it is already multi-file or too small to matter, else a
  * one-time per-machine cached rewrite (same rows, same schema, same
  * order — a single-task sequential write cut by `maxRecordsPerFile`,
  * so the cache content is deterministic). The cache key includes the
  * source's length and mtime, so a regenerated snapshot invalidates
  * automatically, and the file count, so a run at one core count never
  * fixes the scan width of a later run at another. Correctness is
  * externally audited: the DuckDB oracle reads the ORIGINAL files, so any
  * row lost or duplicated by the rewrite fails every hash check.
  *
  * Disable with SPARK_GRAFT_SPLIT_CACHE=0.
  */
object SplitLayout {

  /** Sources below this size stay monolithic — a sub-128-KB table's
    * single-task scan is cheaper than any extra file handling. */
  private val MinBytes = 128L * 1024

  def normalized(spark: SparkSession, path: String): String = {
    if (sys.env.get("SPARK_GRAFT_SPLIT_CACHE").contains("0")) return path
    val src = new File(path)
    // only monolithic single-file sources qualify; directories are already
    // multi-file (or someone else's layout decision)
    if (!src.isFile || src.length() < MinBytes) return path
    val files = spark.sparkContext.defaultParallelism.max(2)
    val cache = cacheDir(path, files)
    if (!new File(cache, "_SUCCESS").exists()) rewrite(spark, path, files, cache)
    cache.getPath
  }

  /** Where the `files`-way rewrite of `path` is cached. */
  private[graft] def cacheDir(path: String, files: Int): File = {
    val src = new File(path)
    new File(System.getProperty("java.io.tmpdir"),
      s"graft_split_${digest(s"$path|${src.length()}|${src.lastModified()}|$files")}")
  }

  /** First 8 bytes of the key's SHA-1, hex — a `/tmp` cache dir suffix. */
  private[graft] def digest(key: String): String =
    MessageDigest.getInstance("SHA-1").digest(key.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  private def rewrite(spark: SparkSession, path: String, files: Int,
                      cache: File): Unit = synchronized {
    if (new File(cache, "_SUCCESS").exists()) return // lost the race, fine
    val raw = spark.read.parquet(path)
    val n = raw.count() // metadata-only: no filters, no projection
    val perFile = Math.max(1L, (n + files - 1) / files)
    val tmp = new File(cache.getParent, s"${cache.getName}.tmp.${ProcessHandle.current().pid()}")
    raw.write.mode("overwrite")
      .option("maxRecordsPerFile", perFile)
      .parquet(tmp.getPath)
    if (!tmp.renameTo(cache)) {
      // concurrent writer won the rename; keep theirs, drop ours
      def rm(f: File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(tmp)
      require(new File(cache, "_SUCCESS").exists(),
        s"SplitLayout: cache rename failed and no winner exists at $cache")
    }
  }
}
