package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.SparkSession

/** Object-store wiring. The reference is S3-native end to end — it reads
  * the metadata CSV from a bucket (Image_Train_Model/read_csv_s3_train
  * .py:121), streams image zips from a bucket (process_test_train_Images
  * .py:34-46), and multipart-uploads results back (split and upload/
  * Upload_Zip_S3.py:15-24). In this engine every source/sink takes a
  * Hadoop FileSystem URI, so the SAME code paths serve `file://`,
  * `hdfs://`, and `s3a://` — what changes per store is CONFIGURATION,
  * which this object centralizes:
  *
  *  - [[s3aProductionConf]] — the settings that matter at 100 TB against
  *    real S3 (committer choice, multipart sizing, connection pool).
  *  - [[S3StubFileSystem]] + [[installStub]] — a URI-faithful local
  *    stand-in registered under its own non-`file` scheme, so tests prove
  *    the sources/sinks resolve a remote-style `scheme://bucket/key` URI
  *    through Hadoop's FileSystem machinery without any network
  *    (IngestStreamingSpec "object-store URIs" case).
  */
object ObjectStore {

  /** The s3a settings a production deployment sets (all public Hadoop-AWS
    * documentation; values are the widely recommended starting points):
    *
    *  - `fs.s3a.committer.name=magic` — the S3A "magic" committer commits
    *    task output via multipart-upload completion instead of
    *    rename-after-write; S3 has no atomic rename, so the default
    *    FileOutputCommitter v1/v2 is both slow (copy) and unsafe
    *    (visible partial output) there. This replaces the reference's
    *    hand-rolled buffered `upload_fileobj` (K2).
    *  - `fs.s3a.multipart.size=128M` / `fs.s3a.fast.upload=true` — stream
    *    each task's output in 128 MB parts while it is still being
    *    produced (the tqdm-progress upload loop, subsumed).
    *  - `fs.s3a.connection.maximum=96` — executor-side connection pool;
    *    must exceed cores-per-executor x active streams or tasks block on
    *    pool checkout, which shows up as mysterious scan stalls.
    *  - `fs.s3a.block.size=128M` — the split size the FileScan planner
    *    sees; aligns S3 range-GETs with `files.maxPartitionBytes`.
    *
    * Returned as a map so callers can apply it to a session builder
    * (`spark.hadoop.` prefix) or an existing hadoopConfiguration. */
  def s3aProductionConf: Map[String, String] = Map(
    "fs.s3a.committer.name" -> "magic",
    "fs.s3a.multipart.size" -> "134217728",
    "fs.s3a.fast.upload" -> "true",
    "fs.s3a.connection.maximum" -> "96",
    "fs.s3a.block.size" -> "134217728")

  /** Scheme of the offline stand-in store. */
  val StubScheme = "s3stub"

  /** Register [[S3StubFileSystem]] on a live session so
    * `s3stub://<bucket>/<abs-path>` URIs resolve — the no-egress twin of
    * setting `fs.s3a.impl`. Keys land in hadoopConfiguration, the same
    * place a real deployment's `spark.hadoop.fs.s3a.*` keys land. */
  def installStub(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$StubScheme.impl", classOf[S3StubFileSystem].getName)
    // one FileSystem instance per (scheme, authority) is Hadoop's default
    // cache behavior; nothing else to configure for the stub
  }

  /** `s3stub://bucket/localdir` for a local staging dir — the key (path
    * part) of a stub URI IS the local absolute path, mirroring how an S3
    * key maps to an object. */
  def stubUri(bucket: String, localAbsPath: String): String = {
    require(localAbsPath.startsWith("/"), s"need an absolute path, got $localAbsPath")
    s"$StubScheme://$bucket$localAbsPath"
  }
}

/** A Hadoop FileSystem that serves `s3stub://bucket/key` URIs from the
  * local disk (key = absolute local path). Extends [[RawLocalFileSystem]]
  * — no client-side checksums, like a real object store — and overrides
  * only the identity methods, so every operation (open, create, listing,
  * glob, rename, delete) exercises the EXACT code Hadoop runs for any
  * remote store: `checkPath` scheme/authority validation, qualified-path
  * construction, FileSystem-cache keying by (scheme, authority).
  *
  * Test-grade by design: it proves URI plumbing, not S3 semantics
  * (atomic rename, eventual consistency, multipart). Production uses the
  * real `s3a` connector with [[ObjectStore.s3aProductionConf]]. */
class S3StubFileSystem extends RawLocalFileSystem {
  // the RawLocalFileSystem constructor calls getWorkingDirectory before
  // Scala field initializers run — getUri must be null-safe, not eager
  private var stubUri: URI = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    val auth = Option(name.getAuthority).getOrElse("")
    stubUri = URI.create(s"${name.getScheme}://$auth/")
  }

  override def getUri: URI =
    if (stubUri == null) URI.create(s"${ObjectStore.StubScheme}:///") else stubUri

  override def getScheme: String = ObjectStore.StubScheme

  /** Relative paths qualify against the bucket root, not the process CWD
    * (RawLocalFileSystem's default) — object stores have no CWD. */
  override def getWorkingDirectory: org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(getUri.toString)

  override def setWorkingDirectory(dir: org.apache.hadoop.fs.Path): Unit = ()
}
