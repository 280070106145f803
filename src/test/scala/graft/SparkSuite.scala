package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  private val scratch = scala.collection.mutable.Buffer.empty[File]

  /** A fresh temp dir, deleted with everything under it when the test that
    * made it ends, pass or fail. */
  def tempDir(prefix: String): String = deleteAfterTest(Files.createTempDirectory(prefix).toFile)

  /** Deletes `f` (a dir, with everything under it) when the running test
    * ends; for dirs a test makes the main code write, such as caches. */
  def deleteAfterTest(f: File): String = { scratch += f; f.getPath }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally { scratch.foreach(FileUtils.deleteQuietly); scratch.clear() }
}
