package graft.tools

import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import javax.imageio.ImageIO

import graft.operators.Media
import graft.sources.Ingest
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** End-to-end drive of the image-ETL + streaming paths through the public
  * API: synthesize a zip of PNGs (+ junk + corrupt entry), scan with
  * binaryFile+glob, explode/decode/resize, sink micro-batches, read back;
  * then drain a watermarked streaming aggregate. Mirrors the reference's
  * process_test_train_Images.py flow on synthetic input. */
object MediaDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()

    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
      val out = new ByteArrayOutputStream(); ImageIO.write(img, "png", out); out.toByteArray
    }
    val dir = Files.createTempDirectory("mediademo").toString
    val zos = new ZipOutputStream(new FileOutputStream(s"$dir/part_001.zip"))
    Seq("a.png" -> png(320, 200, 0x2244ff), "b.png" -> png(64, 64, 0x00ff00),
      "junk.txt" -> "x".getBytes, "bad.jpg" -> Array[Byte](9, 9)).foreach { case (n, b) =>
      zos.putNextEntry(new ZipEntry(n)); zos.write(b); zos.closeEntry()
    }
    zos.close()

    val archives = Ingest.binaryFiles(spark, dir, "*.zip")
    val tensors = Media.imageEtl(spark, archives)
    val out = s"$dir/tensors"
    Media.writeTensorBatches(tensors, out, batchSize = 1)
    val back = spark.read.parquet(out)
    println(s"[demo] tensors=${back.count()} files=" +
      new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")))
    back.selectExpr("entry", "shape", "size(data) AS n", "round(data[0], 3) AS r0")
      .orderBy("entry").show(false)

    // streaming: drain the events table shape through a watermarked window
    import spark.implicits._
    val evDir = s"$dir/events"
    Seq(("2024-01-01 00:05:00", "click", 1.0), ("2024-01-01 00:45:00", "click", 2.0),
      ("2024-01-01 01:05:00", "view", 3.0))
      .toDF("ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .write.parquet(evDir)
    val stream = EventStreams.readFileStream(spark, evDir,
      spark.read.parquet(evDir).schema)
    EventStreams.drainToMemory(
      EventStreams.windowedCounts(stream, "ts", "1 hour"), "demo_win", "complete")
    spark.table("demo_win")
      .select(col("window.start").as("w"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("w", "event_type").show(false)
    spark.stop()
  }
}
