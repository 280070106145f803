package graft

import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import javax.imageio.ImageIO

import graft.operators.Media
import graft.sources.Ingest
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Image ETL (FIXTURES.md §C): zip exploder, extension filter, decode-error
  * skip, resize-with-pad, micro-batch sink. */
class MediaSpec extends SparkSuite with BeforeAndAfterAll {

  private def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // the suite-level archive dir, made on first use and deleted after the
  // last test
  private var zipMade: Option[String] = None
  override def afterAll(): Unit =
    try zipMade.foreach(d => FileUtils.deleteQuietly(new java.io.File(d)))
    finally super.afterAll()

  private lazy val zipDir: String = {
    val dir = Files.createTempDirectory("graft_zip").toString
    zipMade = Some(dir)
    val zos = new ZipOutputStream(new FileOutputStream(s"$dir/part_001.zip"))
    def put(name: String, bytes: Array[Byte]): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(bytes); zos.closeEntry()
    }
    put("img_a.png", png(100, 50, 0xff0000))     // wide red -> vertical padding
    put("img_b.png", png(60, 60, 0x00ff00))      // square green
    put("notes.txt", "not an image".getBytes)    // extension-filtered
    put("broken.jpg", Array[Byte](1, 2, 3, 4))   // corrupt -> decode skip
    zos.close()
    dir
  }

  test("binaryFile scan with pathGlobFilter + zip exploder (S4/S8/§2.12)") {
    val archives = Ingest.binaryFiles(spark, zipDir, "*.zip")
    assert(archives.count() === 1)
    val entries = Media.explodeZips(spark, archives)
    assert(entries.count() === 4)
    val names = entries.collect().map(_.entry).sorted
    assert(names === Array("broken.jpg", "img_a.png", "img_b.png", "notes.txt"))
  }

  test("extension filter + corrupt-image skip (P3 + bad-record semantics)") {
    val archives = Ingest.binaryFiles(spark, zipDir, "*.zip")
    val imgs = Media.filterImages(Media.explodeZips(spark, archives))
    assert(imgs.count() === 3) // txt dropped by extension
    val tensors = Media.imageEtl(spark, archives)
    assert(tensors.count() === 2) // corrupt jpg dropped by decode
  }

  test("resize-with-pad: 3x224x224, [0,1] range, centered content, black pad (F10/F11)") {
    val Some((shape, data)) = Media.decodeResizeTensor(png(100, 50, 0xff0000))
    assert(shape === Array(3, 224, 224))
    assert(data.length === 3 * 224 * 224)
    assert(data.forall(v => v >= 0f && v <= 1f))
    // wide image scaled to 224x112, centered vertically: rows [56, 168) are
    // red (R=1), rows above/below are black padding.
    def at(c: Int, y: Int, x: Int) = data(c * 224 * 224 + y * 224 + x)
    assert(at(0, 112, 112) === 1f && at(1, 112, 112) === 0f) // center: pure red
    assert(at(0, 10, 112) === 0f && at(2, 10, 112) === 0f)   // top pad: black
    assert(at(0, 220, 112) === 0f)                           // bottom pad: black
  }

  test("tensor micro-batch sink bounds records per file (K3)") {
    val out = tempDir("graft_tensors")
    val archives = Ingest.binaryFiles(spark, zipDir, "*.zip")
    Media.writeTensorBatches(Media.imageEtl(spark, archives).repartition(1), out, 1)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 2) // 2 tensors, 1 per file
    val back = spark.read.parquet(out)
    assert(back.count() === 2)
    assert(back.selectExpr("size(data)").distinct().head().getInt(0) === 3 * 224 * 224)
  }

  test("augment: flip is involutive, normalize matches formula, seeded determinism (F12)") {
    val data = Array.tabulate(3 * 4 * 4)(_.toFloat / 48f)
    val shape = Array(3, 4, 4)
    // flip twice = identity
    assert(Media.flipHorizontal(Media.flipHorizontal(data, shape), shape) === data)
    // normalize formula on channel 0
    val norm = Media.normalize(data, shape, Array(0.5f, 0.5f, 0.5f), Array(2f, 2f, 2f))
    assert(math.abs(norm(0) - ((data(0) - 0.5f) / 2f)) < 1e-7)
    // dataset-level: same seed -> identical output, augmented count preserved
    val archives = Ingest.binaryFiles(spark, zipDir, "*.zip")
    val t = Media.imageEtl(spark, archives)
    val a1 = Media.augment(t, seed = 7).collect().sortBy(_.entry)
    val a2 = Media.augment(t, seed = 7).collect().sortBy(_.entry)
    assert(a1.length === 2)
    a1.zip(a2).foreach { case (x, y) => assert(x.data === y.data) }
  }

  test("rotate: 0 deg is identity; 45 deg keeps shape and blacks the corners (F12)") {
    val data = Array.tabulate(3 * 8 * 8)(i => ((i * 13) % 48).toFloat / 48f)
    val shape = Array(3, 8, 8)
    assert(Media.rotate(data, shape, 0.0) === data)
    val r = Media.rotate(data, shape, 45.0)
    assert(r.length === data.length)
    assert(r(0) === 0f) // corner (0,0) maps outside the source -> black
  }

  test("colorJitter: all-1.0 factors are the identity; output stays in [0,1] (F12)") {
    val data = Array.tabulate(3 * 4 * 4)(i => (i % 48).toFloat / 48f)
    val shape = Array(3, 4, 4)
    val id = Media.colorJitter(data, shape, 1.0, 1.0, 1.0)
    data.zip(id).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6) }
    val wild = Media.colorJitter(data, shape, 1.3, 0.7, 1.3)
    assert(wild.forall(v => v >= 0f && v <= 1f))
  }

  test("cropPad: full-frame crop is identity; padding region is zero (F12)") {
    val data = Array.tabulate(3 * 4 * 4)(_.toFloat / 48f)
    val shape = Array(3, 4, 4)
    val (s1, d1) = Media.cropPad(data, shape, 0, 0, 4, 4)
    assert(s1 === shape && d1 === data)
    // pad to 6x6 with the source centered at offset (-1,-1)
    val (s2, d2) = Media.cropPad(data, shape, -1, -1, 6, 6)
    assert(s2 === Array(3, 6, 6))
    assert(d2(0) === 0f)                 // (0,0) is padding
    assert(d2(6 + 1) === data(0))        // (1,1) is source (0,0)
    assert(d2.count(_ != 0f) === data.count(_ != 0f))
  }

  test("gaussianBlur3: constant image is a fixed point; mass is preserved on interior (F12)") {
    val const = Array.fill(3 * 5 * 5)(0.42f)
    val shape = Array(3, 5, 5)
    val b = Media.gaussianBlur3(const, shape, 1.0)
    b.foreach(v => assert(math.abs(v - 0.42f) < 1e-6))
    // a blurred impulse keeps its total mass (kernel is normalized)
    val impulse = new Array[Float](25)
    impulse(12) = 1f // center of 5x5, single channel
    val bi = Media.gaussianBlur3(impulse, Array(1, 5, 5), 0.8)
    assert(math.abs(bi.sum - 1f) < 1e-5)
  }

  test("erase zeroes exactly the rectangle (F12)") {
    val data = Array.fill(2 * 4 * 4)(1f)
    val out = Media.erase(data, Array(2, 4, 4), 1, 2, 2, 2)
    val zeroed = out.zipWithIndex.filter(_._1 == 0f).map(_._2).toSet
    val expected = (for (c <- 0 to 1; y <- 1 to 2; x <- 2 to 3) yield c * 16 + y * 4 + x).toSet
    assert(zeroed === expected)
  }

  test("augmentFull: deterministic per seed, shape pinned to crop size, seeds diverge (F12)") {
    val archives = Ingest.binaryFiles(spark, zipDir, "*.zip")
    val t = Media.imageEtl(spark, archives)
    val a1 = Media.augmentFull(t, seed = 7, cropSize = 64).collect().sortBy(_.entry)
    val a2 = Media.augmentFull(t, seed = 7, cropSize = 64).collect().sortBy(_.entry)
    val b = Media.augmentFull(t, seed = 8, cropSize = 64).collect().sortBy(_.entry)
    assert(a1.length === 2)
    a1.foreach(x => assert(x.shape === Array(3, 64, 64)))
    a1.zip(a2).foreach { case (x, y) => assert(x.data === y.data) } // replay-idempotent
    assert(a1.zip(b).exists { case (x, y) => !(x.data sameElements y.data) })
  }

  test("listFiles returns sorted (path, length, mtime) rows (S8/O1)") {
    val listed = Ingest.listFiles(spark, zipDir, "*.zip").collect()
    assert(listed.length === 1)
    assert(listed(0).getString(0).endsWith("part_001.zip"))
    assert(listed(0).getLong(1) > 0)
  }

  test("roundTrip write-reload verification returns the persisted frame (§5.1)") {
    val dir = tempDir("graft_rt") + "/rt"
    val df = spark.range(0, 100).toDF("n")
    val back = graft.operators.Audit.roundTrip(spark, df, dir)
    assert(back.count() === 100)
    assert(back.schema.fieldNames === Array("n"))
  }

  /** In-test animated GIF: one solid-color full frame per entry in `colors`,
    * written with the JDK GIF writer's sequence API. */
  private def animatedGif(colors: Seq[java.awt.Color], w: Int, h: Int): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      colors.foreach { c =>
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        try { g.setColor(c); g.fillRect(0, 0, w, h) } finally g.dispose()
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    baos.toByteArray
  }

  test("sampleFrames: real animated-GIF decode, stride grid, tensor round-trip") {
    import spark.implicits._
    import java.awt.Color
    val colors = Seq(Color.RED, Color.GREEN, Color.BLUE,
      Color.YELLOW, Color.CYAN, Color.MAGENTA)
    val gif = animatedGif(colors, 64, 48)
    val vids = Seq(
      ("anim.gif", gif),
      ("bad.bin", Array.fill[Byte](256)(7)),       // undecodable -> skipped
      ("nul.gif", null.asInstanceOf[Array[Byte]])  // null payload -> skipped
    ).toDF("path", "content")
    val out = Media.sampleFrames(vids, "path", "content", 3)
      .collect().map(v => v.path -> v).toMap
    assert(out.keySet === Set("anim.gif")) // bad-record skip, real rows only
    val v = out("anim.gif")
    assert(v.total_frames === 6)
    assert(v.frame_indices === Array(0, 2, 4)) // uniform stride, first kept
    assert(v.frames.length === 3)
    // each sampled frame is a REAL image: PNG-decodable, right dims, and the
    // pixel content is the source frame's color (not a digest)
    v.frame_indices.zip(v.frames).foreach { case (fi, bytes) =>
      val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth === 64 && img.getHeight === 48)
      assert((img.getRGB(32, 24) & 0xffffff) === (colors(fi).getRGB & 0xffffff))
    }
    // and it feeds the existing image kernels unchanged: 224x224 CHW tensor
    val Some((shape, data)) = Media.decodeResizeTensor(v.frames(1), 224)
    assert(shape === Array(3, 224, 224))
    val center = 112 * 224 + 112 // frames(1) = container frame 2 = solid BLUE
    assert(data(center) < 0.1f)                     // R plane
    assert(data(224 * 224 + center) < 0.1f)         // G plane
    assert(data(2 * 224 * 224 + center) > 0.9f)     // B plane
    // nFrames > total clamps to every frame in order
    val all = Media.sampleFrames(vids, "path", "content", 10)
      .collect().map(v2 => v2.path -> v2).toMap
    assert(all("anim.gif").frame_indices === (0 until 6).toArray)
  }

  /** In-test JPEG: one solid-color frame, JDK encoder. */
  private def jpegBytes(c: java.awt.Color, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try { g.setColor(c); g.fillRect(0, 0, w, h) } finally g.dispose()
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }

  test("sampleFrames: MJPEG (concatenated JPEGs) decode, stride grid, tensor round-trip") {
    import spark.implicits._
    import java.awt.Color
    val colors = Seq(Color.RED, Color.GREEN, Color.BLUE, Color.YELLOW, Color.CYAN)
    val frames = colors.map(jpegBytes(_, 64, 48))
    val mjpeg = frames.reduce(_ ++ _)
    // segment walk finds every frame boundary, in order, covering the stream
    val slices = Media.mjpegSlices(mjpeg)
    assert(slices.length === 5)
    assert(slices.head._1 === 0 && slices.last._2 === mjpeg.length)
    // a single JPEG is NOT treated as a video by the walk's caller contract
    assert(Media.mjpegSlices(frames.head).length === 1)
    // a truncated tail frame is dropped, completed frames survive
    assert(Media.mjpegSlices(mjpeg.dropRight(10)).length === 4)
    // a frame that LOST ITS EOI must not swallow the frames after it: the
    // walk hits the next frame's SOI, marks the broken frame corrupt, and
    // resyncs — salvaging the remaining intact frames
    val headless = frames.head.dropRight(2) ++ frames(1) ++ frames(2)
    val salvaged = Media.mjpegSlices(headless)
    assert(salvaged.length === 2)
    assert(salvaged.head._1 === frames.head.length - 2) // frame2 starts after broken frame1

    val vids = Seq(("cam.mjpeg", mjpeg)).toDF("path", "content")
    val v = Media.sampleFrames(vids, "path", "content", 3).collect().head
    assert(v.total_frames === 5)
    assert(v.frame_indices === Array(0, 1, 3)) // uniform stride, first kept
    assert(v.frames.length === 3)
    // each sampled frame is a REAL decoded image with the source frame's
    // dominant color (JPEG is lossy — check channel dominance, not equality)
    v.frame_indices.zip(v.frames).foreach { case (fi, bytes) =>
      val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth === 64 && img.getHeight === 48)
      val rgb = img.getRGB(32, 24)
      val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
      val want = colors(fi)
      assert(math.abs(r - want.getRed) < 40 && math.abs(g - want.getGreen) < 40 &&
        math.abs(b - want.getBlue) < 40, s"frame $fi color off: ($r,$g,$b) vs $want")
    }
    // sampled frames feed the image kernels unchanged: 224x224 CHW tensor
    val Some((shape, data)) = Media.decodeResizeTensor(v.frames(2), 224)
    assert(shape === Array(3, 224, 224))
    val center = 112 * 224 + 112 // frames(2) = container frame 3 = YELLOW
    assert(data(center) > 0.8f)                     // R plane
    assert(data(224 * 224 + center) > 0.8f)         // G plane
    assert(data(2 * 224 * 224 + center) < 0.2f)     // B plane
    // a single JPEG still routes through the generic ImageIO branch
    val one = Seq(("still.jpg", frames.head)).toDF("path", "content")
    assert(Media.sampleFrames(one, "path", "content", 3)
      .collect().head.total_frames === 1)
  }

  test("sampleFrames: AVI-wrapped MJPEG decodes; recognized non-decodable containers fail loudly") {
    import java.awt.Color
    val frames = Seq(Color.RED, Color.GREEN, Color.BLUE).map(jpegBytes(_, 32, 32))
    // minimal RIFF/AVI wrapper: header + JPEG frames as raw chunk payloads
    // (the walk finds SOI at any offset; chunk bookkeeping is irrelevant)
    def ascii(s: String) = s.getBytes("US-ASCII")
    val avi = ascii("RIFF") ++ Array[Byte](0, 0, 0, 0) ++ ascii("AVI ") ++
      frames.flatMap(f => ascii("00dc") ++ Array[Byte](0, 0, 0, 0) ++ f)
    val Some((total, idx, sampled)) = Media.decodeFrames(avi, 2)
    assert(total === 3 && idx === Array(0, 1) && sampled.length === 2)
    // recognized containers with no decodable frames: LOUD error naming
    // the container (not a silent bad-record skip)
    val mp4 = Array[Byte](0, 0, 0, 24) ++ ascii("ftyp") ++ ascii("isom") ++
      new Array[Byte](16)
    val mp4Err = intercept[IllegalArgumentException](Media.decodeFrames(mp4, 2))
    assert(mp4Err.getMessage.contains("ISO-BMFF/MP4") &&
      mp4Err.getMessage.contains("isom") && mp4Err.getMessage.contains("ffmpeg"))
    val mkv = Array(0x1A, 0x45, 0xDF, 0xA3).map(_.toByte) ++ new Array[Byte](32)
    assert(intercept[IllegalArgumentException](Media.decodeFrames(mkv, 2))
      .getMessage.contains("Matroska/WebM"))
    val emptyAvi = ascii("RIFF") ++ Array[Byte](0, 0, 0, 0) ++ ascii("AVI ") ++
      new Array[Byte](64)
    assert(intercept[IllegalArgumentException](Media.decodeFrames(emptyAvi, 2))
      .getMessage.contains("non-MJPEG"))
    // unrecognizable junk remains a corrupt-record SKIP, not an error
    assert(Media.decodeFrames(Array.fill[Byte](64)(0x42), 2).isEmpty)
  }

  test("deleteConsumed removes ingested archives (K5)") {
    val dir = tempDir("graft_gc")
    val f = new java.io.File(s"$dir/done.zip")
    Files.write(f.toPath, Array[Byte](80, 75, 5, 6))
    assert(f.exists())
    Media.deleteConsumed(spark, Seq(f.getAbsolutePath))
    assert(!f.exists())
  }

  test("syntheticImage dHash margins hold for every q192 pattern pair") {
    // q192's oracle states pairs as a pure id relation (same pattern),
    // which is only valid if EVERY within-pattern re-encode lands within
    // the banded radius (<= 3 bits) and EVERY cross-pattern pair lands
    // well outside it. Pin both margins over the full 16-pattern set so a
    // generator tweak that erodes them fails here, not in the oracle gate.
    def hamming(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    val hashes = (0 until 16).map { p =>
      val hp = Media.dHash64(Media.syntheticImage(p, "png")).get
      val hj = Media.dHash64(Media.syntheticImage(p, "jpg")).get
      (p, hp, hj)
    }
    for ((p, hp, hj) <- hashes)
      assert(hamming(hp, hj) <= 3,
        s"pattern $p: png-vs-jpg re-encode distance ${hamming(hp, hj)} > 3")
    for ((p, hp, _) <- hashes; (q, hq, hqj) <- hashes if p < q) {
      assert(hamming(hp, hq) > 3,
        s"patterns $p/$q: png-png distance ${hamming(hp, hq)} <= 3")
      assert(hamming(hp, hqj) > 3,
        s"patterns $p/$q: png-jpg distance ${hamming(hp, hqj)} <= 3")
    }
    // byte-determinism: re-rendering is bit-identical (what lets the
    // driver hash-compare q192 across runs)
    assert(java.util.Arrays.equals(Media.syntheticImage(5, "png"),
      Media.syntheticImage(5, "png")))
    assert(java.util.Arrays.equals(Media.syntheticImage(5, "jpg"),
      Media.syntheticImage(5, "jpg")))
  }

  test("image dHash: re-encode-invariant, distinct images far, banded pairs find the dup") {
    import spark.implicits._
    // a smooth high-contrast wave over a gradient: non-degenerate hash
    // (a bare gradient is all-ones) with adjacent dHash boxes differing
    // by tens of gray levels, so JPEG's ~±2 quantization noise cannot
    // flip comparisons — the property the kernel claims for mild
    // re-encodes, not robustness to arbitrary busy textures
    def textured(w: Int, h: Int, invert: Boolean): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) {
        val base = if (invert) 255 - x * 255 / w else x * 255 / w
        // the "other" image gets a different wave frequency and phase —
        // a genuinely different picture, not a brightness tweak
        val wave = (math.sin(if (invert) x / 5.0 + 2.0 else x / 9.0) * 55).toInt
        val v = math.min(255, math.max(0, base / 3 + 80 + wave + y * 16 / h))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def enc(img: BufferedImage, fmt: String): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val a = textured(96, 64, invert = false)
    val hPng = Media.dHash64(enc(a, "png")).get
    val hJpg = Media.dHash64(enc(a, "jpg")).get
    val hInv = Media.dHash64(enc(textured(96, 64, invert = true), "png")).get
    def hamming(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(hamming(hPng, hJpg) <= 3,
      s"PNG vs JPEG re-encode must be near: ${hamming(hPng, hJpg)}")
    assert(hamming(hPng, hInv) > 10,
      s"inverted image must be far: ${hamming(hPng, hInv)}")
    // corrupt bytes -> None, never a throw
    assert(Media.dHash64(Array[Byte](1, 2, 3)).isEmpty)
    // the IMAGE arm of the dedup ladder: dHash frame -> banded pairs
    val hashes = Seq(("z", "a.png", hPng), ("z", "a.jpg", hJpg),
      ("z", "other.png", hInv)).toDF("archive", "entry", "dhash")
      .select(concat_ws("/", col("archive"), col("entry")).as("id"), col("dhash"))
    val pairs = graft.operators.Dedup
      .hammingNearDupPairs64(hashes, "id", "dhash", maxHamming = 3)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(pairs === Set(("z/a.jpg", "z/a.png")),
      s"exactly the re-encode pair must surface: $pairs")
  }

  test("imageDims sniffs real encoder headers without decoding; imageAudit gates") {
    import spark.implicits._
    // all four container sniffers against REAL ImageIO encoder output,
    // at dims exercising both byte orders and multi-byte widths
    for (fmt <- Seq("png", "jpg", "gif", "bmp"); (w, h) <- Seq((96, 64), (300, 125), (31, 400))) {
      val want = if (fmt == "jpg") "jpeg" else fmt
      assert(Media.imageDims(Media.syntheticImage(3, fmt, w, h)) === Some((want, w, h)),
        s"$fmt ${w}x$h")
    }
    // garbage, text, and a JPEG truncated before its frame header
    assert(Media.imageDims(Array[Byte](1, 2, 3)) === None)
    assert(Media.imageDims("not an image at all".getBytes("UTF-8")) === None)
    assert(Media.imageDims(Media.syntheticImage(1, "jpg", 64, 64).take(8)) === None)
    // OS/2 BITMAPCOREHEADER BMP: 12-byte DIB header, u16 dims at 18/20 —
    // the layout the INFOHEADER offsets would misread as garbage dims
    val os2 = new Array[Byte](26)
    os2(0) = 'B'; os2(1) = 'M'
    os2(14) = 12 // DIB header size
    os2(18) = 100; os2(19) = 0 // width u16 LE
    os2(20) = 100; os2(21) = 0 // height u16 LE
    assert(Media.imageDims(os2) === Some(("bmp", 100, 100)))
    // unknown DIB header size: refuse rather than fabricate dimensions
    val badHs = os2.clone(); badHs(14) = (200 & 0xFF).toByte
    assert(Media.imageDims(badHs) === None)
    // PNG signature whose first chunk is NOT IHDR: offsets 16/20 would be
    // fabricated dims — refuse (the DIB-size lesson, on the PNG arm)
    val fakePng = Media.syntheticImage(0, "png", 96, 64).clone()
    fakePng(12) = 'i'.toByte // corrupt the chunk type
    assert(Media.imageDims(fakePng) === None)
    // GIF magic with an unpublished version: the screen descriptor layout
    // is not guaranteed — refuse
    val fakeGif = Media.syntheticImage(0, "gif", 96, 64).clone()
    fakeGif(4) = '6'.toByte // "GIF86a" never existed
    assert(Media.imageDims(fakeGif) === None)
    // a valid JPEG cut immediately after its SOF payload: the frame
    // header is fully readable even though fewer than 9 bytes follow it —
    // the tight-buffer case the old uniform loop bound refused
    val jb = Media.syntheticImage(2, "jpg", 96, 64)
    val sof = {
      var i = 2
      var at = -1
      while (at < 0) {
        val m = jb(i + 1) & 0xFF
        if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) at = i
        else i += 2 + (((jb(i + 2) & 0xFF) << 8) | (jb(i + 3) & 0xFF))
      }
      at
    }
    assert(Media.imageDims(jb.take(sof + 9)) === Some(("jpeg", 96, 64)),
      "SOF in the last 9 bytes of a tight buffer must still parse")
    // and one byte short of the SOF payload refuses rather than misreads
    assert(Media.imageDims(jb.take(sof + 8)) === None)
    // the audit's four verdict classes
    val entries = Seq(
      Media.ZipEntryRow("a", "ok.png", Media.syntheticImage(0, "png", 300, 200)),
      Media.ZipEntryRow("a", "small.png", Media.syntheticImage(1, "png", 100, 300)),
      Media.ZipEntryRow("a", "wide.png", Media.syntheticImage(2, "png", 600, 200)),
      Media.ZipEntryRow("a", "junk.bin", Array[Byte](9, 9, 9))).toDS()
    val out = Media.imageAudit(entries, minDim = 128, maxAspect = 2.0)
      .collect().map(r => r.getString(1) ->
        ((r.getAs[Boolean]("keep"), r.getAs[String]("reject_reason")))).toMap
    assert(out("ok.png") === ((true, null)))
    assert(out("small.png") === ((false, "small+aspect"))) // 100 < 128 AND 3.0 > 2
    assert(out("wide.png") === ((false, "aspect")))
    assert(out("junk.bin") === ((false, "undecodable")))
  }
}
