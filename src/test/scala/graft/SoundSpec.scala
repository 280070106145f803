package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import graft.operators.{Dedup, Sound}
import org.apache.spark.sql.functions._

/** Audio modality: pure-JVM WAV/PCM decode, energy-contour fingerprint,
  * per-file audit, and the compressed-format loud-error contract. */
class SoundSpec extends SparkSuite {
  import spark.implicits._

  /** Hand-assemble a RIFF/WAVE file: 16-bit PCM, interleaved channels. */
  private def wav16(rate: Int, channels: Array[Array[Double]]): Array[Byte] = {
    val nCh = channels.length
    val nFrames = channels.head.length
    val dataLen = nFrames * nCh * 2
    val out = new ByteArrayOutputStream(44 + dataLen)
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >> 16) & 0xffff) }
    out.write("RIFF".getBytes); w32(36 + dataLen); out.write("WAVE".getBytes)
    out.write("fmt ".getBytes); w32(16)
    w16(1); w16(nCh); w32(rate); w32(rate * nCh * 2); w16(nCh * 2); w16(16)
    out.write("data".getBytes); w32(dataLen)
    for (f <- 0 until nFrames; c <- 0 until nCh) {
      val v = math.max(-1.0, math.min(1.0, channels(c)(f)))
      w16(math.round(v * 32767).toInt & 0xffff)
    }
    out.toByteArray
  }

  /** An amplitude-stepped tone: N segments with distinct levels — a
    * deterministic "melody" for the energy contour. */
  private def stepped(rate: Int, secs: Double, levels: Seq[Double],
                      freq: Double = 440.0): Array[Double] = {
    val n = (rate * secs).toInt
    Array.tabulate(n) { i =>
      val seg = math.min(levels.length - 1, i * levels.length / n)
      levels(seg) * math.sin(2 * math.Pi * freq * i / rate)
    }
  }

  test("syntheticWav energy-hash margins hold for every q194 pattern pair") {
    // q194's oracle states pairs as a pure id relation (same pattern) —
    // valid only if every rendering of a pattern (any rate, any gain)
    // lands within the banded radius and every cross-pattern pair lands
    // well outside it. Pin both margins over the full 16-pattern x
    // 4-rendering grid, plus byte-determinism (what lets the driver
    // hash-compare across runs).
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    val renders = Seq((8000, 1.0), (16000, 1.0), (8000, 0.5), (11025, 0.8))
    def hash(p: Int, rate: Int, gain: Double): Long =
      Sound.energyHash64(
        Sound.decodeWavPcm(Sound.syntheticWav(p, rate, gain)).get.mono).get
    val grid = (0 until 16).map(p => p -> renders.map { case (r, g) => hash(p, r, g) })
    for ((p, hs) <- grid; h <- hs.tail)
      assert(ham(hs.head, h) <= 3,
        s"pattern $p: rendering distance ${ham(hs.head, h)} > 3")
    for ((p, hp) <- grid; (q, hq) <- grid if p < q; a <- hp; b <- hq)
      assert(ham(a, b) > 3, s"patterns $p/$q too close: ${ham(a, b)}")
    assert(java.util.Arrays.equals(Sound.syntheticWav(7, 8000, 1.0),
      Sound.syntheticWav(7, 8000, 1.0)))
  }

  test("decodeWavPcm: 16-bit mono/stereo round-trip, sine RMS and ZCR as theory") {
    val rate = 8000
    val sine = Array.tabulate(8000)(i => 0.5 * math.sin(2 * math.Pi * 440 * i / rate))
    val mono = Sound.decodeWavPcm(wav16(rate, Array(sine))).get
    assert(mono.sampleRate === rate && mono.nChannels === 1)
    assert(mono.mono.length === 8000)
    // decoded samples match the synthesized signal to 16-bit quantization
    assert(mono.mono.zip(sine).forall { case (a, b) => math.abs(a - b) < 2e-4 })
    // stereo: L = sine, R = -sine -> mono mixdown ~ 0
    val stereo = Sound.decodeWavPcm(
      wav16(rate, Array(sine, sine.map(-_)))).get
    assert(stereo.nChannels === 2)
    assert(stereo.mono.forall(v => math.abs(v) < 2e-4))
    // audit stats land on theory: RMS = a/sqrt(2), ZCR = 2f per second
    val dir = tempDir("graft_wav")
    Files.write(java.nio.file.Paths.get(s"$dir/tone.wav"), wav16(rate, Array(sine)))
    val audit = Sound.audioAudit(
      graft.sources.Ingest.binaryFiles(spark, dir, "*.wav")).head()
    assert(audit.getAs[Int]("sample_rate") === rate)
    assert(math.abs(audit.getAs[Double]("duration_s") - 1.0) < 1e-9)
    assert(math.abs(audit.getAs[Double]("rms") - 0.5 / math.sqrt(2)) < 1e-3)
    assert(math.abs(audit.getAs[Double]("zcr_per_s") - 880.0) < 5.0)
    assert(audit.getAs[Double]("clip_frac") === 0.0)
  }

  test("energyHash64: gain- and sample-rate-invariant; different melodies far") {
    // 65 distinct levels, one per hash window, with large adjacent gaps
    // (multiplicative stepping mod 65) so no window comparison is a
    // near-tie a resample could flip
    val levelsA = (0 until 65).map(i => 0.15 + 0.8 * ((i * 29) % 65) / 65.0)
    val levelsB = (0 until 65).map(i => 0.15 + 0.8 * ((i * 41 + 7) % 65) / 65.0)
    def hash(rate: Int, levels: Seq[Double], gain: Double): Long =
      Sound.energyHash64(
        Sound.decodeWavPcm(wav16(rate,
          Array(stepped(rate, 1.0, levels).map(_ * gain)))).get.mono).get
    val a8k = hash(8000, levelsA, 1.0)
    val a16k = hash(16000, levelsA, 1.0)
    val aQuiet = hash(8000, levelsA, 0.3)
    val b8k = hash(8000, levelsB, 1.0)
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(a8k, a16k) <= 3, s"sample-rate conversion must be near: ${ham(a8k, a16k)}")
    assert(ham(a8k, aQuiet) <= 3, s"constant gain must be near: ${ham(a8k, aQuiet)}")
    assert(ham(a8k, b8k) > 10, s"different melody must be far: ${ham(a8k, b8k)}")
    // the AUDIO arm of the dedup ladder: same banded pair machinery
    val hashes = Seq(("a_8k.wav", a8k), ("a_16k.wav", a16k), ("b.wav", b8k))
      .toDF("id", "ehash")
    val pairs = Dedup.hammingNearDupPairs64(hashes, "id", "ehash", maxHamming = 3)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(pairs === Set(("a_16k.wav", "a_8k.wav")))
    // sub-65-sample signals have no contour
    assert(Sound.energyHash64(Array.fill(64)(0.5f)).isEmpty)
  }

  test("compressed formats fail loudly; garbage and truncated WAV skip") {
    val mp3Id3 = "ID3".getBytes ++ Array.fill[Byte](40)(0)
    val e = intercept[IllegalArgumentException](Sound.decodeWavPcm(mp3Id3))
    assert(e.getMessage.contains("ffmpeg"))
    val flac = "fLaC".getBytes ++ Array.fill[Byte](40)(0)
    assert(intercept[IllegalArgumentException](
      Sound.decodeWavPcm(flac)).getMessage.contains("FLAC"))
    val mp3Sync = Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0x00)
    intercept[IllegalArgumentException](Sound.decodeWavPcm(mp3Sync))
    // a WAV container naming a compressed codec (MP3-in-WAV, fmt 85) is
    // recognized, not corrupt: loud error with the transcode recipe
    val good0 = wav16(8000, Array(Array.fill(100)(0.1)))
    val mp3InWav = good0.clone()
    mp3InWav(20) = 85.toByte // fmt code low byte: 1 -> 85
    assert(intercept[IllegalArgumentException](
      Sound.decodeWavPcm(mp3InWav)).getMessage.contains("85"))
    // garbage: None, never a throw
    assert(Sound.decodeWavPcm("not audio at all".getBytes).isEmpty)
    // truncated WAV (data chunk longer than the file): None
    val good = wav16(8000, Array(Array.fill(100)(0.1)))
    assert(Sound.decodeWavPcm(good.take(60)).isEmpty)
    // and the audit stream drops only the undecodable rows
    val dir = tempDir("graft_wav_mixed")
    Files.write(java.nio.file.Paths.get(s"$dir/ok.wav"), good)
    Files.write(java.nio.file.Paths.get(s"$dir/junk.wav"), "junk".getBytes)
    val out = Sound.audioAudit(
      graft.sources.Ingest.binaryFiles(spark, dir, "*.wav"))
    assert(out.count() === 1)
  }
}
