package pipebench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import graft.functions.TextSketches
import graft.operators.{Dedup, Media}
import org.apache.spark.unsafe.types.UTF8String

/** Seeded input generators. `Gen <workload> <seed> <dir>` writes the
  * workload's inputs under `dir` plus `truth.txt`, the facts the output
  * checks compare against. The same seed writes byte-identical files.
  * Nothing here runs a Spark job.
  */
object Gen {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, dir) = args
    val seed = seedArg.toLong
    val d = new File(dir)
    d.mkdirs()
    val truth = new Truth
    workload match {
      case "paper_etl" => meta(seed, d, truth); images(seed, d, truth)
      case "corpus_dedup" => corpus(seed, d, truth)
      case other => sys.error(s"unknown workload $other")
    }
    truth.write(new File(d, "truth.txt"))
  }

  // ---- sizes (calibrated for a 4-core local[4] session; see README.md)

  object Sizes {
    val metaChunkRows = 6000
    val metaChunks = 2
    val zipImages = 6
    val zips = 8
    val refDocs = 1000
    val newDocs = 320
    val chunkDocs = 80
    val recrawlShare = 0.3
    val chainDepth = 5
    val dims = 64
    /** Largest cosine a fresh new-crawl embedding may have to a reference
      * survivor: a margin below the scrub's tau = 0.8 for the PQ error. */
    val freshMaxCos = 0.65
  }

  /** Facts the checks need, as `key=value` lines. */
  final class Truth {
    private val kv = mutable.LinkedHashMap[String, String]()
    def update(k: String, v: Any): Unit = kv(k) = v.toString
    def write(f: File): Unit =
      Files.write(f.toPath, kv.map { case (k, v) => s"$k=$v\n" }.mkString
        .getBytes(StandardCharsets.UTF_8))
  }

  def readTruth(dir: String): Map[String, String] =
    scala.io.Source.fromFile(new File(dir, "truth.txt"), "UTF-8").getLines()
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8))
  }

  // ---- paper_etl metadata: OSV5M-shaped CSV chunks ----------------------

  /** One CSV row following `SparkEntry.osv5mFrame`'s dirt recipe for key
    * `k`: padded categoricals, null runs in the fill columns, null epochs
    * and null numerics, dyadic continuous values. Null is an empty field. */
  private def osv5mRow(k: Long): String = {
    def nullWhen(c: Boolean, v: => String): String = if (c) "" else v
    def dbl(v: Double): String = java.lang.Double.toString(v)
    Seq(
      k.toString,
      nullWhen(k % 19 == 0, dbl(((k % 180) - 90).toDouble + 0.25)),
      nullWhen(k % 23 == 0, dbl(((k % 360) - 180).toDouble + 0.5)),
      s"http://img/$k",
      s"  C${k % 7} ",
      s"seq${k % 100}",
      nullWhen(k % 11 == 0, (400000000000L + (k % 3650) * 86400000L + (k % 86400) * 1000L).toString),
      (k % 64).toString,
      (k % 32).toString,
      s"cell${k % 20}",
      nullWhen(k % 13 < 2, s" R${k % 5}"),
      nullWhen(k % 13 == 3 || k % 13 == 4, s"S${k % 4} "),
      nullWhen(k % 17 == 0, s"City${k % 9}"),
      (k % 10).toString,
      nullWhen(k % 31 == 0, dbl((k % 64).toDouble / 4.0)),
      (k % 2).toString,
      (k % 5).toString,
      (k % 12).toString,
      nullWhen(k % 29 == 0, dbl((k % 1000).toDouble / 8.0)),
      (k % 5000).toString,
      (k % 25000).toString,
      (k % 1000).toString,
      (k % 50000).toString,
      (k % 12500).toString,
      (k % 500).toString,
      (k % 2500).toString,
      nullWhen(k % 41 == 0, s"UR${k % 6}"),
      nullWhen(k % 43 == 0, s"US${k % 8}"),
      nullWhen(k % 7 < 3, s"UC${k % 11}"),
      nullWhen(k % 37 == 0, s"U${k % 3}"),
      nullWhen(k % 5 == 0, s"user_${k % 50}"),
      ((k * 7) % 1000).toString
    ).mkString(",")
  }

  private val osv5mHeader: String = graft.meta.Schemas.osv5m.fieldNames.mkString(",")

  /** The seed picks the key range; each file is one fill chunk of
    * `metaChunkRows` consecutive keys, rows shuffled within the file. */
  private def meta(seed: Long, d: File, truth: Truth): Unit = {
    import Sizes._
    val rnd = new SplittableRandom(seed)
    val base = (1L + rnd.nextInt(5000)) * metaChunkRows
    def chunkFile(f: File, first: Long): Unit = {
      val keys = (first until first + metaChunkRows).toArray
      shuffle(keys, rnd)
      val w = writer(f)
      try {
        w.write(osv5mHeader); w.write('\n')
        keys.foreach { k => w.write(osv5mRow(k)); w.write('\n') }
      } finally w.close()
    }
    for (c <- 0 until metaChunks)
      chunkFile(new File(d, f"full/csv/chunk-$c%04d.csv"), base + c.toLong * metaChunkRows)
    val chunkBase = base + metaChunks.toLong * metaChunkRows
    chunkFile(new File(d, "chunk/csv/chunk-0000.csv"), chunkBase)
    truth("full.rows") = metaChunks * metaChunkRows
    truth("full.first_id") = base
    truth("chunk.rows") = metaChunkRows
    truth("chunk.first_id") = chunkBase
    truth("fill_chunk_rows") = metaChunkRows
    // vocabulary sizes after trim (the codes must fall in [0, vocab))
    val vocab = Map("country" -> 7, "region" -> 5, "sub-region" -> 4, "city" -> 9,
      "unique_country" -> 3)
    vocab.foreach { case (c, n) => truth(s"vocab.$c") = n }
  }

  private def shuffle[T](a: Array[T], rnd: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  // ---- paper_etl images: zips of synthetic PNG/JPEG with junk and corrupt entries

  private val ZipTime = 315532800000L // 1980-01-01, fixed so zips are byte-stable

  private val Dims = Array((64, 48), (320, 240), (128, 96), (240, 320), (96, 160),
    (200, 120), (160, 160), (288, 64))

  /** Returns (image-named entries, decodable images). */
  private def zip(f: File, rnd: SplittableRandom, images: Int, tag: Int): (Int, Int) = {
    f.getParentFile.mkdirs()
    val out = new ZipOutputStream(new FileOutputStream(f))
    var named = 0
    var good = 0
    def put(name: String, bytes: Array[Byte]): Unit = {
      val e = new ZipEntry(name)
      e.setTime(ZipTime)
      out.putNextEntry(e); out.write(bytes); out.closeEntry()
    }
    try {
      for (i <- 0 until images) {
        // a fixed mix of sizes and formats, so every seed's archives hold
        // the same amount of pixel work; the seed varies the content
        val (w, h) = Dims(i % Dims.length)
        val fmt = if (i % 3 == 2) "jpg" else "png"
        put(f"img_$tag%02d_$i%04d.$fmt", Media.syntheticImage(rnd.nextInt(1 << 16), fmt, w, h))
        named += 1; good += 1
      }
      // junk: names the extension filter drops
      put(f"notes_$tag%02d.txt", s"archive $tag".getBytes(StandardCharsets.UTF_8))
      put("Thumbs.db", Array.fill[Byte](64)(7))
      // corrupt: image-named entries that do not decode
      val bad = new Array[Byte](512)
      bad.indices.foreach(i => bad(i) = rnd.nextInt(256).toByte)
      put(f"broken_$tag%02d.jpg", bad)
      put(f"truncated_$tag%02d.png",
        Media.syntheticImage(tag, "png", 80, 60).take(40))
      named += 2
    } finally out.close()
    (named, good)
  }

  private def images(seed: Long, d: File, truth: Truth): Unit = {
    import Sizes._
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    var named = 0
    var good = 0
    for (z <- 0 until zips) {
      val (n, g) = zip(new File(d, f"full/zips/archive-$z%02d.zip"), rnd, zipImages, z)
      named += n; good += g
    }
    val (cn, cg) = zip(new File(d, "chunk/zips/archive-00.zip"), rnd, zipImages, 99)
    truth("full.named") = named
    truth("full.images") = good
    truth("chunk.named") = cn
    truth("chunk.images") = cg
    truth("sample_seed") = rnd.nextLong()
  }

  // ---- corpus_dedup: documents with planted near-dup clusters ------------

  /** A document wave. `cluster(i)` is the planted cluster of doc i; the
    * generator rejects any draw whose LSH bands (computed with the same
    * MinHash kernel the program uses) would merge two planted clusters or
    * leave one unconnected, so the planted clusters ARE the near-dup
    * components. Chains link only consecutive members. */
  final class Wave {
    val ids = mutable.ArrayBuffer[Long]()
    val texts = mutable.ArrayBuffer[Array[String]]()
    val vecs = mutable.ArrayBuffer[Array[Double]]()
    val cluster = mutable.ArrayBuffer[Int]()
    val recrawlOf = mutable.ArrayBuffer[Long]() // -1 for fresh docs
    private val owner = mutable.HashMap[String, Int]()
    var clusters = 0
    var dupPairs = 0L
    var chains = 0

    def bands(toks: Array[String]): Seq[String] = {
      val sig = TextSketches.minhashSig(UTF8String.fromString(toks.mkString(" ")),
        Dedup.MinhashK).toLongArray()
      val rows = Dedup.MinhashK / Dedup.LshBands
      (0 until Dedup.LshBands).map(b => s"$b:" + sig.slice(b * rows, b * rows + rows).mkString("-"))
    }
    def free(bs: Seq[String], c: Int): Boolean = bs.forall(b => owner.get(b).forall(_ == c))
    def add(id: Long, toks: Array[String], vec: Array[Double], c: Int, bs: Seq[String],
            from: Long): Unit = {
      ids += id; texts += toks; vecs += vec; cluster += c; recrawlOf += from
      bs.foreach(b => owner(b) = c)
    }
  }

  private final class DocGen(seed: Long) {
    import Sizes._
    val rnd = new SplittableRandom(seed)
    private val vocab: Array[String] = Array.tabulate(6000) { i =>
      val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "de", "pa", "zu", "he")
      val r = new SplittableRandom(seed * 7919 + i)
      (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.length))).mkString + i.toString
    }
    private val basis: Array[Array[Double]] =
      Array.fill(12)(Array.fill(dims)(rnd.nextDouble() - 0.5))

    def word(): String = vocab(rnd.nextInt(vocab.length))
    def text(): Array[String] = Array.fill(60 + rnd.nextInt(61))(word())
    /** Low-rank embedding: a mix of 12 basis directions plus 2% noise, the
      * manifold shape the IVF-PQ sizing ladder was measured on. */
    def vector(): Array[Double] = {
      val c = Array.fill(12)(rnd.nextInt(7) - 3.0)
      Array.tabulate(dims)(d =>
        (0 until 12).map(r => c(r) * basis(r)(d)).sum + rnd.nextDouble() * 0.08 - 0.04)
    }
    def jitter(v: Array[Double], eps: Double): Array[Double] =
      v.map(x => x + (rnd.nextDouble() - 0.5) * eps)
    /** `n` random token edits: replace, insert or delete. */
    def edit(t: Array[String], n: Int): Array[String] = {
      val b = t.toBuffer
      for (_ <- 0 until n) rnd.nextInt(3) match {
        case 0 => b(rnd.nextInt(b.size)) = word()
        case 1 => b.insert(rnd.nextInt(b.size + 1), word())
        case _ => if (b.size > 20) b.remove(rnd.nextInt(b.size))
      }
      b.toArray
    }

    private var nextId = 0L
    def id(base: Long): Long = { nextId += 1; base + nextId }

    /** Draw until the constraint holds (the sampler is seeded, so the
      * accepted draw is a pure function of the seed). */
    def draw[T](f: => T)(ok: T => Boolean): T = {
      var x = f
      var tries = 1
      while (!ok(x)) {
        require(tries < 10000, "generator could not satisfy the planted structure")
        x = f; tries += 1
      }
      x
    }

    /** An embedding whose cosine to every vector of `others` stays below
      * `freshMaxCos`, so no reference neighbour clears the scrub's tau. */
    def novel(others: Array[Array[Double]]): Array[Double] = {
      def unit(v: Array[Double]): Array[Double] = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
      val us = others.map(unit)
      draw(vector()) { v =>
        val u = unit(v)
        us.forall { o =>
          var dot = 0.0
          var i = 0
          while (i < o.length) { dot += o(i) * u(i); i += 1 }
          dot < freshMaxCos
        }
      }
    }

    def singleton(w: Wave, base: Long, vec: => Array[Double]): Unit = {
      val c = w.clusters; w.clusters += 1
      val (t, bs) = draw { val t = text(); (t, w.bands(t)) } { case (_, bs) => w.free(bs, c) }
      w.add(id(base), t, vec, c, bs, -1L)
    }

    /** 1 + `n` variants of one base, each sharing a band with the base. */
    def star(w: Wave, base: Long, n: Int, vec: => Array[Double]): Unit = {
      val c = w.clusters; w.clusters += 1
      val (t0, b0) = draw { val t = text(); (t, w.bands(t)) } { case (_, bs) => w.free(bs, c) }
      val v0 = vec
      w.add(id(base), t0, v0, c, b0, -1L)
      for (_ <- 0 until n) {
        val (t, bs) = draw { val t = edit(t0, 1 + rnd.nextInt(2)); (t, w.bands(t)) } {
          case (_, bs) => w.free(bs, c) && bs.exists(b0.contains) }
        w.add(id(base), t, jitter(v0, 0.01), c, bs, -1L)
      }
      w.dupPairs += (n + 1L) * n / 2
    }

    /** An edit chain of `chainDepth` links: each member shares a band with
      * its predecessor only, and ids ascend along the chain, so keep-first
      * label propagation needs one round per link. */
    def chain(w: Wave, base: Long): Unit = {
      val c = w.clusters; w.clusters += 1; w.chains += 1
      var (t, bs) = draw { val t = text(); (t, w.bands(t)) } { case (_, b) => w.free(b, c) }
      val v0 = vector()
      w.add(id(base), t, v0, c, bs, -1L)
      val older = mutable.HashSet[String]() // bands of members before `bs`
      for (_ <- 0 until chainDepth) {
        val prev = bs
        val (t2, b2) = draw { val x = edit(t, 6 + rnd.nextInt(4)); (x, w.bands(x)) } {
          case (_, b) => w.free(b, c) && b.exists(prev.contains) &&
            b.forall(k => !older.contains(k)) && b.count(prev.contains) < Dedup.LshBands }
        w.add(id(base), t2, jitter(v0, 0.01), c, b2, -1L)
        older ++= prev
        t = t2; bs = b2
      }
      w.dupPairs += (chainDepth + 1L) * chainDepth / 2
    }

    /** Reference wave: singletons, star clusters and edit chains. */
    def reference(n: Int, base: Long): Wave = {
      val w = new Wave
      while (w.ids.size < n) rnd.nextInt(20) match {
        case 0 => chain(w, base)
        case k if k < 8 => star(w, base, 1 + rnd.nextInt(3), vector())
        case _ => singleton(w, base, vector())
      }
      w
    }

    /** New-crawl wave: `recrawlShare` of it re-crawls distinct reference
      * survivors (same text, embedding within 1e-3), the rest is fresh
      * clusters in a fixed pattern (every fourth a star of 2, 3 or 4
      * docs in turn, the others singletons), so a wave of `n` docs always
      * holds the same number of clusters. Fresh embeddings are novel
      * against every reference survivor (see `novel`). */
    def crawl(n: Int, base: Long, ref: Wave, survivors: Array[Int],
              picked: mutable.HashSet[Int]): Wave = {
      val w = new Wave
      val recrawls = math.round(n * recrawlShare).toInt
      var r = 0
      while (r < recrawls) {
        val s = survivors(rnd.nextInt(survivors.length))
        val bs = w.bands(ref.texts(s))
        if (!picked.contains(s) && w.free(bs, w.clusters)) {
          picked += s
          val c = w.clusters; w.clusters += 1
          w.add(id(base), ref.texts(s), jitter(ref.vecs(s), 0.001), c, bs, ref.ids(s))
          r += 1
        }
      }
      val heads = survivors.map(ref.vecs)
      var k = 0
      while (w.ids.size < n) {
        if (k % 4 == 0) star(w, base, 1 + (k / 4) % 3, novel(heads))
        else singleton(w, base, novel(heads))
        k += 1
      }
      w
    }
  }

  private def writeWave(w: Wave, dir: File, files: Int, rnd: SplittableRandom): Unit = {
    val order = w.ids.indices.toArray
    shuffle(order, rnd)
    val ws = (0 until files).map(i => writer(new File(dir, f"part-$i%03d.jsonl")))
    try order.zipWithIndex.foreach { case (i, k) =>
      val out = ws(k % files)
      out.write(s"""{"id":${w.ids(i)},"text":"${w.texts(i).mkString(" ")}","embedding":[""")
      out.write(w.vecs(i).map(java.lang.Double.toString).mkString(","))
      out.write("]}\n")
    } finally ws.foreach(_.close())
  }

  /** Cluster truth as `id cluster recrawl_of` lines. */
  private def writeClusters(w: Wave, f: File): Unit = {
    val out = writer(f)
    try w.ids.indices.foreach(i => out.write(s"${w.ids(i)} ${w.cluster(i)} ${w.recrawlOf(i)}\n"))
    finally out.close()
  }

  private def corpus(seed: Long, d: File, truth: Truth): Unit = {
    import Sizes._
    val g = new DocGen(seed)
    val ref = g.reference(refDocs, 1000000000L)
    val picked = mutable.HashSet[Int]()
    val survivors = ref.ids.indices.groupBy(ref.cluster).values.map(_.minBy(ref.ids)).toArray.sorted
    val neu = g.crawl(newDocs, 2000000000L, ref, survivors, picked)
    val ch = g.crawl(chunkDocs, 3000000000L, ref, survivors, picked)
    for ((name, w, files) <- Seq(("ref", ref, 4), ("new", neu, 4), ("chunk", ch, 1))) {
      writeWave(w, new File(d, name), files, g.rnd)
      writeClusters(w, new File(d, s"$name.clusters"))
      truth(s"$name.docs") = w.ids.size
      truth(s"$name.clusters") = w.clusters
    }
    truth("ref.chains") = ref.chains
    truth("ref.dup_pairs") = ref.dupPairs
    truth("chain_depth") = chainDepth
  }
}
