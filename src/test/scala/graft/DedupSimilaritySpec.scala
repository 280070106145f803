package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSuite {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while rain " +
    "falls softly on the quiet village roofs and children watch from warm " +
    "windows waiting for the storm to pass before dinner"
  private lazy val docs = Seq(
    (0L, base),
    (1L, base.replace("village", "hamlet")), // near-dup of 0 (one token)
    (2L, "completely different tokens describing spark shuffle partitions and joins and exchanges"),
    (3L, base)                               // exact dup of 0
  ).toDF("doc_id", "text")

  test("dedupKeepFirst keeps the earliest row per key") {
    val ev = Seq((1L, "click", 10L), (1L, "click", 5L), (2L, "view", 7L))
      .toDF("user_id", "event_type", "t")
    val out = Dedup.dedupKeepFirst(ev, Seq("user_id", "event_type"), Seq("t"))
      .orderBy("user_id").select("t").as[Long].collect()
    assert(out === Array(5L, 7L))
  }

  test("minhash signature: length 16, identical docs -> identical sigs") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Seq[Long])].collect()
    assert(sigs.forall(_._2.length == 16))
    assert(sigs(0)._2 === sigs(3)._2) // exact dup
    val matches01 = sigs(0)._2.zip(sigs(1)._2).count { case (a, b) => a == b }
    assert(matches01 >= 8, s"near-dup should share most minhash slots, got $matches01/16")
  }

  test("LSH candidate pairs surface exact and near dups, not unrelated docs") {
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((0L, 3L)) && pairs((0L, 3L)) === 1.0)
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near-dup banded together
    assert(!pairs.keys.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("n-gram jaccard: 1 for exact dup, high for near-dup, ~0 for unrelated") {
    val j = Dedup.jaccardWithinGap(docs, "doc_id", "text", 3)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(j((0L, 3L)) === 1.0)
    assert(j((0L, 1L)) > 0.5)
    assert(j((0L, 2L)) === 0.0)
  }

  test("containment flags an excerpt at 1.0 where jaccard stays low") {
    val full = "the quick brown fox jumps over the lazy dog while rain falls " +
      "softly on quiet village roofs and children watch from warm windows"
    val quote = "the quick brown fox jumps over"          // contiguous excerpt
    val corpus = Seq((10L, full), (11L, quote),
      (20L, "entirely different text about spark adaptive query execution plans"))
      .toDF("doc_id", "text")
    val c = Dedup.containmentWithinGap(corpus, "doc_id", "text", 1)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // quote (id 11, the b side) is fully contained in full (id 10)
    assert(c((10L, 11L))._2 === 1.0)
    // ...but the full doc is NOT contained in the quote
    assert(c((10L, 11L))._1 < 0.25)
    // symmetric jaccard on the same pair is low — the signal containment adds
    val j = Dedup.jaccardWithinGap(corpus, "doc_id", "text", 1)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(j((10L, 11L)) < 0.25)
  }

  test("simhash: equal for dups, close hamming for near-dups") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().map(_._2)
    assert(sh(0) === sh(3))
    val hamming01 = java.lang.Long.bitCount(sh(0) ^ sh(1))
    val hamming02 = java.lang.Long.bitCount(sh(0) ^ sh(2))
    assert(hamming01 < hamming02, s"near-dup hamming $hamming01 !< unrelated $hamming02")
  }

  test("simhashNearDupPairs: banding finds all pairs within the hamming bound") {
    // brute-force ground truth over the fixture corpus: banding must
    // surface EXACTLY the pairs the pigeonhole bound guarantees
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val ids = sh.keys.toSeq.sorted
    val want = (for {
      i <- ids; j <- ids if i < j && ham(sh(i), sh(j)) <= 1
    } yield (i, j, ham(sh(i), sh(j)).toLong)).sorted
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 1)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    assert(got === want)
    assert(got.contains((0L, 3L, 0L))) // the exact dup is hamming 0
    intercept[IllegalArgumentException](
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 4))
  }

  test("simhash64: full-width entropy; wide banding matches brute force") {
    import graft.functions.GraftFunctions
    val sh = docs.select(col("doc_id"), GraftFunctions.simhash64(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) === sh(3L)) // exact dup
    // the 16-bit kernel's hash starves bits >= 30; the wide one must not —
    // the high 32 bits carry real signal on every fingerprint here
    assert(sh.values.forall(v => (v >>> 32) != 0L && (v >>> 32) != 0xffffffffL))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) < ham(sh(0L), sh(2L))) // near-dup closer than unrelated
    val ids = sh.keys.toSeq.sorted
    val want = (for {
      i <- ids; j <- ids if i < j && ham(sh(i), sh(j)) <= 3
    } yield (i, j, ham(sh(i), sh(j)).toLong)).sorted
    val got = Dedup.simhashNearDupPairs64(docs, "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b").as[(Long, Long, Long)].collect().toSeq
    assert(got === want)
    assert(got.contains((0L, 3L, 0L)))
  }

  test("duplicateStats finds exact-dup clusters by fingerprint") {
    val stats = Dedup.duplicateStats(docs, md5(col("text")))
    val rows = stats.as[(String, Long)].collect()
    assert(rows.length === 1 && rows(0)._2 === 2L)
  }

  test("bruteForceTopK: nearest neighbor of a vector is its near-copy") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.99f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.where(col("vec_id") === 0), 2)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect()
    assert(out(0)._3 === 1L) // rank-1 neighbor is the near-copy
    assert(out(0)._4 > 0.99)
  }

  test("ivfTopK: same top-1 as brute force when cells align") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),          // centroids
      (10L, Array(0.9f, 0.1f)), (11L, Array(0.95f, 0.05f)),
      (12L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(
      vecs, vecs.where(col("vec_id") < 2), vecs.where(col("vec_id") === 10), 1)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.length === 1)
    assert(out(0)._3 === 11L) // same-cell nearest, not the cross-cell one
  }

  test("ivfTopK multi-probe recovers the cross-cell neighbor nprobe=1 misses") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),             // centroids
      (20L, Array(0.72f, 0.7f)),                            // probe: near the boundary, lands in cell 0
      (21L, Array(0.6f, 0.8f)),                             // true nearest, but in cell 1
      (22L, Array(1f, 0.1f))).toDF("vec_id", "embedding")   // same-cell decoy
    val cents = vecs.where(col("vec_id") < 2)
    val probe = vecs.where(col("vec_id") === 20)
    val single = Similarity.ivfTopK(vecs, cents, probe, 1)
      .as[(Long, Long, Long, Double)].collect()
    val multi = Similarity.ivfTopK(vecs, cents, probe, 1, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect()
    assert(single(0)._3 === 22L) // confined to its own cell
    assert(multi(0)._3 === 21L)  // the second-closest cell holds the true nearest
  }

  test("ivfTopK distributed-probe join equals the broadcast-probe path") {
    // Same contract as the ivfPqTopK pin: broadcastProbes only picks the
    // cell-id join strategy; the scored pairs and rankings are identical,
    // so a corpus-sized probe set (bitext mining on the raw-vector tier)
    // returns bit-identical results to the broadcast serve shape.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).where(col("vec_id") < 64)
    val cents = Similarity.trainCentroids(emb, 4, 2)
    def run(bcast: Boolean) =
      Similarity.ivfTopK(emb, cents, emb, 3, nprobe = 2, broadcastProbes = bcast)
        .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
    assert(run(bcast = false) === run(bcast = true))
  }

  test("fuzzyPairs: prefix-blocked thresholded levenshtein finds typo pairs only") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over the lazy hog"), // dist 3 from 1
      (3L, "the quick brown cat sat on a completely different mat today ok"), // same prefix, too far
      (4L, "unrelated text that shares no prefix at all")).toDF("doc_id", "text")
    val out = Dedup.fuzzyPairs(docs, "doc_id", "text", maxDist = 6)
      .as[(Long, Long, Int)].collect().sorted
    assert(out === Array((1L, 2L, 3)))
  }

  test("fuzzyPairs reversed pass catches edits inside the first prefixLen chars") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "thx quick brOwn fox jumps over the lazy dog"), // 2 edits, both in first 16
      (3L, "the quick brown fox jumps over THE LAZY DOG"), // edits only at the tail
      (4L, "something else entirely that matches neither end")).toDF("doc_id", "text")
    val out = Dedup.fuzzyPairs(docs, "doc_id", "text", maxDist = 11)
      .as[(Long, Long, Int)].collect().sorted
    // (1,2): forward prefixes differ -> only the reversed block finds it.
    // (1,3): reversed prefixes differ -> only the forward block finds it.
    // (2,3): edits at BOTH ends within dist 13 > 11 -> correctly outside
    //        maxDist anyway; no double counting of pairs found by both blocks.
    assert(out.map(p => (p._1, p._2)).toSet === Set((1L, 2L), (1L, 3L)))
    assert(out.length === 2, "a pair found by both blocks must verify exactly once")
  }

  test("vector_avg aggregates element-wise means (custom TypedImperativeAggregate)") {
    val vecs = Seq((0, Array(1f, 2f)), (0, Array(3f, 4f)), (1, Array(10f, 20f)))
      .toDF("g", "v")
    val out = vecs.groupBy("g")
      .agg(graft.functions.GraftFunctions.vector_avg(col("v")).as("c"))
      .orderBy("g").as[(Int, Seq[Double])].collect()
    assert(out(0)._2 === Seq(2.0, 3.0))
    assert(out(1)._2 === Seq(10.0, 20.0))
    // null vectors are skipped
    val withNull = vecs.union(Seq((1, null.asInstanceOf[Array[Float]])).toDF("g", "v"))
    val n = withNull.where(col("g") === 1).groupBy("g")
      .agg(graft.functions.GraftFunctions.vector_avg(col("v")).as("c"))
      .as[(Int, Seq[Double])].head()
    assert(n._2 === Seq(10.0, 20.0))
  }

  test("trainCentroids converges to the two cluster directions (IVF training)") {
    val cluster = (base: Array[Float], ids: Range) =>
      ids.map(i => (i.toLong, base.zipWithIndex.map { case (v, d) =>
        v + 0.01f * ((i + d) % 3) }))
    val vecs = (cluster(Array(1f, 0f), 0 until 20) ++
      cluster(Array(0f, 1f), 20 until 40)).toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(vecs, k = 2, iterations = 3)
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    assert(cents.length === 2)
    // one centroid dominated by dim0, the other by dim1
    val byDim = cents.map(_._2).sortBy(v => -v.head)
    assert(byDim(0).head > 0.9 && byDim(0)(1) < 0.1)
    assert(byDim(1).head < 0.1 && byDim(1)(1) > 0.9)
    // assignment with trained centroids separates the clusters
    val assigned = Similarity.assignCells(vecs,
      Similarity.trainCentroids(vecs, 2, 3))
    val cellsPerCluster = assigned
      .withColumn("cluster", when(col("vec_id") < 20, 0).otherwise(1))
      .groupBy("cluster").agg(countDistinct("cell_id").as("nc"))
      .as[(Int, Long)].collect().toMap
    assert(cellsPerCluster === Map(0 -> 1L, 1 -> 1L))
  }

  test("spanDupStats flags shared 3-line spans; canonical first occurrence survives") {
    import graft.operators.Dedup
    val docs = Seq(
      // doc 1 and 2 share the c1/c2/c3 paragraph (one 3-line span)
      (1L, "a1\nc1\nc2\nc3\na2"),
      (2L, "b1\nc1\nc2\nc3\nb2"),
      // doc 3 is too short for any 3-line span -> absent
      (3L, "x\ny"),
      // doc 4 repeats its own span INTERNALLY (positions 1 and 4)
      (4L, "r1\nr2\nr3\nr1\nr2\nr3")).toDF("doc_id", "text")
    val out = Dedup.spanDupStats(docs, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    assert(out === Array(
      (1L, 3L, 1L, 0L),   // canonical owner of the shared span: kept
      (2L, 3L, 1L, 1L),   // later occurrence: removed
      (4L, 4L, 2L, 1L)))  // self-repeat: 2 dup occurrences, later one removed
  }

  test("spanScrub deletes covered lines of non-canonical span occurrences only") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a1\nc1\nc2\nc3\na2"),          // canonical owner: untouched
      (2L, "b1\nc1\nc2\nc3\nb2"),          // loses the copied paragraph
      (3L, "x\ny"),                        // shorter than n: untouched
      // internal self-repeat at positions 1 and 4: the later occurrence
      // is scrubbed, the canonical first stays
      (4L, "r1\nr2\nr3\nr1\nr2\nr3"),
      // every span of doc 6 is a non-canonical copy of doc 5: its two
      // removed spans OVERLAP on lines 2-3 (union 1..4, not 6 lines) and
      // doc 6 loses ALL lines, emitting empty text
      (5L, "z1\nz2\nz3\nz4"),
      (6L, "z1\nz2\nz3\nz4")).toDF("doc_id", "text")
    val out = Dedup.spanScrub(docs, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(out === Array(
      (1L, 5L, 0L, "a1\nc1\nc2\nc3\na2"),
      (2L, 5L, 3L, "b1\nb2"),
      (3L, 2L, 0L, "x\ny"),
      (4L, 6L, 3L, "r1\nr2\nr3"),
      (5L, 4L, 0L, "z1\nz2\nz3\nz4"),
      (6L, 4L, 4L, "")))
    // line-level audit agrees with the span-level audit's scrub decision
    val stats = Dedup.spanDupStats(docs, "doc_id", "text", 3)
      .where(col("n_removed") > 0).select("doc_id")
      .as[Long].collect().toSet
    assert(out.filter(_._3 > 0).map(_._1).toSet === stats)
  }

  test("paragraphScrub: corpus-wide keep-first at paragraph granularity; wide parity") {
    import graft.operators.Dedup
    val docs = Seq(
      // doc 1 owns both paragraphs (canonical first occurrences)
      (1L, "l1\nl2\n\nshared a\nshared b"),
      // doc 2 repeats doc 1's second paragraph -> loses it, keeps its own
      (2L, "shared a\nshared b\n\nmine x\nmine y"),
      // doc 3 = entirely copies -> every paragraph removed, empty text
      (3L, "l1\nl2\n\nmine x\nmine y"),
      // single-paragraph doc, unique -> untouched; its internal \n must
      // NOT be treated as a paragraph break
      (4L, "solo p\nsecond line")).toDF("doc_id", "text")
    val out = Dedup.paragraphScrub(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(out === Array(
      (1L, 2L, 0L, "l1\nl2\n\nshared a\nshared b"),
      (2L, 2L, 1L, "mine x\nmine y"),
      (3L, 2L, 2L, ""),
      (4L, 1L, 0L, "solo p\nsecond line")))
    // the 128-bit scale key decides identically on collision-free input
    val wideOut = Dedup.paragraphScrub(docs, "doc_id", "text", wide = true)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(wideOut === out)
  }

  test("softDedupWeights: equal mass per distinct text, canonical = hard-dedup survivor") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "alpha"), (2L, "beta"), (3L, "alpha"), (4L, "alpha"), (5L, "beta"))
      .toDF("doc_id", "text")
    for (wide <- Seq(false, true)) {
      val out = Dedup.softDedupWeights(docs, "doc_id", "text", wide)
        .orderBy("doc_id").as[(Long, Long, Double, Boolean)].collect()
      assert(out === Array(
        (1L, 3L, 0.333333, true), (2L, 2L, 0.5, true), (3L, 3L, 0.333333, false),
        (4L, 3L, 0.333333, false), (5L, 2L, 0.5, false)))
      // weights sum to the distinct-text count (the equal-mass property,
      // up to the 6-dp rounding of 1/3)
      assert(math.abs(out.map(_._3).sum - 2.0) < 1e-5)
      // canonicals are exactly dedupKeepFirst's survivors
      assert(out.filter(_._4).map(_._1).toSet ===
        Dedup.dedupKeepFirst(docs, Seq("text"), Seq("doc_id"))
          .select("doc_id").as[Long].collect().toSet)
    }
  }

  test("winnowing: w+k-1 detection guarantee, sampled density, pair report") {
    import graft.operators.Dedup
    // docs 1/2 share EXACTLY a w+k-1 = 6-token run (k=3, w=4): the run
    // holds 4 shared grams = one full window, whose min MUST be selected
    // in both docs (the Schleimer Theorem's witness)
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"red blue green $shared yellow purple"),
      (3L, "completely different tokens here nothing overlaps at all ever")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowedMatchPairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 1).as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).contains((1L, 2L)),
      "a w+k-1 shared run must always pair")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // WHICH shared grams get selected is hash-order-dependent, but the
    // guarantee (>= 1 shared selected print for a w+k-1 run) holds under
    // the 64-bit scale key too, and unrelated docs still never pair
    val widePairs = Dedup.winnowedMatchPairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 1, wide = true).as[(Long, Long, Long)].collect()
    assert(widePairs.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(!widePairs.exists(p => p._1 == 3L || p._2 == 3L))
    // density: far fewer selected prints than grams, never more
    val longDoc = Seq((9L, (1 to 200).map(i => s"t${i * 37 % 91}x$i")
      .mkString(" "))).toDF("doc_id", "text")
    val nFp = Dedup.winnowedFingerprints(longDoc, "doc_id", "text").count()
    val nGrams = 200 - 3 + 1
    assert(nFp < nGrams && nFp >= nGrams / 5, s"density off: $nFp of $nGrams")
    // below-guarantee docs (< w grams) select nothing
    assert(Dedup.winnowedFingerprints(
      Seq((5L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text").count() === 0L)
    intercept[IllegalArgumentException](
      Dedup.winnowedFingerprints(docs, "doc_id", "text", k = 0))
    intercept[IllegalArgumentException](
      Dedup.winnowedMatchPairs(docs, "doc_id", "text", minShared = 0))
  }

  test("hardNegatives ranks only wrong-label neighbors; knnLabelNoise flags the mislabel") {
    import graft.operators.Similarity
    // two tight direction clusters; labels match clusters except vec 15
    val vecs = Seq(
      (0L, Array(1f, 0f), 1), (1L, Array(0f, 1f), 2), // also the centroids
      (10L, Array(0.99f, 0.01f), 1), (11L, Array(0.98f, 0.03f), 1),
      (12L, Array(0.97f, 0.02f), 1),
      (15L, Array(0.96f, 0.04f), 2), // MISLABELED: sits inside cluster A
      (20L, Array(0.01f, 0.99f), 2), (21L, Array(0.03f, 0.98f), 2)
    ).toDF("vec_id", "embedding", "label")
    val hn = Similarity.hardNegatives(vecs, vecs.where(col("vec_id") === 10), 2)
      .orderBy("rank").as[(Long, Long, Long, Double, Int)].collect()
    assert(hn.map(_._3) === Array(15L, 21L)) // nearest wrong-label first
    assert(hn.forall(_._5 === 2))            // never the probe's own label
    // cell A = {0,10,11,12,15}: 15's 4 neighbors all disagree -> suspect;
    // 10's neighbors disagree 1/4 -> clean; cluster B is all-consistent
    val noise = Similarity.knnLabelNoise(vecs, vecs.where(col("vec_id") < 2), 5)
      .as[(Long, Int, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(noise(15L)._6 && noise(15L)._5 === 1.0)
    assert(!noise(10L)._6 && noise(10L)._5 === 0.25)
    assert(Seq(1L, 20L, 21L).forall(id => !noise(id)._6))
    intercept[IllegalArgumentException](
      Similarity.knnLabelNoise(vecs, vecs.where(col("vec_id") < 2), 0))
  }

  test("embeddingAudit counts zero/NaN defects; norms over healthy rows only") {
    import graft.operators.Similarity
    val vecs = Seq(
      (1L, Array(3f, 4f), 0),               // norm exactly 5
      (2L, Array(0f, 0f), 0),               // zero vector
      (3L, Array(Float.NaN, 1f), 0),        // NaN poisoned
      (4L, Array(6f, 8f), 1)                // norm exactly 10
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingAudit(vecs)
      .orderBy("grp").as[(Int, Long, Long, Long, Double, Double, Double)].collect()
    assert(out === Array(
      (0, 3L, 1L, 1L, 2.5, 0.0, 5.0),  // mean over {5, 0} healthy norms
      (1, 1L, 0L, 0L, 10.0, 10.0, 10.0)))
  }

  test("truncatedRecall identity at full width; rrfFuse hand-computed") {
    import graft.operators.Similarity
    val vecs = (0L until 30L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 7.0 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val probes = vecs.where(col("vec_id") < 3)
    // truncating to the FULL width changes nothing: recall exactly 1
    val ident = Similarity.truncatedRecall(vecs, probes, k = 4, dims = 8)
      .as[(Long, Long, Double)].collect()
    assert(ident.length === 3 && ident.forall(r => r._2 === 4L && r._3 === 1.0))
    // a 2-dim prefix loses information: recall stays in [0, 1]
    val tr = Similarity.truncatedRecall(vecs, probes, k = 4, dims = 2)
      .as[(Long, Long, Double)].collect()
    assert(tr.forall(r => r._2 >= 0L && r._2 <= 4L))
    intercept[IllegalArgumentException](
      Similarity.truncatedRecall(vecs, probes, 4, dims = 0))
    // RRF: hand-built rankings — a candidate in both arms outranks
    // single-arm candidates with better per-arm ranks
    val armA = Seq((1L, 100L, 1L), (1L, 101L, 2L))
      .toDF("probe_id", "neighbor_id", "rank")
    val armB = Seq((1L, 101L, 1L), (1L, 102L, 2L))
      .toDF("probe_id", "neighbor_id", "rank")
    val fused = Similarity.rrfFuse(armA, armB, k = 3)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect()
    // 101: 1/62 + 1/61 = .032522; 100: 1/61 = .016393; 102: 1/62 = .016129
    assert(fused.map(_._3) === Array(101L, 100L, 102L))
    assert(fused.map(_._4) === Array(0.032522, 0.016393, 0.016129))
  }

  test("winnowing guarantee holds for randomized planted shared runs") {
    import graft.operators.Dedup
    // the Theorem must hold for ANY surrounding noise, not just the fixed
    // fixture: plant a w+k-1 = 6-token run between random contexts
    val rnd = new scala.util.Random(42)
    val fixtures = (1 to 5).map { trial =>
      val shared = (1 to 6).map(i => s"s${rnd.nextInt(1000)}t${trial}i$i").mkString(" ")
      def noise() = (1 to 5 + rnd.nextInt(10))
        .map(_ => s"n${rnd.nextInt(100000)}").mkString(" ")
      (trial.toLong, Seq(
        (trial * 10L + 1, s"${noise()} $shared ${noise()}"),
        (trial * 10L + 2, s"${noise()} $shared ${noise()}")))
    }
    val docs = fixtures.flatMap(_._2).toDF("doc_id", "text")
    val pairs = Dedup.winnowedMatchPairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 1).as[(Long, Long, Long)].collect()
    fixtures.foreach { case (trial, ds) =>
      val (a, b) = (ds.head._1, ds(1)._1)
      assert(pairs.exists(p => p._1 == a && p._2 == b),
        s"trial $trial: a planted w+k-1 run failed to pair")
    }
  }

  test("centroidSilhouette: hand-computed a/b distances, tie to lowest cell") {
    import graft.operators.Similarity
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val vecs = Seq(
      (10L, Array(1f, 0f)),  // exactly c0: a=0, b=1 -> s=1
      (11L, Array(2f, 0f)),  // same direction: s=1 (cosine is scale-free)
      (12L, Array(1f, 1f)),  // equidistant: a=b -> s=0, tie assigns cell 0
      (13L, Array(0f, 5f))   // c1's direction: s=1
    ).toDF("vec_id", "embedding")
    val out = Similarity.centroidSilhouette(vecs, cents)
      .orderBy("cell_id").as[(Long, Long, Double, Double)].collect()
    assert(out === Array(
      (0L, 3L, 0.666667, 0.0),
      (1L, 1L, 1.0, 1.0)))
    intercept[IllegalArgumentException](
      Similarity.centroidSilhouette(vecs, cents.limit(1)))
  }

  test("diversitySample keeps the k most-central vectors of every cell") {
    // two clean clusters around the axes + one far outlier per cluster
    val vecs = Seq(
      (100L, Array(1f, 0f)), (101L, Array(0.99f, 0.02f)), (102L, Array(0.98f, 0.05f)),
      (103L, Array(0.7f, 0.7f)),                    // weakest dim0 member
      (200L, Array(0f, 1f)), (201L, Array(0.02f, 0.99f)), (202L, Array(0.05f, 0.98f)),
      (203L, Array(0.69f, 0.72f)))                  // weakest dim1 member
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.diversitySample(vecs, cents, k = 3)
      .orderBy("cell_id", "rank")
      .as[(Long, Long, Long, Double)].collect()
    // exactly 3 per cell; the diagonal stragglers (103/203) are cut
    assert(out.map(_._1).toSeq === Seq(0L, 0L, 0L, 1L, 1L, 1L))
    assert(out.map(_._3).toSet === Set(100L, 101L, 102L, 200L, 201L, 202L))
    // rank 1 is the centroid-aligned vector with centrality 1.0
    assert(out.filter(_._2 == 1L).map(r => (r._1, r._3, r._4)).toSeq ===
      Seq((0L, 100L, 1.0), (1L, 200L, 1.0)))
    // centrality is non-increasing within each cell
    out.groupBy(_._1).values.foreach { cell =>
      val cs = cell.sortBy(_._2).map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("nearDupPairs respects threshold and id-gap bounds") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.999f, 0.04f)), (5L, Array(1f, 0.01f)),
      (40L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(vecs, 0.9, 10)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 5L)) && pairs.contains((1L, 5L)))
    assert(!pairs.exists(_._2 == 40L)) // outside the gap window
  }

  test("hash tables / LSH hand back unpersisted frames and an empty SQL cache") {
    val sh = Dedup.shingleHashTable(docs, "doc_id", "text")
    val tk = Dedup.tokenHashTable(docs, "doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text")
    assert(pairs.count() > 0)
    for (df <- Seq(sh, tk)) {
      assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
      assert(df.count() === 4) // still materializable after the internal release
    }
    val jac = Dedup.jaccardWithinGap(docs, "doc_id", "text", 3)
    assert(jac.count() > 0)
    assert(org.apache.spark.sql.GraftSqlBridge.sqlCacheIsEmpty(spark),
      "a dedup operator left a caller-orphaned entry in the SQL cache")
  }

  test("detach uses reliable checkpoint files when a checkpoint dir is set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    try {
      val out = Dedup.connectedComponentsStar(
        (1L to 4L).toDF("id"), Seq((1L, 2L)).toDF("id_a", "id_b"))
      assert(out.count() === 4)
      assert(out.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
      // the reliable path actually wrote checkpoint data
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      assert(files(dir).nonEmpty, "no reliable checkpoint files were written")
    } finally {
      spark.sparkContext.setCheckpointDir(null) // restore local-checkpoint mode
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("nearest_centroid matches CosineSimilarity ranking on length-mismatched vectors") {
    import graft.functions.GraftFunctions.{cosine_similarity, nearest_centroid}
    // probe has 4 dims; centroids have 2 and 6 — norms must cover the same
    // min span as the dot, or assignment disagrees with the scored join.
    val centIds = Seq(10L, 20L)
    val centVecs = Seq(Seq(0.9, 0.1), Seq(0.5, 0.5, 0.5, 0.5, 0.5, 0.5))
    val probes = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(0.4, 0.4, 0.9, 0.9)),
      (2L, Array(0.7, 0.2, 0.1, 0.0))).toDF("vec_id", "embedding")
    val assigned = probes.select(col("vec_id"),
      nearest_centroid(col("embedding"), centIds, centVecs).as("cell_id"))
      .as[(Long, Long)].collect().toMap
    // oracle: argmax over the pairwise CosineSimilarity scores
    val cents = centIds.zip(centVecs).toDF("cell_id", "cvec")
    val expected = probes.crossJoin(cents)
      .withColumn("cos", cosine_similarity(col("embedding"), col("cvec")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("vec_id")
          .orderBy(col("cos").desc, col("cell_id").asc)))
      .where(col("rn") === 1)
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    assert(assigned === expected)
  }

  test("assignCells rejects null centroid ids/embeddings with a clear message") {
    val vecs = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val nullVec = Seq((1L, Array(1.0, 0.0)), (2L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.assignCells(vecs, nullVec)
    }
    assert(e1.getMessage.contains("null embedding"))
    val nullId = Seq((java.lang.Long.valueOf(1L), Array(1.0, 0.0)),
      (null.asInstanceOf[java.lang.Long], Array(0.0, 1.0))).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.assignCellsMulti(vecs, nullId, 1)
    }
    assert(e2.getMessage.contains("null vec_id"))
  }

  test("NaN-embedding probes assign to the FIRST centroid, pinning the SQL divergence") {
    // NearestCentroid's documented fallback: a NaN probe element makes
    // every cosine NaN, no comparison wins, and the seeded loop returns
    // ids(0) — the first centroid in COLLECTION order. SQL oracles rank
    // NaN cosines greatest (a max-by over NaN picks differently), so any
    // future oracle-paired query over NaN embeddings MUST pre-filter them
    // (q90's documents are NaN-free by fixture). This test is the pin: if
    // the fallback ever changes, the divergence note in
    // NearestCentroid.scala goes stale and this fails.
    val cents = Seq((7L, Array(0.0, 1.0)), (3L, Array(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val probes = Seq(
      (0L, Array(Double.NaN, 1.0)),  // NaN poisons every cosine
      (1L, Array(1.0, 0.0))          // sanity: clean probe still argmaxes
    ).toDF("vec_id", "embedding")
    val got = Similarity.assignCells(probes, cents)
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    assert(got(0L) === 7L, "NaN probe must fall back to the first centroid in collection order")
    assert(got(1L) === 3L)
  }

  // --- product quantization ---

  // m=2 subspaces of 2 dims; per-subspace codebook {(1,0), (0,1)}
  private lazy val gridBooks = Seq(
    (0, 0, Seq(1.0, 0.0)), (0, 1, Seq(0.0, 1.0)),
    (1, 0, Seq(1.0, 0.0)), (1, 1, Seq(0.0, 1.0))
  ).toDF("subspace", "code", "centroid")
  private lazy val gridVecs = Seq(
    (0L, Seq(1.0, 0.0, 1.0, 0.0)),
    (1L, Seq(1.0, 0.0, 0.0, 1.0)),
    (2L, Seq(0.0, 1.0, 1.0, 0.0)),
    (3L, Seq(0.0, 1.0, 0.0, 1.0))
  ).toDF("vec_id", "embedding")

  test("pqEncode maps on-grid vectors to their exact codes") {
    val got = Similarity.pqEncode(gridVecs, gridBooks)
      .orderBy("vec_id").as[(Long, Seq[Int])].collect()
    assert(got === Array((0L, Seq(0, 0)), (1L, Seq(0, 1)),
      (2L, Seq(1, 0)), (3L, Seq(1, 1))))
  }

  test("pqTopK (ADC) equals bruteForceTopK when vectors sit on the codebook grid") {
    // reconstruction is exact on the grid, so the ADC cosine IS the cosine
    val codes = Similarity.pqEncode(gridVecs, gridBooks)
    val adc = Similarity.pqTopK(codes, gridBooks, gridVecs, 3)
      .orderBy("probe_id", "rank")
      .as[(Long, Long, Long, Double)].collect()
    val exact = Similarity.bruteForceTopK(gridVecs, gridVecs, 3)
      .orderBy("probe_id", "rank")
      .as[(Long, Long, Long, Double)].collect()
    assert(adc === exact)
  }

  test("fitPqCodebooks recovers separated subspace clusters; codes are dense") {
    // both subspaces cluster at +10 and -10; seeds (ids 0, 1) land one per
    // cluster, so 4 Lloyd rounds converge to the two means
    val data = (0L until 40L).map { i =>
      val s = if (i % 2 == 0) 10.0 else -10.0
      val jitter = (i % 3) * 0.1
      (i, Seq(s + jitter, s, s + jitter, s))
    }.toDF("vec_id", "embedding")
    val books = Similarity.fitPqCodebooks(data, m = 2, ksub = 2, iterations = 4)
    val rows = books.orderBy("subspace", "code")
      .as[(Int, Int, Seq[Double])].collect()
    assert(rows.map(r => (r._1, r._2)).toSeq ===
      Seq((0, 0), (0, 1), (1, 0), (1, 1)))
    rows.foreach { case (_, _, c) =>
      assert(math.abs(math.abs(c.head) - 10.0) < 0.5, s"centroid $c not near +/-10")
    }
    // every even id shares a code, every odd id the other, in both subspaces
    val codes = Similarity.pqEncode(data, books)
      .select(col("vec_id"), element_at(col("codes"), 1).as("c0"),
        element_at(col("codes"), 2).as("c1"))
      .as[(Long, Int, Int)].collect()
    val (even, odd) = codes.partition(_._1 % 2 == 0)
    assert(even.map(_._2).distinct.length === 1 && odd.map(_._2).distinct.length === 1)
    assert(even.head._2 !== odd.head._2)
    assert(even.map(_._3).distinct.length === 1 && odd.map(_._3).distinct.length === 1)
  }

  test("pqEncode throws on wrong-length vectors instead of silently nulling") {
    val bad = Seq((0L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.pqEncode(bad, gridBooks).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("pq_encode expects vectors of length 4")),
      s"unexpected error chain: ${chain(e).mkString(" | ")}")
  }

  test("collectPqCodebooks-backed ops reject sparse code ranges loudly") {
    val gappy = Seq((0, 0, Seq(1.0, 0.0)), (0, 2, Seq(0.0, 1.0)))
      .toDF("subspace", "code", "centroid")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqEncode(gridVecs, gappy)
    }
    assert(e.getMessage.contains("not dense"))
  }

  test("binarySignPack + hammingTopK: sign-bit packing and exact Hamming ranks") {
    val a = Seq(1.0, -1.0, 1.0, -1.0)  // bits 1,3 -> lo = 1 + 4 = 5
    val b = Seq(1.0, -1.0, 1.0, 1.0)   // bits 1,3,4 -> lo = 13; ham(a,b)=1
    val c = Seq(-1.0, 1.0, -1.0, 1.0)  // complement of a -> ham(a,c)=4
    val d = Seq(0.0, 0.0, 0.0, 0.0)    // zeros count as >= 0: lo = 15
    val df = Seq((0L, a), (1L, b), (2L, c), (3L, d)).toDF("vec_id", "embedding")
    val packed = Similarity.binarySignPack(df)
      .orderBy("vec_id").as[(Long, Long, Long)].collect()
    assert(packed === Array((0L, 5L, 0L), (1L, 13L, 0L), (2L, 10L, 0L), (3L, 15L, 0L)))
    val top = Similarity.hammingTopK(df, df.where(col("vec_id") === 0), 3)
      .orderBy("rank").as[(Long, Long, Long, Int)].collect()
    // from a: b differs in bit 4 (ham 1), d in bits 2,4 (ham 2), c in all (ham 4)
    assert(top === Array((0L, 1L, 1L, 1), (0L, 2L, 3L, 2), (0L, 3L, 2L, 4)))
    intercept[IllegalArgumentException](Similarity.hammingTopK(df, df, 0))
    // a null vector packs to null words and its hamming is skipped, not 0
    val withNull = df.union(
      Seq((7L, null.asInstanceOf[Seq[Double]])).toDF("vec_id", "embedding"))
    val np = Similarity.binarySignPack(withNull).where(col("vec_id") === 7)
      .select("b_lo", "b_hi").head()
    assert(np.isNullAt(0) && np.isNullAt(1))
    val topN = Similarity.hammingTopK(withNull, df.where(col("vec_id") === 0), 4)
      .select("neighbor_id").as[Long].collect()
    assert(!topN.contains(7L), s"null vector competed as a neighbor: ${topN.toSeq}")
    // > 64 dims must fail loudly, not silently rank by the first 64
    val wide = Seq((0L, Seq.fill(65)(1.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception](Similarity.binarySignPack(wide).collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("at most 64 dims")),
      s"unexpected chain: ${chain(e).mkString(" | ")}")
  }

  test("ivfPqTopK handles heterogeneous subspace widths (per-book offsets)") {
    // subspace 0 is 1-dim, subspace 1 is 3-dim; one zero cell so the
    // residual IS the vector and ivfPqTopK must equal pqTopK exactly
    val hetBooks = Seq(
      (0, 0, Seq(1.0)), (0, 1, Seq(-1.0)),
      (1, 0, Seq(1.0, 0.0, 0.0)), (1, 1, Seq(0.0, 1.0, 0.0))
    ).toDF("subspace", "code", "centroid")
    val zeroCell = Seq((500L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val vecs = Seq(
      (0L, Seq(1.0, 1.0, 0.0, 0.0)),
      (1L, Seq(-1.0, 0.0, 1.0, 0.0)),
      (2L, Seq(1.0, 0.0, 1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val flat = Similarity.pqTopK(
      Similarity.pqEncode(vecs, hetBooks), hetBooks, vecs, 2)
      .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
    val ivf = Similarity.ivfPqTopK(
      Similarity.ivfPqEncode(vecs, zeroCell, hetBooks), zeroCell, hetBooks,
      vecs, 2, nprobe = 1)
      .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
    assert(ivf === flat)
  }

  test("ivfPqTopK distributed-probe join equals the broadcast-probe path") {
    // broadcastProbes only chooses the JOIN STRATEGY for the cell-id join
    // (shuffle equi-join vs broadcast) — the per-row PqLut tables and ADC
    // scores are identical expressions on both paths, so a corpus-sized
    // probe set (q191: probes = the whole embeddings table) must return
    // bit-identical rankings to the classic broadcast serve shape.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).where(col("vec_id") < 64)
    val cents = Similarity.trainCentroids(emb, 4, 2)
    val books = Similarity.fitIvfPqCodebooks(emb, cents, m = 4, ksub = 8,
      iterations = 2)
    val enc = Similarity.ivfPqEncode(emb, cents, books)
    def run(bcast: Boolean) =
      Similarity.ivfPqTopK(enc, cents, books, emb, 3, nprobe = 2,
        broadcastProbes = bcast)
        .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
    assert(run(bcast = false) === run(bcast = true))
    // and the distributed path carries no MANDATORY broadcast: with the
    // auto-broadcast threshold off, the cell-id join plans as a shuffle
    // join (at real scale Spark/AQE picks the strategy from actual sizes;
    // the hintless plan is what makes corpus-sized probe sets legal).
    // Results under the forced-shuffle plan stay bit-identical.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def planOf(bcast: Boolean): String =
        Similarity.ivfPqTopK(enc, cents, books, emb, 3, nprobe = 2,
          broadcastProbes = bcast)
          .queryExecution.executedPlan.toString
      def nShuffleJoins(plan: String): Int =
        ("SortMergeJoin".r.findAllIn(plan).length
          + "ShuffledHashJoin".r.findAllIn(plan).length)
      // the bounded centroid-shift and salt-factor joins are
      // hint-broadcast on their paths (model state / one-row-per-cell);
      // the SCORED cell join is the one that must not be a mandatory
      // broadcast when broadcastProbes=false — that hintless shuffle join
      // is what makes corpus-sized probe sets legal (Spark/AQE then picks
      // the strategy from actual sizes at real scale)
      assert(nShuffleJoins(planOf(bcast = true)) === 0,
        "broadcast serve shape must carry zero shuffle joins")
      assert(nShuffleJoins(planOf(bcast = false)) === 1,
        "distributed path must join codes to LUTs with exactly one shuffle join")
      // and the forced-shuffle plan's results stay bit-identical
      assert(Similarity.ivfPqTopK(enc, cents, books, emb, 3, nprobe = 2,
        broadcastProbes = false)
        .orderBy("probe_id", "rank")
        .as[(Long, Long, Long, Double)].collect() === run(bcast = true))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("ivfPqTopK hot-cell salting: forced max-salt output is bit-identical") {
    // codesPerSalt=1 forces every cell to split into min(count_c, maxSalt)
    // salt buckets — the most aggressive salting the operator can apply.
    // Salting only repartitions the SAME (code, LUT) pairs across tasks
    // (corpus rows hash to one deterministic salt, LUT rows replicate
    // across all of them), so the ranking must be bit-identical to the
    // broadcast serve shape, and the salt machinery must actually be in
    // the executed plan (a regression that silently drops the salt would
    // otherwise still pass the identity check).
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).where(col("vec_id") < 64)
    val cents = Similarity.trainCentroids(emb, 4, 2)
    val books = Similarity.fitIvfPqCodebooks(emb, cents, m = 4, ksub = 8,
      iterations = 2)
    val enc = Similarity.ivfPqEncode(emb, cents, books)
    val salted = Similarity.ivfPqTopK(enc, cents, books, emb, 3, nprobe = 2,
      broadcastProbes = false, codesPerSalt = 1, maxSalt = 7)
    assert(salted.queryExecution.executedPlan.toString.contains("_salt"),
      "max-salt plan does not contain the salt key")
    assert(salted.orderBy("probe_id", "rank")
      .as[(Long, Long, Long, Double)].collect()
      === Similarity.ivfPqTopK(enc, cents, books, emb, 3, nprobe = 2)
        .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect())
    // same contract on the raw IVF tier, which shares saltedCellJoin
    val rawSalted = Similarity.ivfTopK(emb, cents, emb, 3, nprobe = 2,
      broadcastProbes = false, codesPerSalt = 1, maxSalt = 7)
      .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
    assert(rawSalted === Similarity.ivfTopK(emb, cents, emb, 3, nprobe = 2)
      .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect())
    // the balanced-distribution escape hatch (codesPerSalt = MaxValue):
    // no salt fit, no salt key in the plan, same rows
    val plainDf = Similarity.ivfPqTopK(enc, cents, books, emb, 3, nprobe = 2,
      broadcastProbes = false, codesPerSalt = Long.MaxValue)
    assert(!plainDf.queryExecution.executedPlan.toString.contains("_salt"),
      "escape hatch still built the salt machinery")
    assert(plainDf.orderBy("probe_id", "rank")
      .as[(Long, Long, Long, Double)].collect()
      === salted.orderBy("probe_id", "rank")
        .as[(Long, Long, Long, Double)].collect())
    // EMPTY probed cell: the salt frame's inner join prunes probe rows
    // aimed at codeless cells pre-shuffle — results must still equal the
    // broadcast path (which carries those rows to a fruitless join).
    // Encode only half the corpus so some of each probe's nprobe=2 cells
    // hold zero codes.
    val encHalf = Similarity.ivfPqEncode(emb.where(col("vec_id") % 2 === 0),
      cents, books)
    def runHalf(bcast: Boolean, cps: Long) =
      Similarity.ivfPqTopK(encHalf, cents, books, emb, 3, nprobe = 2,
        broadcastProbes = bcast, codesPerSalt = cps, maxSalt = 7)
        .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
    val bcastHalf = runHalf(bcast = true, cps = 8192L)
    assert(runHalf(bcast = false, cps = 1L) === bcastHalf)
    assert(runHalf(bcast = false, cps = Long.MaxValue) === bcastHalf)
  }

  test("rerankTopK: wide shortlist converges to exact brute-force top-k") {
    // shortlist spanning the whole corpus makes stage 2 = brute force
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val probes = emb.where(col("vec_id") < 4)
    val rr = Similarity.rerankTopK(emb, probes, shortlist = 499, k = 5)
      .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
    val bf = Similarity.bruteForceTopK(emb, probes, 5)
      .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
    assert(rr === bf)
    intercept[IllegalArgumentException](
      Similarity.rerankTopK(emb, probes, shortlist = 3, k = 5))
  }

  test("ivfPq: exact on the shifted grid; encode agrees with assignCells") {
    // 2 cells at (+1, +1, +1, +1) and (-1, -1, -1, -1); residual codebook
    // = gridBooks; vectors = cell centroid + on-grid residual, so the ADC
    // reconstruction is EXACT and IVF-PQ top-k equals brute force
    val cents = Seq((100L, Seq(1.0, 1.0, 1.0, 1.0)),
      (200L, Seq(-1.0, -1.0, -1.0, -1.0))).toDF("vec_id", "embedding")
    val vecs = Seq(
      (0L, Seq(2.0, 1.0, 2.0, 1.0)),   // cell 100 + (1,0,1,0)
      (1L, Seq(2.0, 1.0, 1.0, 2.0)),   // cell 100 + (1,0,0,1)
      (2L, Seq(-1.0, 0.0, 0.0, -1.0)), // cell 200 + (0,1,1,0)
      (3L, Seq(0.0, -1.0, -1.0, 0.0))  // cell 200 + (1,0,0,1)... (0,1)(1,0)? codes don't matter: on-grid
    ).toDF("vec_id", "embedding")
    val enc = Similarity.ivfPqEncode(vecs, cents, gridBooks)
    val cells = Similarity.assignCells(vecs, cents)
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    val encCells = enc.select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    assert(encCells === cells)
    val adc = Similarity.ivfPqTopK(enc, cents, gridBooks, vecs, 3, nprobe = 2)
      .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
    val exact = Similarity.bruteForceTopK(vecs, vecs, 3)
      .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
    assert(adc === exact)
    intercept[IllegalArgumentException](
      Similarity.ivfPqTopK(enc, cents, gridBooks, vecs, 3, nprobe = 0))
  }

  test("fuzzyDedupKeepFirst keeps the smallest-id member per near-dup cluster") {
    import graft.operators.Dedup
    // 1, 5, 9 share identical text (one LSH cluster); 3 and 7 are unique.
    // The long distinct texts keep shingle sets disjoint across clusters.
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, dup), (5L, dup), (9L, dup),
      (3L, "completely different legal boilerplate paragraph about nothing shared"),
      (7L, "yet another unrelated body of text with its own vocabulary entirely"))
      .toDF("doc_id", "text")
    val kept = Dedup.fuzzyDedupKeepFirst(docs, "doc_id", "text")
    // original schema intact, canonical members only, no duplicates
    assert(kept.columns.toSeq === Seq("doc_id", "text"))
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(1L, 3L, 7L))
    // idempotent: scrubbing the scrubbed corpus changes nothing
    val again = Dedup.fuzzyDedupKeepFirst(kept, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(again === Array(1L, 3L, 7L))
  }

  test("fuzzyDedupKeepBest keeps the highest-quality member, ties by smallest id") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    // 1, 5, 9 near-dup cluster with qualities 10, 30, 30: winner is 5
    // (max quality, then smallest id) — NOT keep-first's 1.
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, dup, 10L), (5L, dup, 30L), (9L, dup, 30L),
      (3L, "completely different legal boilerplate paragraph about nothing shared", 1L),
      (7L, "yet another unrelated body of text with its own vocabulary entirely", 2L))
      .toDF("doc_id", "text", "quality")
    val kept = Dedup.fuzzyDedupKeepBest(docs, "doc_id", "text", col("quality"))
    assert(kept.columns.toSeq === Seq("doc_id", "text", "quality"))
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(3L, 5L, 7L))
    // idempotent, and singleton clusters always survive regardless of quality
    val again = Dedup.fuzzyDedupKeepBest(kept, "doc_id", "text", col("quality"))
      .select("doc_id").as[Long].collect().sorted
    assert(again === Array(3L, 5L, 7L))
  }

  test("tau gate: colliding-but-dissimilar pair is NOT merged; near-dup still is") {
    import graft.operators.Dedup
    // doc 4 shares base's first 8 tokens + a distinct tail: ONE signature
    // band collides (so LSH emits the candidate pair) but only 6/16 slots
    // match (est_jaccard 0.375) — the false-positive shape that merges
    // unrelated dup families at corpus scale. doc 1 is a true near-dup
    // (est 0.875). Values pinned by replicating the MinHash arithmetic
    // offline; the assertions below re-derive them from lshCandidatePairs.
    val collider = "the quick brown fox jumps over the lazy alpha0 bravo1 charlie2"
    val corpus = Seq(
      (0L, base), (1L, base.replace("village", "hamlet")), (3L, base),
      (4L, collider)).toDF("doc_id", "text")
    val est = Dedup.lshCandidatePairs(corpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(est((0L, 4L)) === 0.375) // candidate exists, similarity is low
    assert(est((0L, 1L)) === 0.875)
    // no gate: the false edge deletes doc 4
    val loose = Dedup.fuzzyDedupKeepFirst(corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(loose === Array(0L))
    // tau=0.8: doc 4 survives, the true near-dups still merge
    val gated = Dedup.fuzzyDedupKeepFirst(corpus, "doc_id", "text", tau = Some(0.8))
      .select("doc_id").as[Long].collect().sorted
    assert(gated === Array(0L, 4L))
    // keep-best honors the same gate
    val best = Dedup.fuzzyDedupKeepBest(corpus, "doc_id", "text",
      org.apache.spark.sql.functions.length(col("text")), tau = Some(0.8))
      .select("doc_id").as[Long].collect().sorted
    assert(best.length === 2 && best.contains(4L))
  }

  test("corpusDiff classifies added/removed/changed/unchanged by id + fingerprint") {
    import graft.operators.Dedup
    val oldGen = Seq((1L, "stable text"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val newGen = Seq((1L, "stable text"), (2L, "has changed"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = Dedup.corpusDiff(oldGen, newGen, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(got === Array((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")))
  }

  test("incrementalFuzzyDedupKeepFirst: index hits drop, batch clusters keep-first, index grows") {
    import graft.operators.Dedup
    def words(seed: String, n: Int) = (1 to n).map(i => s"$seed$i").mkString(" ")
    val t1 = words("alpha", 40)
    val t2 = words("beta", 40)
    val index = Dedup.lshIndex(Seq((0L, t1)).toDF("doc_id", "text"), "doc_id", "text")
    assert(index.columns.toSeq === Seq("band", "bkey", "id", "sig"))
    val wave = Seq(
      (10L, t1 + " trailing footer"),  // near-dup re-crawl of indexed text: drop
      (11L, t2),                       // genuinely new: keep
      (12L, t2 + " minor tail")        // intra-batch near-dup of 11: keep-first drops it
    ).toDF("doc_id", "text")
    // preconditions: the seeded pairs really clear the tau gate
    val est = Dedup.lshCandidatePairs(
      Seq((0L, t1), (10L, t1 + " trailing footer"), (11L, t2), (12L, t2 + " minor tail"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(est((0L, 10L)) >= 0.8 && est((11L, 12L)) >= 0.8, s"fixture too weak: $est")
    val kept = Dedup.incrementalFuzzyDedupKeepFirst(wave, "doc_id", "text", index, tau = 0.8)
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(11L))
    // growing the index by the survivors makes a re-run drop everything
    val grown = Dedup.growLshIndex(index, kept, "doc_id", "text")
    assert(Dedup.incrementalFuzzyDedupKeepFirst(wave, "doc_id", "text", grown, tau = 0.8)
      .count() === 0L)
    // and a fresh near-dup of the GROWN content (t2 family) now drops too
    val wave2 = Seq((20L, t2 + " other tail"), (21L, words("gamma", 40)))
      .toDF("doc_id", "text")
    val s2 = Dedup.incrementalFuzzyDedupKeepFirst(wave2, "doc_id", "text", grown, tau = 0.8)
    assert(s2.select("doc_id").as[Long].collect().sorted === Array(21L))
    intercept[IllegalArgumentException](
      Dedup.incrementalFuzzyDedupKeepFirst(wave, "doc_id", "text", index, tau = 0.0))
  }

  test("corpusDiff nearHamming splits changed into re-rendered vs rewritten") {
    import graft.operators.Dedup
    val base = "spark shuffle partition broadcast join aggregate window filter scan codegen"
    val oldGen = Seq(
      (1L, base),                    // one-token re-render in new gen
      (2L, base),                    // rewritten from scratch in new gen
      (3L, base),                    // byte-identical
      (4L, base)                     // removed
    ).toDF("doc_id", "text")
    val newGen = Seq(
      (1L, base + " updated"),
      (2L, "entirely novel words nothing shared whatsoever here today"),
      (3L, base),
      (5L, base)                     // added
    ).toDF("doc_id", "text")
    val got = Dedup.corpusDiff(oldGen, newGen, "doc_id", "text", nearHamming = Some(3))
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(got === Array((1L, "re-rendered"), (2L, "rewritten"),
      (3L, "unchanged"), (4L, "removed"), (5L, "added")))
    // default mode is unchanged-vs-changed exactly as before
    val legacy = Dedup.corpusDiff(oldGen, newGen, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect()
    assert(legacy === Array((1L, "changed"), (2L, "changed"),
      (3L, "unchanged"), (4L, "removed"), (5L, "added")))
    intercept[IllegalArgumentException](
      Dedup.corpusDiff(oldGen, newGen, "doc_id", "text", nearHamming = Some(16)))
  }

  test("incremental dedup across TWO generations: grown index drops wave-1 re-crawls") {
    import graft.operators.Dedup
    def doc(id: Long, t: String) = (id, t)
    val gen0 = Seq(doc(0L, "alpha body"), doc(3L, "beta body")).toDF("doc_id", "text")
    val seen0 = Dedup.fingerprints(gen0, "text")
    // wave 1: new doc 10, re-crawl of gen-0 "alpha body" (drop), intra-batch dup of 10
    val wave1 = Seq(doc(10L, "gamma body"), doc(11L, "alpha body"), doc(12L, "gamma body"))
      .toDF("doc_id", "text")
    val s1 = Dedup.incrementalDedupKeepFirst(wave1, "doc_id", "text", seen0)
    assert(s1.select("doc_id").as[Long].collect().sorted === Array(10L))
    // the index grows by wave 1's survivors...
    val seen1 = Dedup.growFingerprints(seen0, s1, "text")
    assert(seen1.count() === 3) // alpha, beta, gamma — distinct texts only
    // ...so wave 2 drops a re-crawl of wave-1 content (NOT in gen 0),
    // still drops gen-0 content, and admits the genuinely new doc
    val wave2 = Seq(doc(20L, "delta body"), doc(21L, "gamma body"), doc(22L, "beta body"))
      .toDF("doc_id", "text")
    val s2 = Dedup.incrementalDedupKeepFirst(wave2, "doc_id", "text", seen1)
    assert(s2.select("doc_id").as[Long].collect().sorted === Array(20L))
    // control: against the UNGROWN index the wave-1 re-crawl would survive
    val stale = Dedup.incrementalDedupKeepFirst(wave2, "doc_id", "text", seen0)
    assert(stale.select("doc_id").as[Long].collect().sorted === Array(20L, 21L))
  }

  test("lineDedupInDoc drops intra-doc line repeats, keeps first occurrence in order") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "nav\nbody one\nnav\nbody two\nnav"),   // repeated nav bar
      (2L, "a\nb\nc"),                              // no repeats: unchanged
      (3L, "x"),                                    // single line
      (4L, "\nq\n\nq\n")                            // empty lines dedup too
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedupInDoc(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got === Array(
      (1L, 5L, 2L, "nav\nbody one\nbody two"),
      (2L, 3L, 0L, "a\nb\nc"),
      (3L, 1L, 0L, "x"),
      (4L, 5L, 3L, "\nq")))
    // zero-shuffle claim: the plan has no Exchange at all
    val plan = Dedup.lineDedupInDoc(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"lineDedupInDoc must be map-only:\n$plan")
  }

  test("incrementalDedupKeepFirst: seen fingerprints drop, intra-batch dups keep-first") {
    import graft.operators.Dedup
    val seen = Dedup.fingerprints(
      Seq((1L, "already ingested page"), (2L, "another known page")).toDF("doc_id", "text"),
      "text")
    assert(seen.columns.toSeq === Seq("h"))
    val batch = Seq(
      (10L, "a genuinely new page"),
      (11L, "already ingested page"),   // re-crawl of seen text: drop
      (12L, "a genuinely new page"),    // intra-batch dup of 10: drop (10 < 12)
      (13L, "another new page"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalDedupKeepFirst(batch, "doc_id", "text", seen)
    assert(kept.columns.toSeq === Seq("doc_id", "text"))
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(10L, 13L))
    // feeding the batch's survivors into the index makes a re-run drop everything
    val seen2 = seen.unionByName(Dedup.fingerprints(kept, "text")).distinct()
    assert(Dedup.incrementalDedupKeepFirst(batch, "doc_id", "text", seen2).count() === 0L)
  }

  test("wide (128-bit) fingerprint mode: same survivors, struct key, grows correctly") {
    import graft.operators.Dedup
    import org.apache.spark.sql.types.StructType
    val seen = Dedup.fingerprints(
      Seq((1L, "already ingested page"), (2L, "another known page")).toDF("doc_id", "text"),
      "text", wide = true)
    // the wide key is a 2-long struct, not the ~30-bit poly fold
    assert(seen.schema("h").dataType.isInstanceOf[StructType])
    val batch = Seq(
      (10L, "a genuinely new page"),
      (11L, "already ingested page"),   // re-crawl: drop
      (12L, "a genuinely new page"),    // intra-batch dup of 10: drop
      (13L, "another new page"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalDedupKeepFirst(batch, "doc_id", "text", seen, wide = true)
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(10L, 13L))
    val grown = Dedup.growFingerprints(seen, kept, "text", wide = true)
    assert(grown.count() === 4L) // 2 seen + 2 distinct new texts
    assert(Dedup.incrementalDedupKeepFirst(batch, "doc_id", "text", grown, wide = true)
      .count() === 0L)
  }

  test("bandedHammingPairs rejects bands that do not tile the fingerprint width") {
    import graft.operators.Dedup
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta")).toDF("doc_id", "text")
    // 3 bands x 4 bits = 12 < 16: bits 12-15 would never be banded and pairs
    // differing only there silently lost — must fail loudly instead
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 1,
        bitsPerBand = 4, nBands = 3).collect()
    }
    assert(e.getMessage.contains("unbanded"))
    // 8x2=16 and 2x8=16 both tile: legal alternate bandings still run
    assert(Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 1,
      bitsPerBand = 2, nBands = 8).columns.length === 3)
  }

  test("pq_cosine rejects codes beyond the OWNING subspace's book size") {
    // heterogeneous books (sizes 3 and 1, stride K = 3): code 2 in
    // subspace 1 lands on a zero-filled pad slot — under the old
    // stride-only bound it read 0.0 and silently mis-ranked; the
    // book-size tail makes it throw
    import graft.functions.PqCosine
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val (m, kMax) = (2, 3)
    val lut = new Array[Double](2 * m * kMax + 1 + m)
    for (j <- 0 until m; c <- 0 until kMax) {
      lut(j * kMax + c) = 1.0          // dots
      lut(m * kMax + j * kMax + c) = 1.0 // norms
    }
    lut(2 * m * kMax) = 1.0            // probe norm
    lut(2 * m * kMax + 1) = 3.0        // subspace 0 book size
    lut(2 * m * kMax + 2) = 1.0        // subspace 1 book size
    val kernel = PqCosine(Literal.create(null, ArrayType(DoubleType)),
      Literal.create(null, ArrayType(DoubleType)))
    def score(codes: Int*) =
      kernel.kernel(new GenericArrayData(codes.toArray), new GenericArrayData(lut))
    assert(score(2, 0) > 0.0)          // valid: inside both books
    val err = intercept[IllegalArgumentException](score(2, 2))
    assert(err.getMessage.contains("[0, 1)") && err.getMessage.contains("subspace 1"))
    intercept[IllegalArgumentException](score(3, 0)) // beyond stride too
  }

  test("IVF-PQ index round-trips through parquet with identical topK") {
    // a real Lloyd fit (not the exact grid): the round-trip must preserve
    // the search result bit-for-bit, including float centroid values
    val corpus = (0L until 64L).map { i =>
      (i, Seq.tabulate(8)(d => math.sin(i * 0.37 + d * 1.13) + (if (i % 2 == 0) 1.0 else -1.0)))
    }.toDF("vec_id", "embedding")
    val probes = corpus.where(col("vec_id") < 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toFile
    try {
      val cents = Similarity.trainCentroids(corpus, 4, 2)
      val books = Similarity.fitIvfPqCodebooks(corpus, cents, m = 4, ksub = 8,
        iterations = 2)
      val enc = Similarity.ivfPqEncode(corpus, cents, books)
      val direct = Similarity.ivfPqTopK(enc, cents, books, probes, 5, nprobe = 2)
        .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
      Similarity.saveIvfPqIndex(dir.getPath,
        Similarity.IvfPqIndex(cents, books, enc))
      val loaded = Similarity.loadIvfPqIndex(spark, dir.getPath)
      val viaDisk = Similarity.ivfPqTopK(loaded.encoded, loaded.centroids,
        loaded.codebooks, probes, 5, nprobe = 2)
        .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
      assert(viaDisk === direct)
      // buildIvfPqIndex (fit + persist + reload in one call) serves the
      // same result from a fresh directory
      val dir2 = java.nio.file.Files.createTempDirectory("graft-ivfpq2").toFile
      try {
        val built = Similarity.buildIvfPqIndex(corpus, dir2.getPath,
          nCells = 4, m = 4, ksub = 8, iterations = 2)
        val viaBuild = Similarity.ivfPqTopK(built.encoded, built.centroids,
          built.codebooks, probes, 5, nprobe = 2)
          .orderBy("probe_id", "rank").as[(Long, Long, Long, Double)].collect()
        assert(viaBuild === direct)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("scrubAgainstIvfPqIndex: stable-id re-crawls drop; empty and null-row waves degrade gracefully") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    // q223's exact point-mass fixture: index ids 0-15
    val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
    def member(c: Int, v: Seq[Double]): Seq[Double] =
      Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
    val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
      (for (c <- 0 until 4; j <- 0 until 3)
        yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(corpus, 4, 3)
    val books = Similarity.fitIvfPqCodebooks(corpus, cents, m = 4, ksub = 16,
      iterations = 3)
    val idx = Similarity.IvfPqIndex(cents, books,
      Similarity.ivfPqEncode(corpus, cents, books))
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = true),
      StructField("embedding", ArrayType(DoubleType), nullable = true)))
    // the r19 ADVICE regression: a re-crawl KEEPING its stable reference
    // id (15) must still be matched against its identically-id'd twin
    // (ADC cosine exactly 1.0) and drop — a probe-side self-filter would
    // silently let the exact duplicate survive
    val wave = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(15L, member(3, vals(3))),              // stable-id re-crawl: drop
        Row(300L, member(0, Seq(-3.0, -4.0))),     // genuinely new: keep
        Row(null, member(1, vals(0))),             // null id: passthrough
        Row(301L, null))),                         // null vector: passthrough
      schema)
    val out = Similarity.scrubAgainstIvfPqIndex(wave, idx, threshold = 0.9,
        nprobe = 1)
      .select("vec_id").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted
    assert(out === Array(-1L, 300L, 301L), out.toSeq)
    // an empty nightly wave returns itself, not a crash
    assert(Similarity.scrubAgainstIvfPqIndex(wave.where(lit(false)), idx,
      threshold = 0.9).count() === 0)
    // a wave of ONLY unprobeable rows short-circuits the same way
    val nullsOnly = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null, member(1, vals(0))), Row(302L, null))),
      schema)
    assert(Similarity.scrubAgainstIvfPqIndex(nullsOnly, idx,
      threshold = 0.9).count() === 2)
  }

  test("appendToIvfPqIndex on a CENTERED index: the wave is centered with the index mean before encode") {
    // nonzero-mean end-to-end: a centered index's append must encode the
    // wave in the SAME space the index was fit in — appended codes must
    // equal a manual centerVectors + ivfPqEncode of the wave, and a
    // re-crawl of an appended doc must then be caught by the scrub.
    val corpus = (0L until 64L).map { i =>
      (i, Seq.tabulate(8)(d => 2.5 + math.sin(i * 0.37 + d * 1.13)))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-centappend").toFile
    try {
      val idx = Similarity.buildIvfPqIndex(corpus, dir.getPath, nCells = 4,
        m = 4, ksub = 16, iterations = 2, center = true)
      assert(idx.mean.isDefined && idx.mean.get.forall(m => math.abs(m - 2.5) < 1.5))
      val wave = (100L until 108L).map { i =>
        (i, Seq.tabulate(8)(d => 2.5 + math.cos(i * 0.61 + d * 0.83)))
      }.toDF("vec_id", "embedding")
      val grown = Similarity.appendToIvfPqIndex(idx, wave, maxCellFrac = 1.0)
      val appended = grown.encoded.where(col("vec_id") >= 100L)
        .orderBy("vec_id").as[(Long, Long, Seq[Int])].collect()
      val manual = Similarity.ivfPqEncode(
          wave.select(col("vec_id"),
            Similarity.centerVectors(col("embedding"), idx.mean.get).as("embedding")),
          idx.centroids, idx.codebooks)
        .select(col("vec_id").cast("long"), col("cell_id").cast("long"), col("codes"))
        .orderBy("vec_id").as[(Long, Long, Seq[Int])].collect()
      assert(appended === manual,
        "append must center the wave with the index mean before encoding")
      // and the grown index catches re-crawls of the appended wave. The
      // verdict is cos(centered re-crawl, its twin's RECONSTRUCTION):
      // this wave is out-of-fit-distribution (books were fit on the
      // corpus only — the documented drift caveat), so recall is
      // quantization-bounded, not exact: on this fixture 7 of 8
      // reconstructions stay above tau and exactly one falls under it
      // (deterministic). The exact-catch contract is pinned by the
      // in-lattice fixtures (q227 raw, q229 centered); this pins the
      // bounded-recall behavior on a lossy wave.
      val recrawl = wave.select((col("vec_id") + 100L).as("vec_id"), col("embedding"))
      val out = Similarity.scrubAgainstIvfPqIndex(recrawl, grown,
        threshold = 0.9, nprobe = 4)
      assert(out.count() === 1L,
        "expected exactly one quantization-lost re-crawl on this fixture")
      // overwriting the centered index with a RAW refit in the SAME dir
      // must clear the persisted mean — a stale mean/ table would center
      // probes against raw-space codes (silently wrong similarity space)
      Similarity.buildIvfPqIndex(corpus, dir.getPath, nCells = 4,
        m = 4, ksub = 16, iterations = 2, center = false)
      assert(Similarity.loadIvfPqIndex(spark, dir.getPath).mean.isEmpty,
        "raw re-save left the previous centered fit's mean behind")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("scalarQuantize: codes in [0,255], error bounded by scale/2, constant dim -> 0") {
    val data = Seq(
      (0L, Seq(0.0, 5.0, 7.0)),
      (1L, Seq(10.0, 5.0, 3.0)),
      (2L, Seq(2.5, 5.0, -1.0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.scalarQuantize(data)
      .orderBy("vec_id").as[(Long, Seq[Long], Double)].collect()
    // dim bounds: [0,10], [5,5] (constant), [-1,7]
    assert(out.forall(_._2.forall(c => c >= 0 && c <= 255)))
    // endpoints land exactly on codes 0/255; constant dim encodes 0
    assert(out(0)._2(0) === 0L && out(1)._2(0) === 255L)
    assert(out.forall(_._2(1) === 0L))
    // worst per-vector reconstruction error <= half the widest dim's step
    val maxStep = 10.0 / 255.0
    assert(out.forall(_._3 <= maxStep / 2 + 1e-9),
      s"errors ${out.map(_._3).mkString(", ")} exceed ${maxStep / 2}")
    // quantizing the midpoint of dim 0 rounds to a nearby code, not 0/255
    assert(out(2)._2(0) > 50 && out(2)._2(0) < 80)
  }

  test("semanticDedup drops later same-bucket near-dups, keeps firsts") {
    val v1 = Seq(1.0, 0.5, -0.25, 1.0, 0.75, -0.5, 0.3, 1.1)
    val v2 = v1.map(_ * 1.001) // same plane signs -> same bucket; cosine ~ 1
    val v3 = v1.map(x => -x)   // cosine -1 with v1: never a dup at tau=0.95
    val data = Seq((1L, v1), (5L, v2), (9L, v3)).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(data, threshold = 0.95)
      .orderBy("vec_id").as[(Long, Long)].collect()
    assert(out.map(_._1) === Array(1L, 9L), s"got ${out.mkString(", ")}")
    intercept[IllegalArgumentException](Similarity.semanticDedup(data, 0.9, nPlanes = 0))
    intercept[IllegalArgumentException](Similarity.semanticDedup(data, 0.9, nPlanes = 63))
  }

  test("semanticDedupBanded: OR-construction drops a superset of any single band") {
    val emb = graft.meta.Tables.embeddings(spark, sf)
    val single = Similarity.semanticDedup(emb, threshold = 0.35, nPlanes = 6)
      .select("vec_id").as[Long].collect().toSet
    val banded = Similarity.semanticDedupBanded(emb, threshold = 0.35,
      nPlanes = 6, bands = 2).select("vec_id").as[Long].collect().toSet
    // band 0 IS the single-band partition (same plane slice), so every
    // single-band candidate pair is a banded candidate pair: banded
    // survivors can only shrink
    assert(banded.subsetOf(single),
      s"banded kept ids outside the single-band keep set: ${(banded -- single).take(5)}")
    assert(banded.nonEmpty)
    // the second band must genuinely differ from the first (disjoint
    // plane slices) — otherwise the OR adds nothing
    val b0 = Similarity.hyperplaneBuckets(emb, nPlanes = 6)
      .select("bucket").as[Long].collect().toSeq
    val b1 = emb.select(
        graft.operators.Similarity.hyperplaneBucketExpr("embedding", 6, 6).as("b"))
      .select("b").as[Long].collect().toSeq
    assert(b0 !== b1)
    intercept[IllegalArgumentException](
      Similarity.semanticDedupBanded(emb, 0.35, nPlanes = 32, bands = 2))
  }

  test("hyperplane planes are pairwise independent and buckets spread (degeneracy regression)") {
    // The original weights ((d*31 + p*17) % 3 - 1) were linear mod 3, so
    // planes p and p+3 were IDENTICAL: 8 planes carried 3 bits and any
    // corpus collapsed into <= 8 buckets — a quadratic-join scale killer
    // for semanticDedup at real corpus sizes. Pin the fix two ways.
    // (1) the 8 plane weight vectors at 48 dims are pairwise distinct AND
    //     pairwise non-negated (a negated plane re-partitions nothing)
    val weight = (d: Int, p: Int) =>
      ((d * 131 + p + 7).toLong * (d * 137 + p * 149 + 11) % 1009 % 3 - 1).toInt
    val planes = (0 until 8).map(p => (1 to 48).map(d => weight(d, p)))
    for (a <- 0 until 8; b <- a + 1 until 8) {
      assert(planes(a) !== planes(b), s"planes $a and $b identical")
      assert(planes(a) !== planes(b).map(-_), s"planes $a and $b negated")
    }
    // (2) an isotropic 4096-vector corpus must occupy well over 8 buckets
    //     (measured ~250 of 256; the degenerate formula capped at 8)
    val iso = spark.range(4096).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 48), d -> " +
        "CAST(pmod(xxhash64(id, d), 10007) / 10007.0 - 0.5 AS DOUBLE))")
        .as("embedding"))
    val nBuckets = Similarity.hyperplaneBuckets(iso, nPlanes = 8)
      .select("bucket").distinct().count()
    assert(nBuckets > 100, s"bucket spread collapsed: $nBuckets of 256")
  }

  test("semanticDedup center=true: restores bucket spread on a concentrated corpus, keeps finding dups") {
    // The measured LSH concentration limit (BASELINE.md "Round-19:
    // mean-centering closes the LSH concentration hole"): one strong
    // shared direction pins the sign of every plane that weights it, and
    // 256 buckets collapse regardless of
    // the plane family. Mean-centering removes the shared direction.
    // 2048 isotropic 48-dim vectors, all shifted +5.0 on dim 1; ids
    // 0..15 are planted EXACT duplicates of ids 1000..1015 (exact copies
    // so bucket equality and cosine 1.0 hold by construction in centered
    // space too).
    val base = spark.range(2048).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 48), d -> CAST(" +
        "pmod(xxhash64(IF(id < 16, id + 1000, id), d), 10007) / 10007.0 - 0.5" +
        " + IF(d = 1, 5.0, 0.0) AS DOUBLE))").as("embedding"))
    // uncentered: the shared direction collapses the spread
    val rawBuckets = Similarity.hyperplaneBuckets(base, nPlanes = 8)
      .select("bucket").distinct().count()
    assert(rawBuckets < 40, s"expected concentration collapse, got $rawBuckets buckets")
    // centered: spread restored (the mean IS the shared direction here)
    val mu = Similarity.fitMeanVector(base)
    assert(mu.length === 48 && mu(0) > 4.5, s"mean missed the shared direction: ${mu(0)}")
    val centered = base.select(col("vec_id"),
      Similarity.centerVectors(col("embedding"), mu).as("embedding"))
    val cBuckets = Similarity.hyperplaneBuckets(centered, nPlanes = 8)
      .select("bucket").distinct().count()
    assert(cBuckets > 100, s"centered spread not restored: $cBuckets of 256")
    // the centered operator still deduplicates: every planted copy
    // (larger id of its pair) is dropped, its original kept
    val kept = Similarity.semanticDedup(base, threshold = 0.9, center = true)
      .select("vec_id").as[Long].collect().toSet
    for (i <- 0L until 16L) {
      assert(kept.contains(i), s"original $i dropped")
      assert(!kept.contains(i + 1000), s"planted copy ${i + 1000} survived")
    }
    assert(kept.size === 2048 - 16, s"kept ${kept.size}")
  }

  test("semanticDedup center=true: keep-set invariant under a constant corpus offset") {
    // Centered buckets depend on v - mu and offsets cancel; so do
    // centered cosines — so the keep-set must not move when the whole
    // corpus shifts. (The cancellation is exact as reals; in doubles the
    // two runs can differ in last-ulp terms through the 6-dp-rounded
    // mean, which only matters within ~1e-15 of a sign/threshold
    // boundary — this fixture's margins are O(0.1), and the computation
    // is deterministic, so the assertion is stable.) The same offset
    // corpus UNCENTERED collapses to a handful of buckets — the
    // concentration failure the mode exists to fix.
    val base = spark.range(512).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 48), d -> CAST(" +
        "pmod(xxhash64(IF(id < 8, id + 200, id), d), 1024) / 1024.0 - 0.5" +
        " AS DOUBLE))").as("embedding"))
    val shifted = base.select(col("vec_id"),
      expr("transform(embedding, x -> x + 2.5)").as("embedding"))
    val keptBase = Similarity.semanticDedup(base, threshold = 0.9, center = true)
      .select("vec_id").as[Long].collect().toSet
    val keptShift = Similarity.semanticDedup(shifted, threshold = 0.9, center = true)
      .select("vec_id").as[Long].collect().toSet
    assert(keptBase === keptShift)
    // the planted exact copies (ids 200..207 duplicated at 0..7) dropped
    // in both: centering does not cost the operator its job
    assert((200L until 208L).forall(id => !keptBase.contains(id)))
    val rawShiftBuckets = Similarity.hyperplaneBuckets(shifted, nPlanes = 8)
      .select("bucket").distinct().count()
    assert(rawShiftBuckets < 20,
      s"offset corpus should concentrate uncentered, got $rawShiftBuckets buckets")
    // banded variant carries the same centering switch
    val keptBanded = Similarity.semanticDedupBanded(shifted, threshold = 0.9,
      nPlanes = 6, bands = 2, center = true)
      .select("vec_id").as[Long].collect().toSet
    assert((200L until 208L).forall(id => !keptBanded.contains(id)))
    assert(keptBanded.subsetOf(keptShift))
  }

  test("semanticDedup center=true: ragged vector fails loudly instead of escaping dedup") {
    // raw mode tolerates ragged vectors (min-span cosine, per-length
    // planes); centered mode cannot — zip_with would null-pad and the row
    // would silently escape. The guard must throw, naming the widths.
    val ragged = Seq(
      (1L, Seq(1.0, 0.5, -0.25, 1.0)),
      (2L, Seq(1.0, 0.5))).toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Similarity.semanticDedup(ragged, threshold = 0.9, center = true)
        .collect())
    assert(e.getMessage != null && e.getMessage.contains("ragged"),
      s"expected the ragged guard, got: ${e.getMessage}")
    // raw mode on the same frame still runs (the tolerance is per-mode)
    assert(Similarity.semanticDedup(ragged, threshold = 0.9).count() >= 1)
  }

  test("tokenSpanScrub: overlapping duplicated windows merge; canonical doc unchanged") {
    import graft.operators.Dedup
    // doc 1 is canonical; doc 2 repeats an 8-token run of doc 1 = three
    // overlapping 6-token duplicated windows, which must merge to ONE
    // 8-token covered interval (8 removed tokens, not 3 x 6).
    val run = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"$run alpha beta"),
      (2L, s"prefix tok $run suffix"),
      (3L, "short doc under n"), // < 6 tokens: no windows, pass through
      (4L, "wholly unique tokens here nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val got = Dedup.tokenSpanScrub(docs, "doc_id", "text", n = 6)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(got(0) === ((1L, 10L, 0L, s"$run alpha beta")))
    assert(got(1) === ((2L, 11L, 8L, "prefix tok suffix")), got.mkString("; "))
    assert(got(2) === ((3L, 4L, 0L, "short doc under n")))
    assert(got(3) === ((4L, 8L, 0L, "wholly unique tokens here nine ten eleven twelve")))
  }

  test("tokenSpanScrub: a doc whose every token is covered emits empty clean_text") {
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "a b c d"),   // canonical
      (2L, "a b c d")    // full duplicate: every token covered
    ).toDF("doc_id", "text")
    val got = Dedup.tokenSpanScrub(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(got === Array((1L, 4L, 0L, "a b c d"), (2L, 4L, 4L, "")))
    intercept[IllegalArgumentException](
      Dedup.tokenSpanScrub(docs, "doc_id", "text", n = 0))
  }

  test("nearContaminationHits flags re-rendered eval leaks, not fresh items") {
    import graft.operators.Dedup
    def words(seed: String, n: Int) = (1 to n).map(i => s"$seed$i").mkString(" ")
    val tA = words("alpha", 40); val tB = words("beta", 40)
    val train = Seq((1L, tA), (2L, tB)).toDF("doc_id", "text")
    // eval: TWO near-renders of doc 1 (footer / header variants) and one
    // genuinely fresh benchmark item
    val evalSet = Seq(
      (100L, tA + " eval footer"),
      (101L, "intro line " + tA),
      (102L, words("gamma", 40))).toDF("doc_id", "text")
    val hits = Dedup.nearContaminationHits(train, evalSet, "doc_id", "text", tau = 0.8)
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    assert(hits.map(_._1).toSeq === Seq(1L), s"flagged: ${hits.toSeq}")
    assert(hits(0)._2 === 2L, s"expected both eval renders to hit: ${hits.toSeq}")
    assert(hits(0)._3 >= 0.8 && hits(0)._3 <= 1.0)
    intercept[IllegalArgumentException](
      Dedup.nearContaminationHits(train, evalSet, "doc_id", "text", tau = 1.5))
  }

  test("boilerplateLineScrub: DF > maxDocFreq lines deleted EVERYWHERE, no survivor") {
    import graft.operators.Dedup
    // "cookie banner" is in 3 docs (> maxDocFreq=2): all 3 occurrences go,
    // including doc 1's — no canonical survivor. "shared quote" is in
    // exactly 2 docs: kept. Doc 4 repeats the banner twice WITHIN itself:
    // per-doc distinct hashing counts it once, so DF stays 3, and both
    // intra-doc occurrences are removed.
    val docs = Seq(
      (1L, "cookie banner\nbody one\nshared quote"),
      (2L, "cookie banner\nbody two\nshared quote"),
      (3L, "body three"),
      (4L, "cookie banner\nbody four\ncookie banner"))
      .toDF("doc_id", "text")
    val got = Dedup.boilerplateLineScrub(docs, "doc_id", "text", maxDocFreq = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(got === Array(
      (1L, 3L, 1L, "body one\nshared quote"),
      (2L, 3L, 1L, "body two\nshared quote"),
      (3L, 1L, 0L, "body three"),
      (4L, 3L, 2L, "body four")))
    // a doc that is ALL boilerplate scrubs to empty
    val all = Seq((1L, "x"), (2L, "x"), (3L, "x")).toDF("doc_id", "text")
    val emptied = Dedup.boilerplateLineScrub(all, "doc_id", "text", maxDocFreq = 2)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect()
    assert(emptied.forall(r => r._3 === 1L && r._4 === ""))
    intercept[IllegalArgumentException](
      Dedup.boilerplateLineScrub(docs, "doc_id", "text", maxDocFreq = 0))
  }

  test("marginTranslationPairs: ratio margin corrects hubness; mutual keeps rank-1 pairs") {
    // t5 sits between both sources — a classic hub: it is every source's
    // decent neighbor, so its backward-average is high and the ratio
    // margin deflates it below the genuinely aligned pairs.
    val src = Seq((0L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val tgt = Seq((1L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f)),
      (5L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val all = Similarity.marginTranslationPairs(src, tgt, k = 3, tau = 0.0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(all((0L, 1L))._2 > all((0L, 5L))._2,
      s"aligned (0,1) must out-margin the hub (0,5): $all")
    assert(all((2L, 3L))._2 > all((2L, 5L))._2)
    assert(all((0L, 1L))._1 > 0.99, "raw cosine carried through")
    val mutual = Similarity.marginTranslationPairs(src, tgt, k = 3,
        tau = 0.0001, mutualOnly = true)
      .select("src_id", "tgt_id").as[(Long, Long)].collect().toSet
    assert(mutual === Set((0L, 1L), (2L, 3L)))
    intercept[IllegalArgumentException](
      Similarity.marginTranslationPairs(src, tgt, 0, 1.0))
    intercept[IllegalArgumentException](
      Similarity.marginTranslationPairs(src, tgt, 3, 0.0))
  }

  test("incrementalHammingDedupKeepFirst: index blocks re-encodes; wave clusters land once") {
    val h0 = 0L
    val w1 = 1L                     // hamming 1 from the indexed item -> re-post, drop
    val w2 = 0x0FF00FF00FF00FF0L    // new cluster, smallest id -> keep
    val w3 = w2 ^ 2L                // hamming 1 from w2 -> intra-wave dup, drop
    val w4 = 0x5555555555555555L    // unique -> keep
    val index = Dedup.hammingIndex64(
      Seq(("accepted", h0)).toDF("id", "h"), "id", "h")
    val wave = Seq(("w1", w1), ("w2", w2), ("w3", w3), ("w4", w4))
      .toDF("id", "h")
    val kept = Dedup.incrementalHammingDedupKeepFirst(wave, "id", "h", index)
      .select("id").as[String].collect().toSet
    assert(kept === Set("w2", "w4"))
    // empty index: everything fresh, intra-wave keep-first still applies
    val keptFresh = Dedup.incrementalHammingDedupKeepFirst(wave, "id", "h",
        index.limit(0))
      .select("id").as[String].collect().toSet
    assert(keptFresh === Set("w1", "w2", "w4"))
    // growing the index then replaying the SAME wave drops everything
    val grown = index.unionByName(Dedup.hammingIndex64(
      wave.join(Seq("w2", "w4").toDF("id"), Seq("id"), "left_semi"), "id", "h"))
    val replay = Dedup.incrementalHammingDedupKeepFirst(wave, "id", "h", grown)
      .select("id").as[String].collect()
    assert(replay.isEmpty, s"replayed wave must fully dedup: ${replay.toSeq}")
    intercept[IllegalArgumentException](
      Dedup.incrementalHammingDedupKeepFirst(wave, "id", "h", index, maxHamming = 4))
  }

  test("ndcgAtK: burying hits under false candidates costs ndcg at equal recall") {
    // truth top-3 for probe 1 = {10, 11, 12}; both approx arms recover
    // hits {10, 11} (recall 2/3) — but one surfaces them FIRST, the other
    // leads with a false candidate and pays the position discount
    val truth = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L))
      .toDF("probe_id", "rank", "neighbor_id")
    val hitsFirst = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 99L))
      .toDF("probe_id", "rank", "neighbor_id")
    val junkFirst = Seq((1L, 1L, 99L), (1L, 2L, 10L), (1L, 3L, 11L))
      .toDF("probe_id", "rank", "neighbor_id")
    def ndcg(a: org.apache.spark.sql.DataFrame): Double =
      Similarity.ndcgAtK(truth, a, 3).head().getAs[Double]("ndcg")
    val (good, bad) = (ndcg(hitsFirst), ndcg(junkFirst))
    // identical recall@3 for both arms
    val rec = Seq(hitsFirst, junkFirst).map(a =>
      Similarity.rankingRecall(truth, a, 3).head().getAs[Double]("recall"))
    assert(rec === Seq(0.666667, 0.666667))
    assert(good > bad, s"hits-first $good must beat junk-first $bad")
    // exact values: (1 + 1/log2(3)) / idcg vs (1/log2(3) + 1/2) / idcg
    val idcg = 1.0 + 1.0 / (math.log(3.0) / math.log(2.0)) + 0.5
    assert(math.abs(good - (1.0 + 1.0 / (math.log(3.0) / math.log(2.0))) / idcg) < 1e-6)
    assert(math.abs(bad - (1.0 / (math.log(3.0) / math.log(2.0)) + 0.5) / idcg) < 1e-6)
    // a probe the approx arm never saw scores zero, not a missing row
    val empty = Seq((2L, 1L, 5L)).toDF("probe_id", "rank", "neighbor_id")
    assert(Similarity.ndcgAtK(truth, empty, 3).head().getAs[Double]("ndcg") === 0.0)
    intercept[IllegalArgumentException](Similarity.ndcgAtK(truth, hitsFirst, 0))
  }

  // ---- OPQ rotation ----

  test("fitOpqRotation is orthogonal and exactly cosine-preserving") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val r = Similarity.fitOpqRotation(emb, m = 8)
    val d = r.length
    assert(d === 64 && r.forall(_.length === d))
    // R R^T = I (rows orthonormal): the self-certifying rotation check
    for (i <- 0 until d; j <- i until d) {
      val dot = (0 until d).map(k => r(i)(k) * r(j)(k)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"RR^T[$i][$j] = $dot")
    }
    // exact brute-force top-k is invariant under the rotation: same
    // neighbors, same ranks, cosines equal to float tolerance
    val probes = emb.where(col("vec_id") < 4)
    val raw = Similarity.bruteForceTopK(emb, probes, 5)
      .select("probe_id", "rank", "neighbor_id", "cosine")
      .orderBy("probe_id", "rank").collect()
    val rot = Similarity.bruteForceTopK(
        Similarity.opqRotate(emb, r), Similarity.opqRotate(probes, r), 5)
      .select("probe_id", "rank", "neighbor_id", "cosine")
      .orderBy("probe_id", "rank").collect()
    assert(raw.length === rot.length && raw.nonEmpty)
    raw.zip(rot).foreach { case (a, b) =>
      assert(a.getLong(0) === b.getLong(0) && a.getLong(1) === b.getLong(1))
      assert(a.getLong(2) === b.getLong(2),
        s"neighbor flip at probe ${a.getLong(0)} rank ${a.getLong(1)}")
      assert(math.abs(a.getDouble(3) - b.getDouble(3)) < 1e-6)
    }
  }

  test("allocateEigen balances variance sums in the sub-unit-eigenvalue regime") {
    // all eigenvalues < 1 (unit-norm embeddings): a min-log-PRODUCT
    // greedy would collapse to contiguous PCA-order groups ({0,1},{2,3})
    // because the freshly-filled group keeps the most-negative total;
    // the sum greedy must spread the loud directions
    val groups = Similarity.allocateEigen(Array(0.5, 0.4, 0.3, 0.2), 2)
      .map(_.toSet)
    assert(groups.toSet === Set(Set(0, 3), Set(1, 2)),
      s"allocation collapsed: ${groups.map(_.mkString("{", ",", "}")).mkString(" ")}")
    // scale invariance: the grouping must not depend on data rescaling
    val scaled = Similarity.allocateEigen(Array(500.0, 400.0, 300.0, 200.0), 2)
      .map(_.toSet)
    assert(scaled.toSet === groups.toSet)
    // every group is exactly dsub wide and the indices partition 0..d-1
    val g8 = Similarity.allocateEigen(Array.tabulate(8)(i => 1.0 / (i + 1)), 4)
    assert(g8.forall(_.length == 2) && g8.flatten.sorted.toSeq === (0 until 8))
  }

  /** Anisotropic, dimension-mixed fixture — the case OPQ exists for: a
    * few loud latent directions (sigma 8/4/2 vs 1) mixed into EVERY raw
    * dimension by a Hadamard rotation, so raw dim-order subspaces are
    * 4-D and equally hard while PCA-rotated, allocation-balanced
    * subspaces are effectively 1-D around one loud direction each.
    * Seeded — identical across runs. */
  private def anisotropicDf = {
    val d = 16
    val had = Array.tabulate(d, d) { (i, j) =>
      if (java.lang.Integer.bitCount(i & j) % 2 == 0) 0.25 else -0.25
    }
    val scales = Array.tabulate(d)(i => if (i == 0) 8.0 else if (i == 1) 4.0
      else if (i == 2) 2.0 else 1.0)
    val rnd = new scala.util.Random(42)
    (0 until 512).map { id =>
      val z = Array.fill(d)(rnd.nextGaussian())
      val x = Array.tabulate(d)(i =>
        (0 until d).map(j => had(i)(j) * scales(j) * z(j)).sum)
      (id.toLong, x.toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** Full-fit PQ quantization MSE of `corpus` at m=4, k=16 — the number
    * the OPQ tests compare across rotations. */
  private def anisotropicMse(corpus: org.apache.spark.sql.DataFrame): Double = {
    val m = 4
    val books = Similarity.fitPqCodebooks(corpus, m, ksub = 16, iterations = 5)
      .collect().groupBy(_.getInt(0))
      .map { case (j, rs) => j -> rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray) }
    val vecs = corpus.select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val dsub = vecs.head.length / m
    vecs.map { v =>
      (0 until m).map { j =>
        val sv = v.slice(j * dsub, (j + 1) * dsub)
        books(j).map(c => sv.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min
      }.sum
    }.sum / vecs.length
  }

  test("OPQ strictly beats raw-space PQ on anisotropic, dimension-mixed data") {
    // The synthetic embeddings fixture is near-isotropic, where rotation
    // can't help (the parity test below). 16 centroids per subspace must
    // quantize the PCA-rotated, allocation-balanced space strictly better.
    val df = anisotropicDf
    val r = Similarity.fitOpqRotation(df, m = 4)
    val raw = anisotropicMse(df)
    val rot = anisotropicMse(Similarity.opqRotate(df, r))
    info(f"anisotropic PQ MSE raw=$raw%.4f opq=$rot%.4f (ratio ${rot / raw}%.3f)")
    assert(rot < raw * 0.9,
      f"OPQ must clearly beat raw-space PQ on mixed anisotropic data: $rot%.4f vs $raw%.4f")
  }

  test("non-parametric OPQ refinement does not lose to the parametric rotation") {
    // Ge et al.'s alternating refinement closes the gap the one-shot
    // eigen allocation leaves: alternating exact Procrustes solves with
    // Lloyd refits must end at-or-below the parametric MSE on the
    // fixture built to stress it — while staying exactly orthogonal
    // (cosine invariance) and deterministic.
    val df = anisotropicDf
    val rP = Similarity.fitOpqRotation(df, m = 4)
    val rN = Similarity.refineOpqRotation(df, rP, m = 4, ksub = 16,
      pqIterations = 5, rounds = 2)
    val mseP = anisotropicMse(Similarity.opqRotate(df, rP))
    val mseN = anisotropicMse(Similarity.opqRotate(df, rN))
    info(f"anisotropic PQ MSE parametric=$mseP%.4f refined=$mseN%.4f " +
      f"(ratio ${mseN / mseP}%.3f)")
    assert(mseN <= mseP * 1.005,
      f"refinement worsened quantization: $mseN%.4f vs parametric $mseP%.4f")
    // the refined rotation is still exactly orthogonal (R R^T = I)
    val d = rN.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => rN(i)(k) * rN(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8,
        s"refined rotation not orthogonal at ($i, $j): $dot")
    }
    // deterministic: the same refinement replays bit-identically
    val rN2 = Similarity.refineOpqRotation(df, rP, m = 4, ksub = 16,
      pqIterations = 5, rounds = 2)
    assert(rN.flatten.toSeq === rN2.flatten.toSeq)
  }

  test("OPQ rotation does not worsen PQ quantization error (the reason it exists)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def mse(corpus: org.apache.spark.sql.DataFrame): Double = {
      val books = Similarity.fitPqCodebooks(corpus, m = 8, ksub = 16, iterations = 3)
        .collect().groupBy(_.getInt(0))
        .map { case (j, rs) => j -> rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray) }
      val vecs = corpus.select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val dsub = vecs.head.length / 8
      vecs.map { v =>
        (0 until 8).map { j =>
          val sv = v.slice(j * dsub, (j + 1) * dsub)
          books(j).map(c => sv.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min
        }.sum
      }.sum / vecs.length
    }
    val r = Similarity.fitOpqRotation(emb, m = 8)
    val raw = mse(emb)
    val rot = mse(Similarity.opqRotate(emb, r))
    info(f"PQ quantization MSE raw=$raw%.5f opq=$rot%.5f (ratio ${rot / raw}%.3f)")
    assert(rot <= raw * 1.02,
      f"OPQ worsened quantization: $rot%.5f vs raw $raw%.5f")
  }

  test("trainBalancedCentroids splits Zipf-hot cells that plain Lloyd leaves pinned") {
    // log-uniform cluster membership (a small Zipf-hot-cell corpus):
    // vector = one-hot(cluster) + deterministic jitter, cluster
    // sizes power-law — cluster 0 holds ~50% of rows, so a plain k=8
    // Lloyd fit leaves one cell scanning half the corpus on every probe.
    val n = 4000
    val vecs = spark.range(n).select(
      col("id").as("vec_id"),
      expr("transform(sequence(1, 16), d -> CAST(IF(" +
        "d - 1 = CAST(8 * power((id * 2654435761) % 1048576 / 1048576.0, 3) AS INT), " +
        "1.0, ((id * 40503 + d * 69069) % 1000) / 20000.0) AS DOUBLE))")
        .as("embedding"))
    def maxFrac(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignCells(vecs, cents).groupBy("cell_id").count()
        .agg(max("count")).head().getLong(0).toDouble / n
    val plain = Similarity.trainCentroids(vecs, 8, 3)
    val balanced = Similarity.trainBalancedCentroids(vecs, 8, 3,
      maxCellFrac = 0.15, splitRounds = 3, refineIters = 1)
    val (pf, bf) = (maxFrac(plain), maxFrac(balanced))
    info(f"hottest cell: plain=${pf}%.3f of corpus, balanced=${bf}%.3f")
    assert(pf > 0.25, s"fixture lost its skew: plain max frac $pf")
    assert(bf < pf, s"balancing did not shrink the hot cell: $bf vs $pf")
    assert(bf <= 0.18, s"hot cell still holds $bf of the corpus after splits")
    // splits actually happened (centroid set grew past k) and the ids
    // stay distinct (a collision would corrupt every downstream join)
    val ids = balanced.select(col("vec_id").cast("long")).collect().map(_.getLong(0))
    assert(ids.length > 8 && ids.distinct.length === ids.length)
    // deterministic: same inputs, same centroid set, bit-for-bit
    val again = Similarity.trainBalancedCentroids(vecs, 8, 3,
      maxCellFrac = 0.15, splitRounds = 3, refineIters = 1)
    assert(again.orderBy("vec_id").collect().map(_.toString).toSeq
      === balanced.orderBy("vec_id").collect().map(_.toString).toSeq)
  }

  test("fitSample: every iterative fit prunes deterministically within the MSE band") {
    // the one sample-fit discipline (BPE/unigram already carry it) now
    // covers the Lloyd family: codebooks/centroids/rotations are model
    // state fit on a bounded deterministic sample; the full corpus is
    // only ever touched by the encode/apply pass.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val pred = pmod(xxhash64(col("vec_id")), lit(2)) === 0
    def corpusMse(books: Array[org.apache.spark.sql.Row]): Double = {
      val byJ = books.groupBy(_.getInt(0))
        .map { case (j, rs) => j -> rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray) }
      val m = byJ.size
      val vecs = emb.select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray)
      val dsub = vecs.head.length / m
      vecs.map { v =>
        (0 until m).map { j =>
          val sv = v.slice(j * dsub, (j + 1) * dsub)
          byJ(j).map(c => sv.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum).min
        }.sum
      }.sum / vecs.length
    }
    def fitBooks(sample: Option[org.apache.spark.sql.Column]) =
      Similarity.fitPqCodebooks(emb, m = 8, ksub = 16, iterations = 3,
        fitSample = sample).collect()
    val full = fitBooks(None)
    val sampled = fitBooks(Some(pred))
    // reproducible: same predicate, same codebooks, bit-for-bit
    assert(fitBooks(Some(pred)).map(_.toString).sorted
      === sampled.map(_.toString).sorted)
    // the half-corpus fit quantizes the FULL corpus within a tight band
    // of the full fit (Faiss's sample-training premise)
    val fullMse = corpusMse(full)
    val sampleMse = corpusMse(sampled)
    info(f"PQ MSE full-fit=$fullMse%.5f sample-fit=$sampleMse%.5f " +
      f"(ratio ${sampleMse / fullMse}%.3f)")
    assert(sampleMse <= fullMse * 1.15,
      f"sample-fit codebooks degraded quantization: $sampleMse%.5f vs $fullMse%.5f")
    // centroids: sampled Lloyd fit is deterministic and k-bounded
    val c1 = Similarity.trainCentroids(emb, 8, 2, fitSample = Some(pred))
      .orderBy("vec_id").collect()
    assert(c1.length <= 8 && c1.nonEmpty)
    assert(Similarity.trainCentroids(emb, 8, 2, fitSample = Some(pred))
      .orderBy("vec_id").collect().map(_.toString) === c1.map(_.toString))
    // OPQ: the sample-fit rotation is still orthogonal (R R^T = I) and
    // deterministic
    val r1 = Similarity.fitOpqRotation(emb, m = 8, fitSample = Some(pred))
    val d = r1.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => r1(i)(k) * r1(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"sample-fit rotation not orthogonal at ($i, $j): $dot")
    }
    val r2 = Similarity.fitOpqRotation(emb, m = 8, fitSample = Some(pred))
    assert(r1.flatten.toSeq === r2.flatten.toSeq)
  }

  test("fitSample covers the refined (non-parametric) OPQ path within the MSE band") {
    // the sampled-vs-full discipline the parametric fit carries, extended
    // to the alternating Procrustes + Lloyd refinement: a half-corpus
    // refinement must stay orthogonal, replay bit-identically, and
    // quantize the FULL corpus within a tight band of the full-fit
    // refinement on the anisotropic fixture built to stress rotations
    val df = anisotropicDf
    val pred = pmod(xxhash64(col("vec_id")), lit(2)) === 0
    val rP = Similarity.fitOpqRotation(df, m = 4, fitSample = Some(pred))
    val rFull = Similarity.refineOpqRotation(df, rP, m = 4, ksub = 16,
      pqIterations = 5, rounds = 2)
    val rSamp = Similarity.refineOpqRotation(df, rP, m = 4, ksub = 16,
      pqIterations = 5, rounds = 2, fitSample = Some(pred))
    val mseFull = anisotropicMse(Similarity.opqRotate(df, rFull))
    val mseSamp = anisotropicMse(Similarity.opqRotate(df, rSamp))
    info(f"refined OPQ MSE full-fit=$mseFull%.4f sample-fit=$mseSamp%.4f " +
      f"(ratio ${mseSamp / mseFull}%.3f)")
    assert(mseSamp <= mseFull * 1.15,
      f"sample-fit refinement degraded quantization: $mseSamp%.4f vs $mseFull%.4f")
    val d = rSamp.length
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => rSamp(i)(k) * rSamp(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8,
        s"sample-fit refined rotation not orthogonal at ($i, $j): $dot")
    }
    val again = Similarity.refineOpqRotation(df, rP, m = 4, ksub = 16,
      pqIterations = 5, rounds = 2, fitSample = Some(pred))
    assert(rSamp.flatten.toSeq === again.flatten.toSeq)
  }

  test("ivfTopK distributed path tolerates null-embedding corpus rows (salt fit included)") {
    // a null embedding gets a null cell_id from the assignment kernel
    // (null-in/null-out); the equi-join drops it — the salt fit's
    // driver collect must not NPE on the null group it would otherwise
    // form (it used to getLong(0) an all-null row), and results must
    // match the corpus with the null row pre-dropped
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(200)
    val withNull = emb.unionAll(
      spark.range(1).select(lit(999999L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
    val cents = Similarity.trainCentroids(emb, 4, 2)
    val probes = emb.where(col("vec_id") < 4)
    def run(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(corpus, cents, probes, 5, nprobe = 2,
          broadcastProbes = false, codesPerSalt = 10L)
        .orderBy("probe_id", "rank").collect().map(_.toString).toSeq
    assert(run(withNull) === run(emb))
  }
}
