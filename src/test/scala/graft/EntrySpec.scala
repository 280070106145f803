package graft

/** Driver-contract smoke: entry() non-empty, every query runs at sf0.001,
  * and the query registry pairs every query with its check. */
class EntrySpec extends SparkSuite {

  test("entry() returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry: 230 queries, 210 with an oracle, 20 rows-only with a named reason") {
    import graft.catalog._
    val reg = SparkEntry.registry
    assert(reg.size === 230)
    val oracles = reg.collect { case (name, Q(_, _, Oracle(sql))) => name -> sql }
    val rowsOnly = reg.values.collect { case Q(_, _, r: RowsOnly) => r }
    assert(oracles.size === 210 && rowsOnly.size === 20)
    assert(rowsOnly.forall(_.reason.trim.nonEmpty))
    assert(oracles.values.forall(_.trim.nonEmpty))
    // the views the tools read are the registry, in its order
    assert(SparkEntry.queries.keys.toSeq === reg.keys.toSeq)
    assert(SparkEntry.oracleSql === oracles)
  }

  test("a query without a check does not compile; a repeated name throws") {
    import graft.catalog._
    assertCompiles("""Q("q_x", (s, dir) => s.read.parquet(dir), RowsOnly("no SQL form"))""")
    assertDoesNotCompile("""Q("q_x", (s, dir) => s.read.parquet(dir))""")
    intercept[IllegalArgumentException](RowsOnly(" "))
    val q = Q("q_x", (s, dir) => s.read.parquet(dir), Oracle("SELECT 1"))
    val e = intercept[IllegalArgumentException](
      Q.index(Seq(q, Q("q_y", q.build, Oracle("SELECT 2")), q.copy(check = RowsOnly("twin")))))
    assert(e.getMessage.contains("q_x") && !e.getMessage.contains("q_y"))
  }

  // q218's promotion note (VERDICT-r17 item 6): the FLOOR side of the
  // compression gate is provably twin-able — period-44 repetition
  // compresses ~20x under any zlib level that emits back-references —
  // and q218 hash-gates the full keep bracket on a three-class fixture.
  // The CEILING side can be measured but NOT proven across zlib
  // versions: the 0.75 ceiling sits at base64's 6-bits/char entropy
  // rate, and the densest printable-text class possible (94-symbol
  // alphabet, 6.55 bits/char) lands at ~0.85 only because zlib's
  // Huffman coder is within a few percent of entropy — a conforming
  // DEFLATE may legally emit stored blocks (ratio ~1.0) or a future
  // zlib-ng may shave the margin; there is no printable fixture whose
  // above-ceiling verdict follows from the DEFLATE spec alone. The
  // class brackets below are therefore pinned as measurements with
  // >= 1.45x margins on every boundary, and q173 (raw byte counts)
  // stays rows-only permanently.
  test("q218 fixture class brackets: template << floor < prose < ceiling << noise") {
    import org.apache.spark.sql.functions._
    val seeded = meta.Tables.documents(spark, sf).where(col("n_chars") >= 300)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          expr("repeat('all work and no play makes jack a dull boy ', 30)"))
        .when(col("doc_id") % 3 === 1,
          expr("array_join(transform(sequence(1, 1200), " +
            "j -> chr(33 + pmod(hash(doc_id, j), 94))), '')"))
        .otherwise(col("text")).as("text"))
    val b = operators.TextAnalysis.compressionQuality(seeded, "doc_id", "text")
      .groupBy(pmod(col("doc_id"), lit(3)).as("cls"))
      .agg(min("deflate_ratio").as("mn"), max("deflate_ratio").as("mx"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(b.keySet === Set(0L, 1L, 2L), s"all three classes present: $b")
    b.foreach { case (c, (_, _, n)) => assert(n > 10, s"class $c too thin: $n") }
    // template: 1.45x under the 0.1 floor even at its max
    assert(b(0L)._2 < 0.1 / 1.45, s"template class must sit FAR below the floor: ${b(0L)}")
    // prose: 1.45x inside the bracket on both sides
    assert(b(2L)._1 > 0.1 * 1.45 && b(2L)._2 < 0.75 / 1.45,
      s"real-text class must sit WELL inside the bracket: ${b(2L)}")
    // noise: 1.1x above the ceiling (entropy caps this margin — see note)
    assert(b(1L)._1 > 0.75 * 1.1, s"noise class must clear the ceiling: ${b(1L)}")
  }

  // q227's forcing margins: the append gate is only meaningful if the
  // re-crawl drop is attributable to the APPENDED codes alone.
  test("q227 fixture margins: pre-append best candidate exactly 0.8, append lossless, balance at cap") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import spark.implicits._
    val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
    def member(c: Int, v: Seq[Double]): Seq[Double] =
      Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
    val design = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
      (for (c <- 0 until 4; j <- 0 until 3)
        yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
      .toDF("vec_id", "embedding")
    val current = design.where(!col("vec_id").isin(6L, 9L, 12L, 15L))
    val cents = Similarity.trainCentroids(design, 4, 3)
    val books = Similarity.fitIvfPqCodebooks(design, cents, m = 4, ksub = 16,
      iterations = 3)
    val idx = Similarity.IvfPqIndex(cents, books,
      Similarity.ivfPqEncode(current, cents, books))
    val wave1 = (0 until 4).map(c => ((104 + c).toLong, member(c, vals(3))))
      .toDF("vec_id", "embedding")
    // BEFORE the append: the (5,0) class's best candidate is its own
    // cell's (4,3) member at cosine exactly 20/25 = 0.8 < tau — so a
    // post-append drop can ONLY come from the appended codes
    val pre = Similarity.ivfPqTopK(idx.encoded, cents, books, wave1, 1,
        nprobe = 1).select("cosine").as[Double].collect()
    assert(pre.length === 4 && pre.forall(_ === 0.8), pre.toSeq)
    // the append encode is lossless (residual (2,-3) IS a codebook entry)
    // and the default balance check passes exactly at the 0.25 cap
    val grown = Similarity.appendToIvfPqIndex(idx, wave1)
    assert(grown.encoded.count() === 16)
    val post = Similarity.ivfPqTopK(grown.encoded, cents, books,
        (0 until 4).map(c => ((200 + c).toLong, member(c, vals(3))))
          .toDF("vec_id", "embedding"), 1, nprobe = 1)
      .select("neighbor_id", "cosine").as[(Long, Double)].collect()
    assert(post.forall { case (n, c) => n >= 104 && n <= 107 && c === 1.0 },
      post.toSeq)
    // a skewed wave (8 rows into one cell of a 12-row index) trips the
    // loud hot-cell check instead of silently degrading the serve
    val skewed = (0 until 8).map(i => ((300 + i).toLong, member(0, vals(3))))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(idx, skewed)
    }
    assert(e.getMessage.contains("maxCellFrac"), e.getMessage)
  }

  // q228's unconditional closed form rests on three margins + one
  // exactness claim — pinned computationally, not assumed.
  test("q228 fixture: mean exactly 64, centered margins, per-group shared buckets, raw concentration") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import spark.implicits._
    val originals = SparkEntry.semanticScrubCenteredVecs(spark, recrawl = false)
    val mu = Similarity.fitMeanVector(originals)
    assert(mu === Seq.fill(48)(64.0)) // integer sums cancel: EXACT snapshot mean
    val all = originals
      .unionAll(SparkEntry.semanticScrubCenteredVecs(spark, recrawl = true))
      .select(col("vec_id"),
        Similarity.centerVectors(col("embedding"), mu).as("embedding"))
    val rows = all.as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    def group(id: Long) = { val b = id % 1000000L; (b / 8, (b % 8) / 4) }
    for (x <- rows; y <- rows if x._1 < y._1) {
      val c = cos(x._2, y._2)
      if (group(x._1) == group(y._1))
        assert(c > 0.9, s"within-group ${x._1}/${y._1}: $c") // min is ~0.9676
      else if (group(x._1)._1 == group(y._1)._1)
        assert(c < 0.0, s"mirror pair ${x._1}/${y._1}: $c")  // ~ -1: never drops
      else assert(c === 0.0, s"cross-cluster ${x._1}/${y._1}: $c") // disjoint support
    }
    // every (cluster, sign) group — originals AND its re-crawls — shares
    // exactly one centered hyperplane bucket (the pigeonhole, verified)
    val buckets = all.select(col("vec_id"),
        Similarity.hyperplaneBucketExpr("embedding", 8).as("b"))
      .as[(Long, Long)].collect()
    val byGroup = buckets.groupBy(x => group(x._1))
    assert(byGroup.size === 24 &&
      byGroup.values.forall(_.map(_._2).distinct.length === 1), byGroup)
    // and the RAW fixture is genuinely concentrated: every raw pairwise
    // cosine clears the 0.9 threshold, so an uncentered run would
    // collapse to a single survivor — center mode is load-bearing
    val raw = originals.as[(Long, Seq[Double])].collect()
    val worst = (for (x <- raw; y <- raw if x._1 < y._1)
      yield cos(x._2, y._2)).min
    assert(worst > 0.9, s"raw fixture must concentrate, min cosine $worst")
  }

  // q229's forcing margins: exact dyadic centering end to end.
  test("q229: centered index persists mean 0.75, re-crawl ADC exactly 1.0, fresh candidates < 0.25") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import spark.implicits._
    val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
    def member(c: Int, v: Seq[Double]): Seq[Double] =
      Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
    val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
      (for (c <- 0 until 4; j <- 0 until 3)
        yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_q229_spec").toFile
    try {
      val idx = Similarity.buildIvfPqIndex(corpus, dir.getPath, nCells = 4,
        m = 4, ksub = 16, iterations = 3, center = true)
      assert(idx.mean === Some(Seq.fill(8)(0.75))) // 12/16 per dim, exact
      assert(Similarity.loadIvfPqIndex(spark, dir.getPath).mean === idx.mean)
      // a re-crawl centers onto its lossless twin: ADC cosine exactly 1.0
      val re = Seq((100L, member(3, vals(3)))).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          Similarity.centerVectors(col("embedding"), idx.mean.get).as("embedding"))
      val top = Similarity.ivfPqTopK(idx.encoded, idx.centroids, idx.codebooks,
        re, 1, nprobe = 1).select("cosine").as[Double].collect()
      assert(top === Array(1.0), top.toSeq)
      // the fresh class scores < 0.25 against EVERY corpus member in
      // EVERY cell — the q229 survivor verdict is forced no matter which
      // cell nprobe = 1 probes
      val fresh = (0 until 4).map(c => ((104 + c).toLong, member(c, Seq(-3.0, -4.0))))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"),
          Similarity.centerVectors(col("embedding"), idx.mean.get).as("embedding"))
      val allCands = Similarity.ivfPqTopK(idx.encoded, idx.centroids,
          idx.codebooks, fresh, 16, nprobe = 4)
        .select("cosine").as[Double].collect()
      assert(allCands.nonEmpty && allCands.forall(_ < 0.25), allCands.toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("selectQueries keeps order, drops repeats, and rejects unknown or empty selections") {
    assert(SparkEntry.selectQueries(" q07_minmax_scale,q01_pricing_summary,,q07_minmax_scale ", "T")
      === Seq("q07_minmax_scale", "q01_pricing_summary"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries("q01_pricing_summary,q01_pricing_sumary", "SPARK_GRAFT_BENCH_ONLY"))
    assert(e.getMessage.contains("SPARK_GRAFT_BENCH_ONLY"))
    assert(e.getMessage.contains("unknown queries q01_pricing_sumary"))
    // the full known list, so the typo can be fixed from the message alone
    assert(SparkEntry.queries.keys.forall(e.getMessage.contains))
    intercept[IllegalArgumentException](SparkEntry.selectQueries(" , ", "PlanLint"))
  }

  test("prefit IVF-PQ cache is keyed on fit parameters and the embeddings file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_key_spec").toFile
    try {
      val emb = new java.io.File(dir, "embeddings.parquet")
      java.nio.file.Files.write(emb.toPath, Array[Byte](1, 2, 3))
      def key(iterations: Int) = SparkEntry.ivfPqIndexCache(dir.getPath, 8, 8, 16, iterations)
      val k = key(3)
      assert(key(3) == k)
      // two parameter sets must not share one persisted index
      assert(key(4) != k)
      assert(SparkEntry.ivfPqIndexCache(dir.getPath, 8, 8, 32, 3) != k)
      // nor may a regenerated snapshot (new length or mtime) reuse it
      assert(emb.setLastModified(emb.lastModified() - 60000))
      assert(key(3) != k)
      val (touched, mtime) = (key(3), emb.lastModified())
      java.nio.file.Files.write(emb.toPath, Array[Byte](1, 2, 3, 4))
      assert(emb.setLastModified(mtime))
      assert(key(3) != touched)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("every query executes and is non-empty at sf0.001") {
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n == 0) Some(name) else None
    }
    // q24 (LSH pairs) may legitimately be empty on a tiny corpus; everything
    // else must produce rows.
    assert(empties.filterNot(_ == "q24_minhash_lsh").isEmpty, s"empty: $empties")
  }
}
