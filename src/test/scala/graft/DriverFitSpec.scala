package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{pq_encode, vector_avg}
import graft.meta.Tables
import graft.operators.{Similarity, TextAnalysis}

/** The IVF-PQ quantizer fits run on the driver over one bounded sample:
  * Lloyd reads the first `256·k` non-null rows in `(xxhash64(id), id)`
  * order, seeded by the corpus's first `k` rows by id. Pins that the
  * driver fit is the distributed Lloyd loop it replaced (on a corpus
  * within the cap), that it does not depend on partitioning, that the cap
  * is exact, and that a fit is ONE Spark job at any iteration count.
  * The tokenizer fits likewise collect one bounded word-type table and
  * fail loudly above its cap. */
class DriverFitSpec extends SparkSuite {
  import spark.implicits._

  // --- reference: the distributed loops, one Spark job per iteration ---

  private def loopCentroids(fit: DataFrame, k: Int, iterations: Int,
                            seedsFrom: Option[DataFrame] = None): DataFrame = {
    var cents = seedsFrom.getOrElse(fit).orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("embedding"))
    for (_ <- 0 until iterations)
      cents = Similarity.assignCells(fit, cents)
        .groupBy(col("cell_id"))
        .agg(vector_avg(col("embedding")).as("embedding"))
        .select(col("cell_id").as("vec_id"), col("embedding"))
    cents
  }

  private def loopCodebooks(corpus: DataFrame, m: Int, ksub: Int, iterations: Int,
                            seedsFrom: Option[DataFrame] = None): Array[Array[Array[Double]]] = {
    val fit = corpus.where(col("embedding").isNotNull)
    val seeds = seedsFrom.getOrElse(fit).orderBy(col("vec_id")).limit(ksub)
      .select(col("embedding").cast("array<double>")).collect()
    val dsub = seeds(0).getSeq[Double](0).length / m
    var books = Array.tabulate(m)(j =>
      seeds.map(_.getSeq[Double](0).slice(j * dsub, (j + 1) * dsub).toArray))
    for (_ <- 0 until iterations) {
      val perSub = (0 until m).map(j => struct(
        lit(j).as("_j"),
        element_at(col("_codes"), j + 1).as("_code"),
        slice(col("embedding"), j * dsub + 1, dsub).cast("array<double>").as("_sv")))
      val next = fit
        .select(col("embedding"),
          pq_encode(col("embedding"), books.map(_.map(_.toSeq).toSeq).toSeq).as("_codes"))
        .select(explode(array(perSub: _*)).as("_s"))
        .groupBy(col("_s._j").as("_j"), col("_s._code").as("_code"))
        .agg(vector_avg(col("_s._sv")).as("_c"))
        .collect()
      books = Array.tabulate(m)(j =>
        next.filter(_.getInt(0) == j).sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
    }
    books
  }

  private def loopIvfCodebooks(corpus: DataFrame, cents: DataFrame, m: Int, ksub: Int,
                               iterations: Int): Array[Array[Array[Double]]] = {
    val cv = cents.select(col("vec_id").cast("long").as("cell_id"),
      col("embedding").cast("array<double>").as("_cv"))
    loopCodebooks(Similarity.assignCells(corpus, cents)
      .join(broadcast(cv), "cell_id")
      .select(col("vec_id"), zip_with(col("embedding").cast("array<double>"), col("_cv"),
        (x, c) => x - c).as("embedding")), m, ksub, iterations)
  }

  // --- helpers ---

  private def centroids(df: DataFrame): Array[(Long, Seq[Double])] =
    df.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)

  private def books(df: DataFrame): Array[Array[Array[Double]]] = {
    val rows = df.as[(Int, Int, Seq[Double])].collect()
    Array.tabulate(rows.map(_._1).max + 1)(j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3.toArray))
  }

  private def booksFrame(b: Array[Array[Array[Double]]]): DataFrame =
    (for ((book, j) <- b.toSeq.zipWithIndex; (c, code) <- book.zipWithIndex)
      yield (j, code, c.toSeq)).toDF("subspace", "code", "centroid")

  private def assertClose(a: Seq[Double], b: Seq[Double], what: String): Unit = {
    assert(a.length === b.length, s"$what: lengths differ")
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-9, s"$what: $x vs $y") }
  }

  private def assertSameCentroids(got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (centroids(got), centroids(want))
    assert(g.map(_._1).toSeq === w.map(_._1).toSeq, "centroid ids differ")
    g.zip(w).foreach { case (a, b) => assertClose(a._2, b._2, s"centroid ${a._1}") }
  }

  private def assertSameBooks(got: Array[Array[Array[Double]]],
                              want: Array[Array[Array[Double]]]): Unit = {
    assert(got.map(_.length).toSeq === want.map(_.length).toSeq, "book sizes differ")
    for (j <- got.indices; c <- got(j).indices)
      assertClose(got(j)(c).toSeq, want(j)(c).toSeq, s"subspace $j code $c")
  }

  private def cells(corpus: DataFrame, cents: DataFrame): Seq[(Long, Long)] =
    Similarity.assignCells(corpus, cents).select(col("vec_id"), col("cell_id"))
      .as[(Long, Long)].collect().sorted.toSeq

  private def codes(corpus: DataFrame, b: DataFrame): Seq[(Long, Seq[Int])] =
    Similarity.pqEncode(corpus, b).as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq

  private def emb: DataFrame =
    Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))

  /** Rows 0 and 1 point the same way, so cell 1 loses every member to the
    * tie rule (smallest id); rows 2.. spread over two more directions. In
    * both 2-dim subspaces rows 0 and 1 are equal too, so PQ code 1 empties
    * and the codes after it renumber. */
  private def emptying: DataFrame =
    (0L until 30L).map { i =>
      val v = if (i < 2) Seq(1.0, 0.0, 1.0, 0.0)
        else if (i % 2 == 0) Seq(0.1 * (i % 5), 1.0, 2.0 + 0.01 * i, -1.0)
        else Seq(-1.0, 0.2 * (i % 3), -0.5, 1.0 + 0.01 * i)
      (i, v)
    }.toDF("vec_id", "embedding")

  // --- (a) parity with the distributed loop on a corpus within the cap ---

  test("driver Lloyd fit equals the distributed loop: centroids, dropped cells, assignments") {
    for ((corpus, k, it) <- Seq((emb, 4, 3), (emb, 8, 2), (emptying, 3, 2))) {
      val got = Similarity.trainCentroids(corpus, k, it)
      val want = loopCentroids(corpus, k, it)
      assertSameCentroids(got, want)
      assert(cells(corpus, got) === cells(corpus, want))
    }
    // the tie fixture really drops a cell
    assert(centroids(Similarity.trainCentroids(emptying, 3, 2)).map(_._1).toSeq === Seq(0L, 2L))
  }

  test("driver PQ fit equals the distributed loop: emptied codes renumber, ksub > rows") {
    val tiny = emptying.where(col("vec_id") >= 25) // 5 rows, ksub 16
    for ((corpus, m, ksub, it) <- Seq((emb, 8, 16, 3), (emptying, 2, 3, 2), (tiny, 2, 16, 2))) {
      val got = Similarity.fitPqCodebooks(corpus, m, ksub, it)
      val want = loopCodebooks(corpus, m, ksub, it)
      assertSameBooks(books(got), want)
      assert(codes(corpus, got) === codes(corpus, booksFrame(want)))
    }
    assert(books(Similarity.fitPqCodebooks(emptying, 2, 3, 2)).map(_.length).toSeq === Seq(2, 2),
      "code 1 must empty out in both subspaces")
    assert(books(Similarity.fitPqCodebooks(tiny, 2, 16, 2)).map(_.length).toSeq === Seq(5, 5))
  }

  test("driver residual PQ fit equals the distributed loop") {
    val cents = Similarity.trainCentroids(emb, 4, 3)
    val got = Similarity.fitIvfPqCodebooks(emb, cents, m = 8, ksub = 16, iterations = 3)
    assertSameBooks(books(got), loopIvfCodebooks(emb, cents, 8, 16, 3))
    val enc = Similarity.ivfPqEncode(emb, cents, got)
    val want = Similarity.ivfPqEncode(emb, cents, booksFrame(loopIvfCodebooks(emb, cents, 8, 16, 3)))
    assert(enc.as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq ===
      want.as[(Long, Long, Seq[Int])].collect().sortBy(_._1).toSeq)
  }

  // --- (b) partitioning and the cap ---

  test("fits do not depend on partitioning") {
    def fits(df: DataFrame) = (centroids(Similarity.trainCentroids(df, 4, 3)).toSeq,
      books(Similarity.fitPqCodebooks(df, 8, 16, 3)).map(_.map(_.toSeq).toSeq).toSeq,
      centroids(Similarity.trainBalancedCentroids(df, 4, 2, maxCellFrac = 0.2)).toSeq)
    val base = fits(emb)
    assert(fits(emb.repartition(1)) === base)
    assert(fits(emb.repartition(7)) === base)
  }

  test("a corpus larger than the cap: Lloyd reads exactly 256·k hash-ordered rows, seeds stay the corpus's first k by id") {
    val sample = (n: Int) => emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(n)
    // k = 1: the centroid is the plain mean of the sample, so one row more
    // or less would move it
    val mean = (df: DataFrame) => df.agg(vector_avg(col("embedding"))).head().getSeq[Double](0)
    val c1 = centroids(Similarity.trainCentroids(emb, 1, 1))
    assert(c1.map(_._1).toSeq === Seq(0L), "the seed is the corpus's smallest id")
    assertClose(c1.head._2, mean(sample(256)), "k = 1 centroid")
    assert(c1.head._2.zip(mean(sample(257))).exists { case (a, b) => math.abs(a - b) > 1e-9 })
    assertSameCentroids(Similarity.trainCentroids(emb, 1, 2),
      loopCentroids(sample(256), 1, 2, seedsFrom = Some(emb)))
    assertSameCentroids(Similarity.trainCentroids(emb, 2, 2),
      loopCentroids(sample(512), 2, 2, seedsFrom = Some(emb)))
    val b1 = books(Similarity.fitPqCodebooks(emb, m = 4, ksub = 1, iterations = 1))
    assertSameBooks(b1, loopCodebooks(sample(256), 4, 1, 1, seedsFrom = Some(emb)))
    assert(loopCodebooks(sample(257), 4, 1, 1, seedsFrom = Some(emb)).head.head.toSeq !=
      b1.head.head.toSeq)
    // with no Lloyd pass the fit is the seeds alone
    assert(books(Similarity.fitPqCodebooks(emb, m = 4, ksub = 2, iterations = 0))
      .map(_.map(_.toSeq).toSeq).toSeq === loopCodebooks(emb, 4, 2, 0).map(_.map(_.toSeq).toSeq).toSeq)
  }

  // --- (c) the one-collect index build ---

  test("buildIvfPqIndex fits exactly what trainCentroids + fitIvfPqCodebooks fit") {
    // nCells 1 caps the centroid sample at 256 of the 500 rows while
    // ksub 4 fits codebooks on all of them: the two fits share one collect
    for ((nCells, ksub) <- Seq((1, 4), (4, 8))) {
      val dir = java.nio.file.Files.createTempDirectory("graft_driverfit").toFile
      try {
        val idx = Similarity.buildIvfPqIndex(emb, dir.getPath, nCells, m = 4, ksub, iterations = 2)
        val cents = Similarity.trainCentroids(emb, nCells, 2)
        assert(centroids(idx.centroids).toSeq === centroids(cents).toSeq)
        assert(books(idx.codebooks).map(_.map(_.toSeq).toSeq).toSeq ===
          books(Similarity.fitIvfPqCodebooks(emb, cents, 4, ksub, 2))
            .map(_.map(_.toSeq).toSeq).toSeq)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  // --- (d) one job per fit ---

  /** Spark jobs launched while building and collecting `body`. */
  private def jobsOf(body: => DataFrame): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftSqlBridge.awaitListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body.collect()
      org.apache.spark.sql.GraftSqlBridge.awaitListeners(spark)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("trainCentroids and fitPqCodebooks run one Spark job at any iteration count") {
    val corpus = Tables.embeddings(spark, sf)
    for (it <- Seq(1, 5)) {
      assert(jobsOf(Similarity.trainCentroids(corpus, 4, it)) === 1, s"trainCentroids at $it")
      assert(jobsOf(Similarity.fitPqCodebooks(corpus, 8, 16, it)) === 1, s"fitPqCodebooks at $it")
    }
  }

  // --- (e) the tokenizer fits: one collect of the word-type table ---

  test("trainBpeMerges and trainUnigramLm run at most 3 Spark jobs") {
    val docs = Tables.documents(spark, sf)
    val bpe = jobsOf(TextAnalysis.trainBpeMerges(docs, "text", nMerges = 20))
    assert(bpe <= 3, s"trainBpeMerges ran $bpe jobs")
    val unigram = jobsOf(TextAnalysis.trainUnigramLm(docs, "text", vocabSize = 120))
    assert(unigram <= 3, s"trainUnigramLm ran $unigram jobs")
  }

  test("a tokenizer fit over the word-type cap fails and names fitSample") {
    val docs = spark.range(TextAnalysis.MaxFitWordTypes + 1L)
      .withColumn("text", concat(lit("w"), col("id")))
    for (fit <- Seq[() => DataFrame](
        () => TextAnalysis.trainBpeMerges(docs, "text", nMerges = 1),
        () => TextAnalysis.trainUnigramLm(docs, "text", vocabSize = 40))) {
      val e = intercept[IllegalArgumentException](fit())
      assert(e.getMessage.contains("fitSample"), e.getMessage)
    }
    // a deterministic sample under the cap fits
    assert(TextAnalysis.trainBpeMerges(docs, "text", nMerges = 1,
      fitSample = Some(col("id") < 100)).count() === 1)
  }
}
