package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Tiny-literal edge tests for the round-7 text operators (SURVEY §5.2.2):
  * repetition stats at degenerate document shapes, and decontamination's
  * per-document distinct semantics + broadcast-guard fallback.
  */
class TextAnalysisSpec extends SparkSuite {
  import spark.implicits._

  private def repRows(texts: (Long, String)*) =
    TextAnalysis.repetitionStats(texts.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_tokens"),
        r.getAs[Double]("dup_word_frac"), r.getAs[Double]("top_ngram_frac"),
        r.getAs[Boolean]("keep"))))
      .toMap

  test("repetitionStats: empty and 1-token docs have no grams, zero fractions") {
    // Single-space split yields [""] for the empty string — 1 token by the
    // corpus-exact contract, and below n=2 so the gram array is empty.
    val out = repRows(1L -> "", 2L -> "hello")
    assert(out(1L) === ((1L, 0.0, 0.0, true)))
    assert(out(2L) === ((1L, 0.0, 0.0, true)))
  }

  test("repetitionStats: an all-same doc fails both thresholds") {
    val out = repRows(1L -> "a a a a")
    // 4 tokens, 1 type -> dup 0.75; grams ["a a","a a","a a"] -> top 1.0
    assert(out(1L) === ((4L, 0.75, 1.0, false)))
  }

  test("repetitionStats: longest-run fold counts the modal bigram exactly") {
    // tokens [x y x y z]: bigrams "x y","y x","x y","y z" -> top share 2/4
    val out = repRows(1L -> "x y x y z")
    assert(out(1L)._1 === 5L)
    assert(out(1L)._2 === 0.4)    // 1 - 3 types / 5 tokens
    assert(out(1L)._3 === 0.5)
    assert(!out(1L)._4)           // top share 0.5 > 0.08
  }

  test("repetitionStats: a diverse doc passes both thresholds") {
    val text = (1 to 20).map(i => s"w$i").mkString(" ") // 20 distinct tokens
    val out = repRows(1L -> text)
    assert(out(1L)._2 === 0.0)
    assert(out(1L)._3 === 0.052632) // 1/19 rounded to 6 dp
    assert(out(1L)._4)
  }

  private val contaminationDocs = Seq(
    (100L, "alpha beta gamma delta", true),                     // benchmark
    (1L, "alpha beta gamma delta epsilon", false),              // 2 shared grams
    (2L, "alpha beta gamma zzz alpha beta gamma", false),       // same gram twice
    (3L, "alpha beta", false),                                  // shorter than n
    (4L, "one two three four", false))                          // clean
    .toDF("doc_id", "text", "is_bench")

  private def hits(maxGrams: Long) =
    TextAnalysis.contaminationHits(contaminationDocs, "doc_id", "text",
      col("is_bench"), n = 3, broadcastMaxGrams = maxGrams)
      .orderBy("doc_id").as[(Long, Long)].collect()

  test("contaminationHits: distinct-per-doc counts; short and clean docs absent") {
    // doc 1 shares both bench grams; doc 2's repeated "alpha beta gamma"
    // counts ONCE (per-doc distinct); docs 3 (< n tokens) and 4 (clean)
    // never appear.
    assert(hits(maxGrams = 10000000L) === Array((1L, 2L), (2L, 1L)))
  }

  test("contaminationHits: shuffle fallback above the broadcast bound matches") {
    assert(hits(maxGrams = 0L) === hits(maxGrams = 10000000L))
  }

  test("gopherQualityFlags: each rule trips on its engineered fixture") {
    // 1: passes every rule — 60 words, the/of stopwords, alphabetic, no
    //    symbols or bullet/ellipsis lines
    val good = ("the data " + (1 to 57).map(i => s"word$i").mkString(" ") + " of").trim
    // 2: too short (3 words)
    val short = "the of and"
    // 3: symbol-heavy: 10 words, 2 '#' -> ratio 0.2 > 0.1
    val symbols = "the of a b c d e f # #"
    // 4: bullet lines: every line starts with "- " (frac 1.0 > 0.9)
    val bullets = "- the first\n- of second\n- and third"
    // 5: ellipsis line ends: 1 of 2 lines (0.5 > 0.3)
    val ellipsis = "the trailing line goes on...\nof a normal one"
    // 6: numeric tokens: 2 of 10 alphabetic (0.2 < 0.8)
    val numeric = "the 1 2 3 4 5 6 7 8 of"
    // 7: no stopwords
    val noStop = (1 to 60).map(i => s"token$i").mkString(" ")
    val out = TextAnalysis.gopherQualityFlags(
      Seq((1L, good), (2L, short), (3L, symbols), (4L, bullets),
        (5L, ellipsis), (6L, numeric), (7L, noStop))
        .toDF("doc_id", "text"),
      "doc_id", "text", minWords = 5, maxWords = 100000)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"), s"good doc rejected: ${out(1L)}")
    assert(out(2L).getAs[Long]("n_words") === 3L && !out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Double]("symbol_word_ratio") === 0.2)
    assert(!out(3L).getAs[Boolean]("keep"))
    assert(out(4L).getAs[Double]("bullet_line_frac") === 1.0)
    assert(!out(4L).getAs[Boolean]("keep"))
    assert(out(5L).getAs[Double]("ellipsis_line_frac") === 0.5)
    assert(!out(5L).getAs[Boolean]("keep"))
    assert(out(6L).getAs[Double]("alpha_word_frac") === 0.2)
    assert(!out(6L).getAs[Boolean]("keep"))
    assert(out(7L).getAs[Long]("n_stopwords") === 0L)
    assert(!out(7L).getAs[Boolean]("keep"))
  }

  test("c4LineClean: line rules keep punct-terminated 5-word lines, doc rules ban boilerplate") {
    val kept1 = "this line ends with a period."
    val kept2 = "does this line have five words?"
    val kept3 = "a quoted line of five words\""
    val docs = Seq(
      // 1: three keepable lines + three droppable ones -> keep
      (1L, Seq(kept1, "short line.", "no terminal punctuation here at all",
        kept2, "enable javascript to view this page.", kept3).mkString("\n")),
      // 2: same lines but only two survive -> below minLines
      (2L, Seq(kept1, kept2, "tail without punct").mkString("\n")),
      // 3: lorem ipsum page -> rejected even with 3 good lines
      (3L, Seq(kept1, kept2, kept3, "Lorem Ipsum dolor sit amet.").mkString("\n")),
      // 4: template braces -> rejected
      (4L, Seq(kept1, kept2, kept3, "if (x) { return y; }.").mkString("\n")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4LineClean(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_lines") === 6L)
    assert(out(1L).getAs[Long]("n_kept") === 3L)
    assert(out(1L).getAs[String]("clean_text") === Seq(kept1, kept2, kept3).mkString("\n"))
    assert(out(1L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Long]("n_kept") === 2L && !out(2L).getAs[Boolean]("keep"))
    assert(out(3L).getAs[Long]("n_kept") === 4L && !out(3L).getAs[Boolean]("keep"))
    assert(!out(4L).getAs[Boolean]("keep"))
  }

  test("gopherQualityFlags: degenerate docs (empty, 1 token) never divide by zero") {
    val out = TextAnalysis.gopherQualityFlags(
      Seq((1L, ""), (2L, "x")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // single-space split yields [""] -> 1 token; all fractions defined
    assert(out(1L).getAs[Long]("n_words") === 1L)
    assert(out(1L).getAs[Double]("mean_word_len") === 0.0)
    assert(!out(1L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Double]("alpha_word_frac") === 1.0)
    assert(!out(2L).getAs[Boolean]("keep")) // below minWords
  }

  test("charTrigramLogProb: hand-computed smoothed probabilities; short docs drop") {
    // corpus trigrams: doc1 "abab" -> aba, bab; doc2 "abax" -> aba, bax
    // counts: aba=2, bab=1, bax=1; contexts: ab=3 (aba+bab? no: prefixes
    // aba->ab, bab->ba, bax->ba) => ab: 2 (from aba), ba: 2 (bab+bax)
    // V = distinct final chars {a, b, x} = 3; k = 0.5
    val docs = Seq((1L, "abab"), (2L, "abax"), (3L, "xy")).toDF("doc_id", "text")
    val out = TextAnalysis.charTrigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    val pAba = (2 + 0.5) / (2 + 0.5 * 3) // C(aba)=2, C(ab.)=2
    val pBab = (1 + 0.5) / (2 + 0.5 * 3) // C(bab)=1, C(ba.)=2
    val pBax = (1 + 0.5) / (2 + 0.5 * 3)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out.map(t => (t._1, t._2)) === Array((1L, 2L), (2L, 2L)))
    assert(math.abs(out(0)._3 - r6((math.log(pAba) + math.log(pBab)) / 2)) < 2e-6)
    assert(math.abs(out(1)._3 - r6((math.log(pAba) + math.log(pBax)) / 2)) < 2e-6)
    // doc 3 is shorter than a trigram: absent, not zero-scored
    assert(!out.map(_._1).contains(3L))
    intercept[IllegalArgumentException](
      TextAnalysis.charTrigramLogProb(docs, "doc_id", "text", k = 0.0))
  }

  test("wordBigramLogProb: hand-computed stupid backoff; fit slice vs held-out doc") {
    // fit slice (even ids): doc0 "a b a b c", doc2 "a b x"
    //   c1: a=3 b=3 c=1 x=1; N=8, V=4
    //   c2: "a b"=3, "b a"=1, "b c"=1, "b x"=1
    // held-out doc1 "a b q c": "a b" seen -> ln(3/3); "b q"/"q c" back off
    val docs = Seq((0L, "a b a b c"), (1L, "a b q c"), (2L, "a b x"), (3L, "z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.wordBigramLogProb(docs, "doc_id", "text",
      fitPred = col("doc_id") % 2 === 0)
      .orderBy("doc_id").as[(Long, Long, Double, Double)].collect()
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val denom = 8.0 + 0.5 * 4
    assert(out.map(t => (t._1, t._2)) === Array((0L, 4L), (1L, 3L), (2L, 2L)))
    // doc0: ln(3/3), ln(1/3), ln(3/3), ln(1/3)
    assert(math.abs(out(0)._3 - r6(2 * math.log(1.0 / 3) / 4)) < 2e-6)
    assert(out(0)._4 === 0.0)
    // doc1: ln(1) + ln(0.4*(0+0.5)/denom) [q unseen] + ln(0.4*(1+0.5)/denom)
    val d1 = (math.log(1.0) + math.log(0.4 * 0.5 / denom) +
      math.log(0.4 * 1.5 / denom)) / 3
    assert(math.abs(out(1)._3 - r6(d1)) < 2e-6)
    assert(out(1)._4 === r6(2.0 / 3))
    // doc3 has one token -> no bigrams -> absent, not zero-scored
    assert(!out.map(_._1).contains(3L))
    intercept[IllegalArgumentException](
      TextAnalysis.wordBigramLogProb(docs, "doc_id", "text", lit(true), alpha = 0.0))
  }

  test("wordBigramLogProb: shuffle fallback above broadcastMaxEntries is byte-identical") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the dog"),
      (1L, "the quick red fox sleeps"),
      (2L, "pack my box with jugs"),
      (3L, "wholly novel words here")).toDF("doc_id", "text")
    val fast = TextAnalysis.wordBigramLogProb(docs, "doc_id", "text",
      col("doc_id") % 2 === 0)
    val slow = TextAnalysis.wordBigramLogProb(docs, "doc_id", "text",
      col("doc_id") % 2 === 0, broadcastMaxEntries = 0L)
    assert(fast.orderBy("doc_id").collect() === slow.orderBy("doc_id").collect())
  }

  test("tokenDivergence: identical snapshots are zero; hand-computed drift values") {
    import graft.operators.TextAnalysis.tokenDivergence
    val same = Seq((1L, "en", "a a b")).toDF("doc_id", "lang", "text")
    val zero = tokenDivergence(same, same, Seq("lang"), "text")
      .select("kl_old_new", "kl_new_old", "js_div")
      .as[(Double, Double, Double)].head()
    assert(zero === ((0.0, 0.0, 0.0)))
    // old = "a a a a", new = "b b b b": V=2, N=4 each, k=0.5 ->
    // p(a)=0.9 p(b)=0.1, q mirrored; KL = 0.8*ln(9), JS = 0.9*ln(1.8)+0.1*ln(0.2)
    val o = Seq((1L, "en", "a a a a")).toDF("doc_id", "lang", "text")
    val n = Seq((2L, "en", "b b b b")).toDF("doc_id", "lang", "text")
    val got = tokenDivergence(o, n, Seq("lang"), "text")
      .as[(String, Long, Long, Long, Double, Double, Double)].head()
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got._1 === "en" && got._2 === 1L && got._3 === 1L && got._4 === 2L)
    assert(got._5 === r6(0.8 * math.log(9.0)))
    assert(got._6 === r6(0.8 * math.log(9.0))) // symmetric fixture
    assert(got._7 === r6(0.9 * math.log(1.8) + 0.1 * math.log(0.2)))
    // JS is bounded by ln 2; KL is not
    assert(got._7 < math.log(2.0) && got._5 > math.log(2.0))
    intercept[IllegalArgumentException](
      tokenDivergence(o, n, Seq("lang"), "text", k = 0.0))
  }

  test("trainBpeMerges reproduces the Sennrich worked example; pair stats agree") {
    import graft.operators.TextAnalysis
    // the classic BPE corpus: low x5, lower x2, newest x6, widest x3
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    // hand-derived: es(9) wins round 1 on the (e,s)<(s,t) tie, then
    // est(9), then lo(7) on the (l,o)<(o,w) tie
    val got = TextAnalysis.trainBpeMerges(docs, "text", nMerges = 3)
      .orderBy("rank").as[(Int, String, String, String, Long)].collect()
    assert(got === Array(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L)))
    // iteration-0 pair stats match the merge loop's first argmax
    val top = TextAnalysis.bpePairStats(docs, "text", topK = 2)
      .as[(String, Long)].collect()
    assert(top === Array(("es", 9L), ("st", 9L)))
    // early stop: single-char vocabulary has no pairs after enough merges
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val all = TextAnalysis.trainBpeMerges(tiny, "text", nMerges = 5)
      .as[(Int, String, String, String, Long)].collect()
    assert(all === Array((1, "a", "b", "ab", 2L)))
    intercept[IllegalArgumentException](
      TextAnalysis.trainBpeMerges(docs, "text", nMerges = 0))
    // one doc per word: the table does not depend on partitioning
    val perWord = docs.select(explode(split(col("text"), " ")).as("text"))
    for (parts <- Seq(1, 7))
      assert(TextAnalysis.trainBpeMerges(perWord.repartition(parts), "text", nMerges = 3)
        .orderBy("rank").as[(Int, String, String, String, Long)].collect() === got)
  }

  test("q216 fixture: greedy merge trajectory is FORCED (unique argmax every round)") {
    import graft.operators.TextAnalysis
    // the q216 driver oracle states the merge table as five literal rows —
    // legitimate only because the fixture's round-r pair counts have a
    // strictly unique maximum at EVERY round (the tie-break never fires).
    // Re-derive the counts with an independent in-memory simulation of
    // Sennrich's algorithm and pin both the uniqueness margin and the
    // trajectory; then check the engine lands on it.
    val words = Seq(("abcd", 8L), ("abc", 4L), ("ab", 8L), ("efg", 9L), ("ef", 6L))
    var vocab = words.map { case (w, f) => (w.split("").toList, f) }
    val expect = Seq(("a", "b", 20L), ("e", "f", 15L), ("ab", "c", 12L),
      ("ef", "g", 9L), ("abc", "d", 8L))
    for (((ea, eb, en), r) <- expect.zipWithIndex) {
      val counts = vocab.flatMap { case (syms, f) =>
        syms.zip(syms.tail).map(p => (p, f))
      }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
      val sorted = counts.toSeq.sortBy(-_._2)
      assert(sorted.head._1 === ((ea, eb)) && sorted.head._2 === en,
        s"round ${r + 1}: expected ($ea,$eb,$en), counts $sorted")
      assert(sorted.length < 2 || sorted(1)._2 < en,
        s"round ${r + 1} has a tie at $en: $sorted")
      def fold(syms: List[String]): List[String] = syms match {
        case a :: b :: rest if a == ea && b == eb => (ea + eb) :: fold(rest)
        case x :: rest => x :: fold(rest)
        case Nil => Nil
      }
      vocab = vocab.map { case (syms, f) => (fold(syms), f) }
    }
    // and the engine walks exactly that trajectory
    val docs = words.toDF("w", "f")
      .select(explode(expr("transform(sequence(1, CAST(f AS INT)), i -> w)")).as("text"))
    val got = TextAnalysis.trainBpeMerges(docs, "text", nMerges = 5)
      .orderBy("rank").as[(Int, String, String, String, Long)].collect()
    assert(got === expect.zipWithIndex.map { case ((a, b, n), i) =>
      (i + 1, a, b, a + b, n) }.toArray)
  }

  test("trainBpeMerges matches the sequential recurrence on overlap and self-pair") {
    import graft.operators.TextAnalysis
    def table(docs: org.apache.spark.sql.DataFrame, n: Int) =
      TextAnalysis.trainBpeMerges(docs, "text", nMerges = n)
        .orderBy("rank").as[(Int, String, String, String, Long)].collect()
    def corpus(words: (String, Int)*) =
      Seq((1L, words.flatMap { case (w, f) => Seq.fill(f)(w) }.mkString(" ")))
        .toDF("doc_id", "text")
    // OVERLAP: round-1 counts are (a,b)=10, (x,a)=8, (d,e)=7; merging
    // (a,b) creates (x,ab)=8, so the second merge is (x,ab), not the
    // stale round-1 runner-up (d,e) — counts are recounted every round.
    val overlap = corpus("xab" -> 8, "de" -> 7, "ab" -> 2)
    assert(table(overlap, 3) === Array(
      (1, "a", "b", "ab", 10L), (2, "x", "ab", "xab", 8L), (3, "d", "e", "de", 7L)))
    // SELF-PAIR: merging (c,c) greedily left-to-right leaves [cc, c] and
    // creates (cc,c)=9 ABOVE the round-1 runner-up (d,e)=8.
    val selfPair = corpus("ccc" -> 9, "de" -> 8)
    assert(table(selfPair, 3) === Array(
      (1, "c", "c", "cc", 18L), (2, "cc", "c", "ccc", 9L), (3, "d", "e", "de", 8L)))
  }

  test("trainBpeMerges fitSample: deterministic sample fit agrees with the full fit") {
    import graft.operators.TextAnalysis
    // the Faiss-style contract: the tokenizer is model state fit on a
    // bounded deterministic sample. On the test corpus a 50% hash sample
    // sees the same dominant pair statistics, so the merge table must
    // agree with the full fit exactly — and be reproducible run-to-run.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val pred = pmod(xxhash64(col("doc_id")), lit(2)) === 0
    def table(sample: Option[org.apache.spark.sql.Column]) =
      TextAnalysis.trainBpeMerges(docs, "text", nMerges = 10, fitSample = sample)
        .orderBy("rank").as[(Int, String, String, String, Long)].collect()
    val sampled = table(Some(pred))
    val full = table(None)
    // sampling reorders near-tied pairs deep in the table, but the
    // dominant statistics survive halving: the head of the table agrees
    // exactly and the learned merge SET overlaps >= 80%
    assert(sampled.take(3).map(t => (t._2, t._3, t._4))
      === full.take(3).map(t => (t._2, t._3, t._4)),
      "sample fit diverged in the top-3 merges")
    val overlap = sampled.map(_._4).toSet.intersect(full.map(_._4).toSet).size
    assert(overlap >= 8, s"sample fit learned a different tokenizer: $overlap/10 shared merges")
    // deterministic: same predicate, same table, bit-for-bit
    assert(table(Some(pred)) === sampled)
    // and the sample fit really saw fewer observations
    assert(sampled.head._5 < full.head._5)
  }

  test("bpeEncodeStats applies a trained table; overlap-safe; validates merges") {
    import graft.operators.TextAnalysis
    // encode the Sennrich corpus under its own first 3 trained merges
    // (es, est, lo): low->2, lower->4, newest->4, widest->4 subtokens
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = Seq("e" -> "s", "es" -> "t", "l" -> "o")
    val got = TextAnalysis.bpeEncodeStats(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long, Double)].collect()
    assert(got === Array((1L, 16L, 5L * 2 + 2 * 4 + 6 * 4 + 3 * 4, 3.375)))
    // overlap safety: 'ababab' under [(a,b),(ab,ab)] must merge left-to-
    // right non-overlapping -> (abab)(ab) = 2 subtokens, exactly the
    // greedy iterative result; a bare-separator replace would miscount
    val rep = Seq((1L, "ababab")).toDF("doc_id", "text")
    val r = TextAnalysis.bpeEncodeStats(rep, "doc_id", "text",
      Seq("a" -> "b", "ab" -> "ab")).as[(Long, Long, Long, Double)].collect()
    assert(r === Array((1L, 1L, 2L, 2.0)))
    intercept[IllegalArgumentException](
      TextAnalysis.bpeEncodeStats(docs, "doc_id", "text", Seq.empty))
    intercept[IllegalArgumentException](
      TextAnalysis.bpeEncodeStats(docs, "doc_id", "text", Seq("(" -> "x")))
  }

  test("ictPairs: seeded line extraction reconstructs the doc; single-line docs drop") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "line a\nline b\nline c\nline d"),
      (2L, "only one line"),
      (3L, "x\ny")).toDF("doc_id", "text")
    val out = TextAnalysis.ictPairs(docs, "doc_id", "text", seed = 7L)
      .orderBy("doc_id").as[(Long, Long, String, String)].collect()
    assert(out.map(_._1) === Array(1L, 3L)) // doc 2 can't form a pair
    // splice the query back at its index -> the original line sequence
    out.foreach { case (id, qi, q, ctx) =>
      val orig = docs.where(col("doc_id") === id)
        .select("text").as[String].head().split("\n", -1)
      val rebuilt = ctx.split("\n", -1).toBuffer
      rebuilt.insert(qi.toInt, q)
      assert(rebuilt.toArray === orig, s"doc $id does not reconstruct")
    }
    // deterministic across runs; a different seed picks different lines
    val again = TextAnalysis.ictPairs(docs, "doc_id", "text", 7L)
      .orderBy("doc_id").as[(Long, Long, String, String)].collect()
    assert(again === out)
  }

  test("charEntropy: degenerate text scores near zero, uniform text high") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "aaaaaaaaaaaaaaaa"),       // single char: entropy exactly 0
      (2L, "abababababababab"),       // two equiprobable chars: ln 2
      (3L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Double, Boolean)].collect()
    assert(out(0) === ((1L, 16L, 1L, 0.0, false))) // ln n - n ln n / n = exactly 0
    assert(out(1)._4 === BigDecimal(math.log(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(!out(1)._5)                  // ln 2 = 0.693 < 2.0: junk
    assert(out(2)._4 > 2.0 && out(2)._5) // real text clears the bracket
    intercept[IllegalArgumentException](
      TextAnalysis.charEntropy(docs, "doc_id", "text", minEntropy = 3, maxEntropy = 1))
  }

  test("scriptProfile: per-script counts and the homoglyph confusable flag") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "plain ascii text 123"),
      (2L, "привет мир"),                 // pure Cyrillic: NOT confusable
      (3L, "pаypаl sеcurity"),            // Latin + Cyrillic а/е: confusable
      (4L, "καλημέρα κόσμε"),             // pure Greek
      (5L, "hello 你好 안녕 مرحبا"),        // 4 script families
      (6L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.scriptProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("latin_chars") === 14L)
    assert(out(1L).getAs[Long]("digit_chars") === 3L)
    assert(out(1L).getAs[Long]("n_scripts") === 1L)
    assert(!out(1L).getAs[Boolean]("confusable_mix"))
    assert(out(2L).getAs[Long]("cyrillic_chars") === 9L)
    assert(!out(2L).getAs[Boolean]("confusable_mix"), "pure Cyrillic is not a homoglyph mix")
    assert(out(3L).getAs[Long]("cyrillic_chars") === 3L) // а, а, е
    assert(out(3L).getAs[Boolean]("confusable_mix"), "embedded Cyrillic in Latin must flag")
    assert(out(4L).getAs[Long]("greek_chars") === 13L)
    assert(!out(4L).getAs[Boolean]("confusable_mix"))
    assert(out(5L).getAs[Long]("n_scripts") === 4L)
    assert(out(6L).getAs[Long]("n_chars") === 0L)
    assert(out(6L).getAs[Long]("n_scripts") === 0L)
  }

  test("charEntropy kernel matches a brute-force code-point histogram") {
    import graft.operators.TextAnalysis
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdefghijklmnop qrstuvwxyz0123456789,.!?éüñ中文日本語🌍🎉"
    val cases = Seq(
      "",                                       // empty: (0, 0, 0.0)
      "\u0000a\u0000b",                         // NUL is a real alphabet symbol
      "🌍🌍🎉",                                  // surrogate pairs count once
      alphabet,                                 // wide alphabet forces a rehash
      rnd.alphanumeric.take(500).mkString,
      { // sample CODE POINTS, not UTF-16 units — a lone surrogate is not
        // valid UTF-8 and gets replaced inside UTF8String
        val cps = alphabet.codePoints().toArray
        (0 until 300).map(_ =>
          new String(Character.toChars(cps(rnd.nextInt(cps.length))))).mkString
      })
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Double, Boolean)].collect()
    for (((t, i), (_, nChars, nDistinct, entropy, _)) <- cases.zipWithIndex.zip(got)) {
      val cps = t.codePoints().toArray
      assert(nChars === cps.length.toLong, s"case $i n_chars")
      assert(nDistinct === cps.distinct.length.toLong, s"case $i n_distinct")
      val n = cps.length.toDouble
      val exp = if (cps.isEmpty) 0.0
        else math.log(n) -
          cps.groupBy(identity).values.map(g =>
            g.length * math.log(g.length.toDouble)).sum / n
      assert(math.abs(entropy - BigDecimal(exp).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"case $i entropy")
    }
  }

  test("cardNumberPii: Luhn separates valid cards from near-miss digit runs") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "pay with 4532015112830366 today"),          // valid Visa test number
      (2L, "order 4532015112830367 is an id"),          // off-by-one: candidate only
      (3L, "short 123456789012 run"),                   // 12 digits: not a candidate
      (4L, "two cards 4532015112830366 and 4532015112830367")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.cardNumberPii(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, Boolean)].collect()
    assert(out === Array(
      (1L, 1L, 1L, true), (2L, 1L, 0L, false),
      (3L, 0L, 0L, false), (4L, 2L, 1L, true)))
  }

  test("badwordFilter: whole-token case-insensitive hits, no Scunthorpe substring trap") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "a clean document with safe words"),
      (2L, "contains BADTOK twice badtok here"),  // case-insensitive, 2 hits
      (3L, "embadtokked substring must not match")).toDF("doc_id", "text")
    val out = TextAnalysis.badwordFilter(docs, "doc_id", "text", Seq("BadTok"))
      .orderBy("doc_id").as[(Long, Long, Long, Double, Boolean)].collect()
    assert(out === Array(
      (1L, 6L, 0L, 0.0, true),
      (2L, 5L, 2L, 0.4, false),
      (3L, 5L, 0L, 0.0, true)))
    intercept[IllegalArgumentException](
      TextAnalysis.badwordFilter(docs, "doc_id", "text", Seq.empty))
  }

  test("charTrigramLogProb: shuffle fallback above broadcastMaxTrigrams is byte-identical") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"), (2L, "pack my box with jugs"),
      (3L, "the quick brown fox"), (4L, "zz")
    ).toDF("doc_id", "text")
    val viaBroadcast = TextAnalysis.charTrigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // bound of 1 forces the shuffle-join path for any non-trivial corpus
    val viaShuffle = TextAnalysis
      .charTrigramLogProb(docs, "doc_id", "text", broadcastMaxTrigrams = 1L)
      .orderBy("doc_id").collect()
    assert(viaShuffle === viaBroadcast)
    // and the fallback plan really dropped the fit broadcasts: with
    // auto-broadcast off (so Catalyst can't re-elect it for the tiny test
    // tables), no BroadcastHashJoin may appear on the trigram key — the
    // single-row nv crossJoin stays a broadcast nested loop by design
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val plan = TextAnalysis
        .charTrigramLogProb(docs, "doc_id", "text", broadcastMaxTrigrams = 1L)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"fit joins should fall back to shuffle joins above the bound:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("vocabCoverage: frequency-ranked cut, tie by word, exact OOV rates") {
    // counts: the=3, cat=2, dog=2, rare=1, zed=1 -> top-3 = {the, cat, dog}
    // (cat/dog tie at 2 resolved by word asc before the cut at 3)
    val docs = Seq(
      (1L, "the cat the dog"),   // 4 tokens, 0 oov
      (2L, "the cat dog rare"),  // 4 tokens, 1 oov (rare)
      (3L, "zed rare")           // 2 tokens, 2 oov
    ).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(docs, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(out === Array((1L, 4L, 0L, 0.0), (2L, 4L, 1L, 0.25), (3L, 2L, 2L, 1.0)))
    // vocabSize beyond the type count -> zero OOV everywhere
    val all = TextAnalysis.vocabCoverage(docs, "doc_id", "text", 100)
      .agg(sum("n_oov")).head().getLong(0)
    assert(all === 0L)
    intercept[IllegalArgumentException](
      TextAnalysis.vocabCoverage(docs, "doc_id", "text", 0))
  }

  test("stripMarkup: tags out, entities decoded in double-escape order, ws collapsed") {
    val out = TextAnalysis.markupStrip(
      Seq(
        1L -> "<html><body><p>hello   world</p><br/></body></html>",
        // &amp;amp; must decode to the literal "&amp;", never to "&";
        // an escaped tag (&lt;script&gt;) must survive as TEXT, not be
        // stripped as markup.
        2L -> "<p>a &amp;amp; b &lt;script&gt; c&nbsp;d&quot;e&#39;f</p>",
        3L -> "no markup at all",
        4L -> "").toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getAs[Long]("n_tags"),
        r.getAs[String]("clean_text")))).toMap
    assert(out(1L) === ((7L, "hello world")))
    assert(out(2L) === ((2L, "a &amp; b <script> c d\"e'f")))
    assert(out(3L) === ((0L, "no markup at all")))
    assert(out(4L) === ((0L, "")))
  }

  test("canonicalizeUrl: scheme/www/case/fragment/tracking/slash variants collapse") {
    val canon = Seq(
      1L -> "https://www.Example.com/Articles/12/",
      2L -> "HTTP://EXAMPLE.COM/Articles/12?utm_source=feed&utm_medium=rss",
      3L -> "http://example.com/Articles/12#section-2",
      4L -> "https://example.com/Articles/12?utm_campaign=x",
      // NOT variants of the same page:
      5L -> "https://example.com/articles/12",     // path case differs
      6L -> "https://example.com/Articles/12?id=7" // real param survives
    ).toDF("doc_id", "url")
      .select(col("doc_id"), TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(canon(1L) === "example.com/Articles/12")
    assert(canon(2L) === "example.com/Articles/12")
    assert(canon(3L) === "example.com/Articles/12")
    assert(canon(4L) === "example.com/Articles/12")
    assert(canon(5L) === "example.com/articles/12")
    assert(canon(6L) === "example.com/Articles/12?id=7")
    // mid-query tracking param drops cleanly, real params keep their glue
    val mid = Seq(7L -> "https://h.com/p?a=1&utm_source=x&b=2")
      .toDF("doc_id", "url")
      .select(TextAnalysis.canonicalizeUrl(col("url"))).head().getString(0)
    assert(mid === "h.com/p?a=1&b=2")
  }

  test("urlDedupKeepFirst keeps the smallest-id doc per canonical URL") {
    import graft.operators.Dedup
    val docs = Seq(
      (10L, "https://www.site.com/a", "ten"),
      (11L, "HTTP://site.com/a/", "eleven"),      // variant of 10: dropped
      (12L, "https://site.com/b", "twelve"),
      (13L, "https://site.com/a?utm_source=x", "thirteen") // variant of 10
    ).toDF("doc_id", "url", "text")
    val kept = Dedup.urlDedupKeepFirst(docs, "doc_id", "url")
    assert(kept.columns.toSeq === Seq("doc_id", "url", "text"))
    assert(kept.select("doc_id").as[Long].collect().sorted === Array(10L, 12L))
    // the 128-bit scale path (wide = true) keeps the same survivors — at
    // test scale both keys are collision-free, so only the key WIDTH differs
    val keptWide = Dedup.urlDedupKeepFirst(docs, "doc_id", "url", wide = true)
    assert(keptWide.columns.toSeq === Seq("doc_id", "url", "text"))
    assert(keptWide.select("doc_id").as[Long].collect().sorted === Array(10L, 12L))
  }

  test("normalizeForDedup: case/punct/ws re-renders collapse; distinct texts don't") {
    import graft.operators.TextAnalysis.normalizeForDedup
    val got = Seq(
      1L -> "Hello, World!",
      2L -> "hello   world",
      3L -> "HELLO WORLD!!!  ",
      4L -> "hello worlds" // genuinely different
    ).toDF("id", "t").select(col("id"), normalizeForDedup(col("t")).as("n"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "hello world" && got(2L) === "hello world"
      && got(3L) === "hello world")
    assert(got(4L) === "hello worlds")
    // idempotent: already-normal text is a fixed point
    val again = Seq("hello world").toDF("t")
      .select(normalizeForDedup(col("t"))).head().getString(0)
    assert(again === "hello world")
  }

  test("normalizeForDedup is Unicode-aware: non-Latin scripts keep their letters") {
    import graft.operators.TextAnalysis.normalizeForDedup
    // an ASCII-only [^a-z0-9] class would normalize every one of these to ""
    // and a keep-first dedup on the normalized form would collapse ALL
    // non-Latin documents into one fingerprint, deleting all but the first
    val got = Seq(
      1L -> "Héllo, Wörld!",
      2L -> "Привет, мир!",     // Cyrillic
      3L -> "你好，世界！",       // CJK (fullwidth punct stripped)
      4L -> "مرحبا بالعالم"     // Arabic
    ).toDF("id", "t").select(col("id"), normalizeForDedup(col("t")).as("n"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "héllo wörld")
    assert(got(2L) === "привет мир")
    assert(got(3L) === "你好 世界")
    assert(got(4L) === "مرحبا بالعالم")
    // distinct non-Latin texts keep DISTINCT normalized forms
    assert(got.values.toSet.size === 4)
    assert(got.values.forall(_.nonEmpty))
  }

  test("canonicalizeUrl is idempotent over the synthesized crawl corpus") {
    // canon(canon(u)) == canon(u): a canonical form that keeps moving under
    // re-application would split dedup groups between pipeline stages that
    // canonicalize at different times.
    import graft.operators.TextAnalysis.canonicalizeUrl
    val urls = graft.meta.Tables.documents(spark, sf).select(concat(
      when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
      when(col("doc_id") % 5 === 0, lit("WWW.")).otherwise(lit("")),
      col("source"), lit(".example.com/articles/"),
      (col("doc_id") % 40).cast("string"),
      when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("?utm_source=feed&utm_medium=rss"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("#section-2")).otherwise(lit("")))
      .as("url"))
    val moved = urls
      .select(canonicalizeUrl(col("url")).as("c1"))
      .select(col("c1"), canonicalizeUrl(col("c1")).as("c2"))
      .where(col("c1") =!= col("c2"))
    assert(moved.count() === 0L)
  }

  test("hostQualityStats: per-host dup fraction; blocklist and dup farms dropped") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      // good.com: 3 distinct pages
      (1L, "https://good.com/a", "alpha text"),
      (2L, "https://www.GOOD.com/b", "beta text"),
      (3L, "http://good.com/c", "gamma text"),
      // farm.com: 4 docs, 1 distinct text -> dup_frac 0.75 > 0.5
      (4L, "https://farm.com/p1", "same template"),
      (5L, "https://farm.com/p2", "same template"),
      (6L, "https://farm.com/p3", "same template"),
      (7L, "https://farm.com/p4", "same template"),
      // blocked.com: clean but blocklisted
      (8L, "https://blocked.com/x", "unique enough")
    ).toDF("doc_id", "url", "text")
    val out = TextAnalysis.hostQualityStats(docs, "url", "text",
      blocklist = Seq("blocked.com"), maxDupFrac = 0.5)
      .orderBy("host")
      .select("host", "n_docs", "n_unique", "dup_frac", "keep")
      .as[(String, Long, Long, Double, Boolean)].collect()
    assert(out === Array(
      ("blocked.com", 1L, 1L, 0.0, false),
      ("farm.com", 4L, 1L, 0.75, false),
      ("good.com", 3L, 3L, 0.0, true)))
  }

  test("charClassStats counts control/replacement/non-ascii; keep gates on them") {
    val rows = TextAnalysis.charClassStats(
      Seq(
        1L -> "clean ascii text",
        2L -> "bad\u0001\u0002stream",   // control chars
        3L -> "moji\uFFFDbake",          // replacement char (also non-ascii)
        4L -> "café déjà", // legit non-ascii: keep by default
        5L -> "tab\tand\nnewline",       // structural ws is NOT control
        6L -> "").toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long) = {
      val r = rows(id)
      (r.getAs[Long]("n_control"), r.getAs[Long]("n_replacement"),
        r.getAs[Long]("n_non_ascii"), r.getAs[Boolean]("keep"))
    }
    assert(f(1L) === ((0L, 0L, 0L, true)))
    assert(f(2L) === ((2L, 0L, 0L, false)))
    assert(f(3L) === ((0L, 1L, 1L, false)))
    assert(f(4L) === ((0L, 0L, 3L, true)))
    assert(f(5L) === ((0L, 0L, 0L, true)))
    assert(f(6L) === ((0L, 0L, 0L, true)))
    assert(rows(6L).getAs[Double]("ascii_ratio") === 1.0)
    // The ASCII-expected gate: café déjà is 3/11 non-ascii
    // (ratio 0.727...), so minAsciiRatio = 0.8 fails it.
    val strict = TextAnalysis.charClassStats(
      Seq(4L -> "café déjà").toDF("doc_id", "text"),
      "doc_id", "text", minAsciiRatio = 0.8)
      .collect().head
    assert(!strict.getAs[Boolean]("keep"))
    intercept[IllegalArgumentException](
      TextAnalysis.charClassStats(Seq(1L -> "x").toDF("doc_id", "text"),
        "doc_id", "text", minAsciiRatio = 1.5))
  }

  test("chunkDocs: overlap grid, short docs, exact boundary, guards") {
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val out = TextAnalysis.chunkDocs(
      Seq(1L -> ten, 2L -> "a b", 3L -> "a b c d").toDF("doc_id", "text"),
      "doc_id", "text", chunkTokens = 4, overlapTokens = 2)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("chunk_id")) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[String]("chunk_text")))).toMap
    // doc 1: 10 tokens, stride 2 -> ceil((10-4)/2)+1 = 4 chunks at
    // starts 1,3,5,7; the last covers 7..10.
    assert(out((1L, 0L)) === ((4L, "t1 t2 t3 t4")))
    assert(out((1L, 1L)) === ((4L, "t3 t4 t5 t6")))
    assert(out((1L, 2L)) === ((4L, "t5 t6 t7 t8")))
    assert(out((1L, 3L)) === ((4L, "t7 t8 t9 t10")))
    assert(!out.contains((1L, 4L)))
    // doc 2: shorter than one chunk -> exactly one short chunk
    assert(out((2L, 0L)) === ((2L, "a b")))
    assert(!out.contains((2L, 1L)))
    // doc 3: n == chunkTokens exactly -> one full chunk, no tail
    assert(out((3L, 0L)) === ((4L, "a b c d")))
    assert(!out.contains((3L, 1L)))
    val docs = Seq(1L -> ten).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      TextAnalysis.chunkDocs(docs, "doc_id", "text", 0))
    intercept[IllegalArgumentException](
      TextAnalysis.chunkDocs(docs, "doc_id", "text", 4, overlapTokens = 4))
    // zero-shuffle claim
    val plan = TextAnalysis.chunkDocs(docs, "doc_id", "text", 4, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunkDocs must be map-only:\n$plan")
  }

  test("extractMainContent: exact rule boundaries and the entity-decode order") {
    import graft.operators.TextAnalysis
    def extract(html: String): (String, Long, Long) = {
      val r = TextAnalysis.extractMainContent(
        Seq((1L, html)).toDF("doc_id", "html"), "doc_id", "html").head()
      (r.getString(1), r.getLong(2), r.getLong(3))
    }
    // minChars boundary: 24 chars drop, 25 keep (stopword-rich both)
    val t24 = "the cat and the dog sits"   // 24 chars
    val t25 = "the cats and the dog sits"  // 25 chars
    assert(extract(s"<p>$t24</p>")._3 === 0L)
    assert(extract(s"<p>$t25</p>") === ((t25, 1L, 1L)))
    // link-density boundary: 3*linkChars == len keeps (<=), above drops
    val atBoundary = "<p><a>ninechars</a> the and of cat is</p>"   // k=9, L=27
    assert(extract(atBoundary)._3 === 1L)
    val overBoundary = "<p><a>linktext12</a> the and of cat</p>"   // k=10, L=25
    assert(extract(overBoundary)._3 === 0L)
    // stopword per-mille boundary at the default 200: 1 stop in 5 words
    // (200 exactly) keeps; 1 in 6 drops
    assert(extract("<p>the plasma torus reactor subsystem</p>")._3 === 1L)
    assert(extract("<p>the plasma torus reactor subsystem calibrationx</p>")._3 === 0L)
    // entity decode: tags strip FIRST, then entities, &amp; LAST — the
    // double-escape discipline stripMarkup documents
    val entity = "<p>see &lt;tag&gt; and &amp;lt;escaped&amp;gt; of the thing</p>"
    assert(extract(entity)._1 === "see <tag> and &lt;escaped&gt; of the thing")
    // a zero-shuffle plan: the whole extraction is one projection
    val plan = TextAnalysis.extractMainContent(
      Seq((1L, "<p>x</p>")).toDF("doc_id", "html"), "doc_id", "html")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"extraction must be map-only:\n$plan")
    intercept[IllegalArgumentException](TextAnalysis.extractMainContent(
      Seq((1L, "x")).toDF("doc_id", "html"), "doc_id", "html", minChars = 0))
  }

  test("bm25TopK: idf favors rare terms, tf saturates, length normalizes") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha alpha alpha alpha alpha alpha alpha alpha"),
      (3L, "epsilon zeta eta theta"),
      (4L, "alpha beta common words appear here too")).toDF("doc_id", "text")
    val queries = Seq((100L, "alpha beta"), (200L, "nosuchterm"))
      .toDF("query_id", "qtext")
    val out = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        queries, "query_id", "qtext", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 1 (both terms, short) > doc 4 (both terms, longer) > doc 2
    // (one COMMON term repeated 8x — tf saturation + length norm cap it)
    assert(out((100L, 1L)) === 1L)
    assert(out((100L, 2L)) === 4L)
    assert(out((100L, 3L)) === 2L)
    // a query whose terms appear nowhere returns no rows, not zeros
    assert(!out.keys.exists(_._1 === 200L))
    intercept[IllegalArgumentException](TextAnalysis.bm25TopK(
      docs, "doc_id", "text", queries, "query_id", "qtext", 0))
    intercept[IllegalArgumentException](TextAnalysis.bm25TopK(
      docs, "doc_id", "text", queries, "query_id", "qtext", 5, b = 1.5))
  }

  test("trigramLangId: profiles classify held-out docs; all-floor docs still score") {
    val docs = Seq(
      (0L, "en", "the quick brown fox and the lazy dog the end"),
      (2L, "en", "the rain in spain falls on the plain the whole day"),
      (4L, "de", "der schnelle braune fuchs und der faule hund das ende"),
      (6L, "de", "der regen in spanien bleibt auf der ebene den ganzen tag"),
      (1L, "en", "the fox and the dog met the cat"),
      (3L, "de", "der fuchs und der hund trafen die katze"),
      (5L, "en", "zzqj qqkx xxwv")).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.trigramLangId(docs, "doc_id", "text", "lang",
        fitPred = col("doc_id") % 2 === 0)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) === "en")
    assert(out(3L) === "de")
    // doc 5 shares ~no trigram with either profile: the per-language floor
    // (not a null/missing row) must decide — any language, never a crash
    assert(Set("en", "de").contains(out(5L)))
    assert(out.size === 7, "fit docs are classified too")
    intercept[IllegalArgumentException](
      TextAnalysis.trigramLangId(docs, "doc_id", "text", "lang", lit(true), k = 0.0))
  }

  test("trained trigram lang-ID strictly dominates the marker heuristic (q167 contract)") {
    // Same seeded corpus, same held-out slice, both classifiers: the
    // trained model must win the diagonal outright — this is the measured
    // claim behind shipping a trained tier above q30's marker lists.
    val seeded = graft.meta.Tables.documents(spark, sf)
      .withColumn("text", concat(col("text"), SparkEntry.langSeedSuffix))
    val trained = TextAnalysis.trigramLangId(seeded, "doc_id", "text", "lang",
        fitPred = col("doc_id") % 2 === 0)
      .where(col("doc_id") % 2 === 1)
    val n = trained.count()
    val trainedHits = trained.where(col("lang") === col("predicted")).count()
    val markers = SparkEntry.langMarkers
    val langs = markers.keys.toSeq.sorted
    val d = seeded.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), TextAnalysis.tokens(col("text")).as("_tk"))
    val scored = TextAnalysis.languageScoresOver(col("_tk"), markers)
      .foldLeft(d) { case (df, (l, c)) => df.withColumn(s"score_$l", c) }
    val heurHits = scored.withColumn("predicted",
        TextAnalysis.languageIdFromScores(langs.map(l => l -> col(s"score_$l"))))
      .where(col("lang") === col("predicted")).count()
    assert(trainedHits > heurHits,
      s"trained $trainedHits/$n must beat heuristic $heurHits/$n")
    // and not merely beat a chance-level baseline: >= 80% absolute (the
    // unseeded doc_id % 7 == 3 slice is the irreducible-error tail)
    assert(trainedHits * 10 >= n * 8, s"trained $trainedHits/$n below 80%")
  }

  // ---- unigram-LM tokenizer ----

  /** Brute-force reference: all segmentations of `w` under `vocab`, with
    * path log-probs. */
  private def allSegs(w: String, vocab: Map[String, Double],
                      maxLen: Int): Seq[(Seq[String], Double)] =
    if (w.isEmpty) Seq((Nil, 0.0))
    else (1 to math.min(maxLen, w.length)).flatMap { l =>
      val p = w.substring(0, l)
      vocab.get(p).toSeq.flatMap { lp =>
        allSegs(w.substring(l), vocab, maxLen).map { case (seg, s) => (p +: seg, s + lp) }
      }
    }

  private def logSumExp(xs: Seq[Double]): Double = {
    val m = xs.max
    m + math.log(xs.map(x => math.exp(x - m)).sum)
  }

  test("unigramEmStep matches brute-force expected counts and log-likelihood") {
    val vocab = Map("a" -> math.log(0.3), "b" -> math.log(0.2),
      "ab" -> math.log(0.35), "ba" -> math.log(0.15))
    val wf = Array(("abab", 3L), ("ba", 2L), ("aab", 1L))
    val (got, gotLl) = TextAnalysis.unigramEmStep(wf, vocab, maxPieceLen = 2)
    // reference: per word, posterior-weighted piece occurrence counts
    val exp = collection.mutable.HashMap.empty[String, Double]
    var expLl = 0.0
    for ((w, f) <- wf) {
      val segs = allSegs(w, vocab, 2)
      val z = logSumExp(segs.map(_._2))
      expLl += f * z
      for ((seg, lp) <- segs; p <- seg)
        exp(p) = exp.getOrElse(p, 0.0) + f * math.exp(lp - z)
    }
    assert(math.abs(gotLl - expLl) < 1e-9, s"ll $gotLl vs $expLl")
    assert(got.keySet === exp.keySet)
    for ((p, c) <- exp)
      assert(math.abs(got(p) - c) < 1e-9, s"count[$p] ${got(p)} vs $c")
  }

  test("trainUnigramLm: EM likelihood is monotone; output is a normalized ranked vocab") {
    val docs = Seq(
      (1L, "the theme of the thesis"), (2L, "there is the other theory"),
      (3L, "then the weather and the sea"), (4L, "rather the same theme again"),
      (5L, "another thesis about the theme")).toDF("doc_id", "text")
    val out = TextAnalysis.trainUnigramLm(docs, "text", vocabSize = 30,
      maxPieceLen = 4, emIters = 2).collect()
    // ranked 1..n, all single corpus chars present, multis capped by vocabSize
    assert(out.map(_.getInt(0)).toSeq === (1 to out.length))
    assert(out.length === 30)
    val pieces = out.map(_.getString(1)).toSet
    val chars = docs.collect().flatMap(_.getString(1).split("")).filter(_.matches("[a-z0-9]")).toSet
    assert(chars.subsetOf(pieces))
    // probabilities normalize: logsumexp(logp) ~ 0 (rounded to 6 dp each)
    val lse = logSumExp(out.map(_.getDouble(2)).toSeq)
    assert(math.abs(lse) < 1e-3, s"logsumexp(logp) = $lse")
    // EM monotonicity on the same corpus: LL never decreases across steps
    val wf = TextAnalysis.wordTypes(docs, "text", None, "trainUnigramLm")
    val seed = pieces.toSeq.sorted
    val init = seed.map(p => p -> math.log(1.0 / seed.size)).toMap
    val (c1, ll1) = TextAnalysis.unigramEmStep(wf, init, 4)
    val total = c1.values.sum
    val v1 = c1.map { case (p, c) => p -> (math.log(math.max(c, 1e-12)) - math.log(total)) }
    val (_, ll2) = TextAnalysis.unigramEmStep(wf, v1, 4)
    assert(ll2 >= ll1 - 1e-9, s"EM decreased likelihood: $ll1 -> $ll2")
    // the fit does not depend on partitioning, exp_count included
    for (parts <- Seq(1, 7))
      assert(TextAnalysis.trainUnigramLm(docs.repartition(parts), "text", vocabSize = 30,
        maxPieceLen = 4, emIters = 2).collect().toSeq === out.toSeq)
  }

  test("unigramEncodeStats: Viterbi picks max-likelihood, ties prefer fewer pieces, unk covers") {
    val vocab = Seq("a" -> -1.0, "b" -> -1.0, "ab" -> -2.0, "c" -> -0.5)
    val docs = Seq((1L, "ab ab"), (2L, "cab"), (3L, "xyz")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramEncodeStats(docs, "doc_id", "text", vocab,
        unkLogp = -20.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"),
          r.getAs[Double]("viterbi_logp")))).toMap
    // "ab": one-piece (-2.0) ties two-piece (-1-1 = -2.0) -> fewer pieces
    assert(out(1L) === ((2L, 2L, -4.0)))
    // "cab": c + ab (-0.5 - 2.0) vs c+a+b (-2.5) tie again -> 2 pieces
    assert(out(2L) === ((1L, 2L, -2.5)))
    // "xyz": no piece known -> 3 unk single-char arcs
    assert(out(3L) === ((1L, 3L, -60.0)))
  }

  test("unigramSampleStats: seeded FFBS matches lattice theory; alpha->inf is Viterbi") {
    // 676 structurally-identical two-char words, each with exactly two
    // segmentations: one piece at -1.5 or two singles at -2.0. Every word
    // TYPE draws independently (its own splitmix64 stream), so the one-
    // piece fraction over 676 draws is a 4-sigma-tight binomial check of
    // the FFBS posterior p1(alpha) = 1 / (1 + e^(-0.5 alpha)) — and the
    // whole test is seed-deterministic, never flaky.
    val letters = ('a' to 'z').map(_.toString)
    val vocab = letters.map(_ -> -1.0) ++
      (for (x <- letters; y <- letters) yield (x + y) -> -1.5)
    val words = for (x <- letters; y <- letters) yield x + y
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    def sample(alpha: Double, seed: Long) =
      TextAnalysis.unigramSampleStats(docs, "doc_id", "text", vocab,
        alpha = alpha, seed = seed).head()
    def frac1(alpha: Double, seed: Long): Double =
      (2.0 * 676 - sample(alpha, seed).getAs[Long]("n_pieces")) / 676
    // replay-idempotence: same (corpus, vocab, alpha, seed) is bit-stable
    assert(TextAnalysis.unigramSampleStats(docs, "doc_id", "text", vocab,
        alpha = 1.0, seed = 7L).collect()
      === TextAnalysis.unigramSampleStats(docs, "doc_id", "text", vocab,
        alpha = 1.0, seed = 7L).collect())
    // posterior frequencies track the alpha-scaled lattice (+-0.08 ~ 4 sigma)
    assert(math.abs(frac1(1.0, 42L) - 1.0 / (1.0 + math.exp(-0.5))) < 0.08)
    assert(math.abs(frac1(4.0, 42L) - 1.0 / (1.0 + math.exp(-2.0))) < 0.08)
    // a different seed draws a different mix (logp is piece-count-exact here)
    assert(sample(1.0, 42L).getAs[Double]("sampled_logp")
      !== sample(1.0, 43L).getAs[Double]("sampled_logp"))
    // alpha -> inf concentrates on the (tie-free) Viterbi path exactly,
    // and finite-alpha samples never beat Viterbi likelihood
    val vit = TextAnalysis.unigramEncodeStats(docs, "doc_id", "text", vocab).head()
    val hi = sample(60.0, 9L)
    assert(hi.getAs[Long]("n_pieces") === vit.getAs[Long]("n_pieces"))
    assert(hi.getAs[Double]("sampled_logp") === vit.getAs[Double]("viterbi_logp"))
    assert(sample(1.0, 7L).getAs[Double]("sampled_logp")
      <= vit.getAs[Double]("viterbi_logp") + 1e-9)
    // single-char-only vocab: one lattice path -> sampling is seed- and
    // alpha-invariant and equals the Viterbi stats (the q202 twin's basis)
    val singlesOnly = vocab.filter(_._1.length == 1)
    val s1 = TextAnalysis.unigramSampleStats(docs, "doc_id", "text",
      singlesOnly, alpha = 0.3, seed = 1L).collect()
    val s2 = TextAnalysis.unigramSampleStats(docs, "doc_id", "text",
      singlesOnly, alpha = 5.0, seed = 99L).collect()
    assert(s1 === s2)
    assert(s1.head.getAs[Long]("n_pieces")
      === TextAnalysis.unigramEncodeStats(docs, "doc_id", "text", singlesOnly)
        .head().getAs[Long]("n_pieces"))
  }

  test("unigramSampleStatsPerOccurrence: occurrences of one word draw independently") {
    // ONE word type repeated 400 times in one document: the per-TYPE
    // sampler gives every occurrence the same draw (n_pieces is exactly
    // 400 or 800); the per-OCCURRENCE sampler draws each position from
    // its own (id, pos, word) stream, so the one-piece fraction over 400
    // independent draws sits in the 4-sigma band of the lattice
    // posterior p1(alpha=1) = 1/(1 + e^-0.5) — strictly between the two
    // per-type outcomes. Seed-deterministic, never flaky.
    val vocab = Seq("a" -> -1.0, "b" -> -1.0, "ab" -> -1.5)
    val docs = Seq((1L, Seq.fill(400)("ab").mkString(" "))).toDF("doc_id", "text")
    def occ(alpha: Double, seed: Long) =
      TextAnalysis.unigramSampleStatsPerOccurrence(docs, "doc_id", "text",
        vocab, alpha = alpha, seed = seed).head()
    val r = occ(1.0, 42L)
    assert(r.getAs[Long]("n_words") === 400L)
    val frac1 = (2.0 * 400 - r.getAs[Long]("n_pieces")) / 400
    assert(math.abs(frac1 - 1.0 / (1.0 + math.exp(-0.5))) < 0.1,
      s"one-piece fraction $frac1 off the lattice posterior")
    assert(frac1 > 0.0 && frac1 < 1.0,
      "per-occurrence draws collapsed to a single per-type outcome")
    val typed = TextAnalysis.unigramSampleStats(docs, "doc_id", "text",
      vocab, alpha = 1.0, seed = 42L).head().getAs[Long]("n_pieces")
    assert(typed === 400L || typed === 800L,
      s"per-type sampler should give one shared draw, got $typed pieces")
    // replay-idempotent; alpha -> inf recovers Viterbi exactly
    assert(occ(1.0, 42L).toString === r.toString)
    val vit = TextAnalysis.unigramEncodeStats(docs, "doc_id", "text", vocab).head()
    assert(occ(60.0, 9L).getAs[Long]("n_pieces") === vit.getAs[Long]("n_pieces"))
    assert(occ(60.0, 9L).getAs[Double]("sampled_logp")
      === vit.getAs[Double]("viterbi_logp"))
    // single-char vocab: one lattice path -> seed/alpha-invariant (q209's basis)
    val singles = vocab.filter(_._1.length == 1)
    assert(TextAnalysis.unigramSampleStatsPerOccurrence(docs, "doc_id", "text",
        singles, alpha = 0.3, seed = 1L).collect().map(_.toString).toSeq
      === TextAnalysis.unigramSampleStatsPerOccurrence(docs, "doc_id", "text",
        singles, alpha = 5.0, seed = 77L).collect().map(_.toString).toSeq)
    // loud-validation: a string id column fails up front instead of the
    // cast silently nulling every row into a partial/empty result
    val strDocs = Seq(("doc-x", "ab ab")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.unigramSampleStatsPerOccurrence(strDocs, "doc_id", "text",
        vocab, alpha = 1.0, seed = 42L))
    assert(e.getMessage.contains("integral"), e.getMessage)
  }
}
