package graft.operators

import graft.functions.GraftFunctions.rolling_hash
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators for LLM-data pipelines (north-star extension;
  * BASELINE.json). All built from codegen'd built-ins / higher-order
  * functions — no Scala-closure UDFs in the hot path — so they run inside
  * whole-stage codegen on a 100 TB `documents` scan.
  */
object TextAnalysis {

  /** Whitespace tokens. Single-space split matches the synthetic corpus and
    * the DuckDB oracle exactly; real text goes through [[tokensWs]] /
    * [[wordTokens]]. */
  def tokens(text: Column): Column = split(text, " ")

  /** Real-text whitespace tokenization: split on whitespace RUNS (`\s+`)
    * and drop empty tokens — multi-space, tabs, newlines, and leading/
    * trailing whitespace all collapse, where the corpus-exact single-space
    * [[tokens]] would emit empty tokens. Still pure codegen'd built-ins. */
  def tokensWs(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Word tokens: maximal `[A-Za-z0-9]+` runs — punctuation-immune
    * tokenization. The character-class pattern is RE2-safe, so DuckDB's
    * `regexp_extract_all` computes the identical list (oracle q73). */
  def wordTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0))

  /** Count occurrences of an exact token. */
  def tokenOccurrences(text: Column, token: String): Column =
    size(filter(tokens(text), t => t === token))

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Distinct-token (type) count; type/token ratio is a standard quality
    * signal. */
  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** BPE-ish subword count estimate: whitespace tokens + intra-token splits
    * on letter/digit boundaries, the cheap deterministic stand-in for a real
    * tokenizer's token count. */
  def subwordCountEstimate(text: Column): Column =
    size(split(text, "[ ]|(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])"))

  /** Language-ID by marker-token voting: score each candidate language by
    * occurrences of its marker stopwords, predict the argmax (deterministic
    * tie-break by language code). The classic fastText-free n-gram/stopword
    * heuristic, expressed as pure column arithmetic. */
  def languageScores(text: Column, markers: Map[String, Seq[String]]): Seq[(String, Column)] =
    markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> words.map(w => tokenOccurrences(text, w)).reduce(_ + _)
    }

  /** [[languageScores]] over a BOUND token-array column: the text is split
    * once per row no matter how many languages/markers vote (the raw-text
    * form re-splits once per marker word — fine for a single column, a
    * plan-wide waste inside wide score projections). */
  def languageScoresOver(toks: Column, markers: Map[String, Seq[String]]): Seq[(String, Column)] =
    markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> words.map(w => size(filter(toks, t => t === w))).reduce(_ + _)
    }

  /** Argmax over ALREADY-COMPUTED score columns — callers that also output
    * the scores should bind them once and pass the bound columns here
    * instead of [[languageId]], which re-derives every score from the raw
    * text (Catalyst will not de-duplicate across the two call sites). */
  def languageIdFromScores(scored: Seq[(String, Column)]): Column = {
    // argmax with deterministic tie-break: max over (score, lang) structs —
    // ties resolve to the lexicographically LAST language at equal score, so
    // flip lang ordering into a sortable desc form via struct order.
    val best = greatest(scored.map { case (l, s) => struct(s.as("s"), lit(l).as("l")) }: _*)
    best.getField("l")
  }

  def languageId(text: Column, markers: Map[String, Seq[String]]): Column =
    languageIdFromScores(languageScores(text, markers))

  /** Composite quality score in [0,1]: type/token ratio, mean token length
    * band, and length band — a deterministic stand-in for classifier-based
    * quality filtering (Gopher/C4-style heuristics). */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val ttr = distinctTokenCount(text).cast("double") / nTok
    val meanLen = (length(text) - (nTok - 1)) / nTok // chars sans separators
    val lenBand = when(nTok >= 20 && nTok <= 1000, 1.0).otherwise(0.5)
    val wordBand = when(meanLen >= 3 && meanLen <= 10, 1.0).otherwise(0.5)
    round((ttr * 0.5) + (lenBand * 0.25) + (wordBand * 0.25), 6)
  }

  /** Document fingerprint — portable polynomial rolling hash (native
    * expression, [[graft.functions.RollingHash]]). */
  def fingerprint(text: Column): Column = rolling_hash(text)

  /** Document fingerprint — md5 (matches any engine's md5). */
  def fingerprintMd5(text: Column): Column = md5(text)

  /** Word n-grams of a BOUND token-array column. Callers must bind the token
    * array to a real column first (`tokens(...).as("_tk")` in a projection):
    * a raw `split()` inside this higher-order lambda would re-evaluate per
    * array element (see MinHash lesson, SNIPPETS §HOF). */
  def ngrams(tokenArr: Column, n: Int): Column =
    when(size(tokenArr) >= n,
      transform(sequence(lit(0), size(tokenArr) - n),
        i => concat_ws(" ", slice(tokenArr, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** TF-IDF scores, top-k terms per document. Distributed shape: explode to
    * (doc, term) pairs, one aggregation for tf, one re-aggregation for df
    * (both map-side combinable), a term-keyed join AQE can broadcast when
    * the vocabulary is small, then a per-doc rank window. The corpus size
    * `n` is a fit scalar (same pattern as [[Encode]] estimators).
    * Scores are rounded to 6 dp BEFORE ranking so ordering is reproducible
    * across engines whose `ln` differs in the last ulp. */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // Corpus size as a LAZY broadcast scalar (1-row cross join), not an
    // eager .count() — building the plan must not block on a full scan.
    val n = docs.agg(count(lit(1)).cast("double").as("_n"))
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("term").asc)
    tf.join(idf, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("_n") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }

  /** Special-token contamination audit — the tokenizer-safety gate every
    * pipeline runs before training: documents containing LITERAL control
    * sequences (`<|endoftext|>`, FIM sentinels, chat-template markers)
    * corrupt training — the tokenizer emits the control id mid-document
    * and the model learns to end/switch context on user-controllable
    * text (a prompt-injection vector as much as a quality bug). Counts
    * occurrences of each audited token via length arithmetic (exact,
    * overlap-free, no regex escaping pitfalls) and flags any hit.
    * Output: (idCol, n_special_hits, clean). Zero-shuffle projection. */
  def specialTokenAudit(docs: DataFrame, idCol: String, textCol: String,
                        specials: Seq[String]): DataFrame = {
    require(specials.nonEmpty && specials.forall(_.nonEmpty),
      "specialTokenAudit needs at least one non-empty token")
    val hits = specials.map { t =>
      (length(col(textCol)) -
        length(replace(col(textCol), lit(t), lit("")))) / t.length
    }.reduce(_ + _)
    docs.select(col(idCol), hits.cast("long").as("n_special_hits"))
      .withColumn("clean", col("n_special_hits") === 0)
  }

  /** Fill-in-middle (FIM) transform — the code-pretraining augmentation
    * (Bavarian et al. 2022): for a hash-selected `ratePct`% of documents,
    * cut the token stream at two deterministic points and re-emit in PSM
    * order `<fim_prefix> P <fim_suffix> S <fim_middle> M`, teaching the
    * model to infill; the rest pass through untouched. Everything is
    * hash-seeded off the text ([[Stats.hashBucket]]'s universal mix), so
    * the transform is reproducible across engines, runs, and retries —
    * re-running the pipeline never re-rolls which docs are FIM'd or
    * where the cuts fall. Documents under 3 tokens pass through (no
    * meaningful cut exists). Output: (idCol, fim_applied, n_tokens,
    * text_out). Pure codegen projection — zero shuffles. */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String,
                   ratePct: Int = 50): DataFrame = {
    require(ratePct >= 0 && ratePct <= 100,
      s"fimTransform needs ratePct in [0, 100], got $ratePct")
    val tk = tokens(col(textCol))
    val n = size(tk)
    val sel = Stats.hashBucket(col(textCol), 100) < ratePct && n >= 3
    val a = lit(1) + pmod(
      Stats.hashBucket(concat(col(textCol), lit("#a")), 1000000), (n - 1).cast("long"))
    val b = lit(1) + pmod(
      Stats.hashBucket(concat(col(textCol), lit("#b")), 1000000), (n - 1).cast("long"))
    val p1 = least(a, b).cast("int")
    val p2 = greatest(a, b).cast("int")
    val fim = concat(
      lit("<fim_prefix>"), concat_ws(" ", slice(tk, lit(1), p1)),
      lit("<fim_suffix>"), concat_ws(" ", slice(tk, p2 + 1, n - p2)),
      lit("<fim_middle>"), concat_ws(" ", slice(tk, p1 + 1, p2 - p1)))
    docs.select(col(idCol), sel.as("fim_applied"),
      n.cast("long").as("n_tokens"),
      when(sel, fim).otherwise(col(textCol)).as("text_out"))
  }

  /** Distinct-n diversity stats per group — the synthetic-data QA metric
    * (Self-Instruct's ROUGE-dedup motivation, distinct-1/distinct-2 from
    * the dialogue-diversity literature): a generator in mode collapse
    * emits fluent text whose n-gram VARIETY craters long before any
    * exact-dup filter fires; the distinct/total n-gram ratio per source
    * is the one-aggregate detector. Output per group:
    * (grp, n_docs, n_grams, distinct_grams, distinct_ratio) at word
    * `n`-grams; compare a synthetic source's ratio against a human
    * slice's at matched volume (the ratio falls with corpus size even
    * for human text — judge DELTAS at equal n_grams, not absolutes).
    *
    * Scale shape: one explode + ONE group-keyed aggregate (count +
    * count distinct — the distinct rides a partial-aggregated expand,
    * map-side combinable); nothing else. */
  def distinctNgramStats(docs: DataFrame, groupCol: Column, idCol: String,
                         textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"distinctNgramStats needs n >= 1, got $n")
    docs.select(groupCol.as("grp"), col(idCol),
        tokens(col(textCol)).as("_tk"))
      .select(col("grp"), col(idCol), explode(ngrams(col("_tk"), n)).as("_g"))
      .groupBy("grp")
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_grams"),
        countDistinct(col("_g")).as("distinct_grams"))
      .withColumn("distinct_ratio",
        round(col("distinct_grams").cast("double") / col("n_grams"), 6))
  }

  /** Vocabulary-growth (Heaps-law) curve: ingest documents in `idCol`
    * order and report, per document, the cumulative token count vs the
    * cumulative DISTINCT type count — the corpus-growth diagnostic
    * behind "is more crawl still adding vocabulary or just repeating
    * itself" (Heaps 1978: types ~ K·tokens^beta; a flattening curve is
    * the data-side saturation signal scaling-law work keys on).
    *
    * Scale shape: one corpus explode feeding two map-side-combinable
    * aggregates — per-doc token counts, and each type's FIRST document
    * (min over the type key) rolled up into types-born-per-doc; the
    * cumulative columns ride [[Batching.prefixSum]]'s two-phase
    * distributed scan (range partition + per-partition offsets), NEVER a
    * single-partition window, so the curve computes at any doc count.
    * Documents with zero word tokens drop out of the curve (the explode
    * drops them — same contract as every tokenizing fit here).
    * Output: (idCol, n_tokens, n_new_types, cum_tokens, cum_types). */
  def vocabGrowthCurve(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol), explode(wordTokens(col(textCol))).as("_w"))
    val perDoc = tok.groupBy(col(idCol)).agg(count(lit(1)).as("n_tokens"))
    val born = tok.groupBy("_w").agg(min(col(idCol)).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_new_types"))
    val joined = perDoc.join(born, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
    val c1 = Batching.prefixSum(joined, Seq(idCol), "n_tokens", "cum_tokens")
    Batching.prefixSum(c1, Seq(idCol), "n_new_types", "cum_types")
  }

  /** Compression-ratio quality gate (the Gopher/DCLM zlib signal): per
    * doc, the raw-DEFLATE ratio of the UTF-8 text
    * ([[graft.functions.DeflateRatio]]) and a keep bracket — below
    * `minRatio` the doc is dominated by long-range repetition
    * (boilerplate/template/SEO spam that [[repetitionStats]]' bounded
    * n-grams and [[charEntropy]]'s order-free distribution both
    * under-detect); above `maxRatio` it is incompressible content posing
    * as text (base64/uuencode ~0.78, binary spill re-encoded as UTF-8
    * ~0.85). The default bracket is calibrated for documents >= ~200
    * chars (apply AFTER the min-length gate every pipeline runs first —
    * the ratio is length-sensitive: ~0.68 for 200-char prose, ~0.26 for
    * 2 KB prose, < 0.1 for heavy repetition). Zero-shuffle codegen
    * projection; ratio rounds to 6 dp and the bracket compares the
    * ROUNDED value. DEFLATE bytes are zlib-version-dependent, so queries
    * over this take the rows-only check (q59's sketch contract) — the
    * ordering contract is pinned by FunctionsSpec instead. */
  def compressionQuality(docs: DataFrame, idCol: String, textCol: String,
                         minRatio: Double = 0.1,
                         maxRatio: Double = 0.75): DataFrame = {
    require(minRatio >= 0 && minRatio <= maxRatio,
      s"compressionQuality needs 0 <= minRatio <= maxRatio, got [$minRatio, $maxRatio]")
    docs.select(col(idCol),
        round(graft.functions.GraftFunctions.deflate_ratio(col(textCol)), 6)
          .as("deflate_ratio"))
      .withColumn("keep",
        col("deflate_ratio") >= minRatio && col("deflate_ratio") <= maxRatio)
  }

  /** BM25 lexical retrieval (Robertson–Walker Okapi BM25, Lucene's
    * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))` variant): top-`k` documents
    * per query — the LEXICAL retrieval arm beside the dense ANN stack
    * ([[graft.operators.Similarity]]); fuse the two with
    * [[Similarity.rrfFuse]] for the standard hybrid. Query terms are the
    * DISTINCT word tokens of the query text (query-side tf is 1, the
    * universal short-query convention); per matching term a document
    * contributes `idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))`.
    *
    * Ranking determinism: the per-(query, doc) score is a SUM over
    * matched terms, so its last float bits depend on accumulation order —
    * the rank window therefore orders by the 6-dp ROUNDED score (ties by
    * doc id), making the top-k set and order engine-reproducible where a
    * raw-score sort would flip structural ties (identical short docs)
    * between engines. (q27's cosine top-k can rank on the raw value only
    * because each cosine is ONE kernel evaluation, not a variable-order
    * sum.)
    *
    * Distributed shape: tf and df are the two map-side-combinable
    * aggregates [[tfidfTopK]] already plans; dl/avgdl ride the tf pass
    * and a 1-row lazy broadcast; the query side (tiny by contract)
    * broadcast-joins the posting lists on the term key, so per-query work
    * is the matched posting lists, never a corpus scan per query; the
    * final aggregate is (query, doc)-keyed and the rank window sees only
    * matched candidates. Output: (qidCol, rank, idCol, score). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"bm25TopK needs k >= 1, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1,
      s"bm25TopK needs k1 >= 0 and b in [0, 1], got k1=$k1 b=$b")
    val n = docs.agg(count(lit(1)).cast("double").as("_n"))
    // Detached (r21): tf feeds THREE consumers (dl, dfreq, the match join)
    // whose differing column pruning produces non-identical canonical
    // exchanges — ReuseExchange does NOT collapse them and the corpus
    // explode ran once per consumer (profiled: six ~0.5s explode/agg
    // stages for one bm25 call). The tf table IS the inverted index — the
    // same materialize-the-reusable-artifact shape as shingleHashTable's
    // documented 100-TB contract.
    val tf = Relational.detach(docs
      .select(col(idCol), explode(wordTokens(lower(col(textCol)))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(idCol).agg(sum("tf").as("dl"))
    val avgdl = dl.agg(avg(col("dl")).as("_avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(wordTokens(lower(col(qtextCol))))).as("term"))
    val matched = tf
      .join(broadcast(qterms), "term")
      .join(dfreq, "term")
      .join(dl, idCol)
      .crossJoin(broadcast(n)).crossJoin(broadcast(avgdl))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("_s", col("_idf") * col("tf") * (lit(k1) + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("_avgdl"))))
    val perDoc = matched.groupBy(col(qidCol), col(idCol))
      .agg(round(sum("_s"), 6).as("score"))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("score").desc, col(idCol).asc)
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("score"))
  }

  /** Sparse TF-IDF cosine document similarity via an inverted-index join —
    * the lexical twin of [[Similarity.nearDupPairs]]'s embedding path.
    * Features are hashed word 3-shingles (occurrence-counted, not distinct:
    * multiplicity is the TF), so posting lists stay short even when the
    * unigram vocabulary is tiny and every unigram's posting list is the
    * whole corpus.
    *
    * Distributed shape, term-at-a-time: tf and df are two map-side-
    * combinable aggregations; weights w = tf * ln(n/df); the pairwise dot
    * product is a self-equi-join of the posting lists keyed by term —
    * per-term work is |postings|^2, so total work is sum over terms of
    * min(df, maxDf)^2, NOT |docs|^2. `maxDf` is the stop-term guard that
    * makes that bound real: a term appearing in more than maxDf documents
    * is dropped from weights AND norms (it carries ~zero idf signal and
    * quadratic join cost). The tf subplan appears in four consumers; its
    * shuffle is computed once via Spark's ReuseExchange (identical
    * canonical subtrees), so nothing here needs a persist.
    *
    * Output: (id_a, id_b, cosine) with id_a < id_b, cosine >= minCos,
    * rounded to 6 dp (filter applies BEFORE rounding, mirroring the
    * oracle). */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       minCos: Double, maxDf: Long): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    val n = docs.agg(count(lit(1)).cast("double").as("_n"))
    val tf = docs
      .select(col(idCol), col(textCol), tokens(col(textCol)).as("_tk"))
      .select(col(idCol),
        explode(expr(Dedup.shingleHashesRawOverToks("_tk", textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    // detach: THREE consumers read the weight table (norms + both join
    // sides) — without it each one re-derives the whole explode → tf →
    // df → join chain (the lint showed 12 scans / 31 exchanges for this
    // one query; at corpus scale that is three full corpus passes where
    // one suffices)
    val w = Relational.detach(tf.join(dfT, "term").crossJoin(broadcast(n))
      .select(col(idCol), col("term"),
        (col("tf") * log(col("_n") / col("df"))).as("w")))
    val nrm = w.groupBy(idCol).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    // The posting-list self-join is a FANOUT join: per-term work is
    // |postings|^2 while the exchange carries only the weight rows, so
    // AQE's byte-based coalescing collapses the join to ONE task (the
    // shuffled weight table is a few hundred KB at sf0.1; measured: a
    // 1-task, ~1s join+partial-agg stage inside a 32-core session).
    // Pin the join's partitioning explicitly — an exact-count user
    // repartition on the join key is not coalescible, and the count is
    // scale-adaptive (defaultParallelism = session cores locally, cluster
    // cores in production), not a tuned constant. Same exchange count:
    // these replace the ENSURE_REQUIREMENTS exchanges the join plans
    // anyway.
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val a = w.select(col(idCol).as("id_a"), col("term"), col("w").as("w_a"))
      .repartition(p, col("term"))
    val b = w.select(col(idCol).as("id_b"), col("term"), col("w").as("w_b"))
      .repartition(p, col("term"))
    a.join(b, "term").where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(sum(col("w_a") * col("w_b")).as("dot"))
      .join(nrm.select(col(idCol).as("id_a"), col("nrm").as("_na")), "id_a")
      .join(nrm.select(col(idCol).as("id_b"), col("nrm").as("_nb")), "id_b")
      // Zero-norm guard: a doc whose every surviving term has idf 0 (term in
      // ALL n docs with df <= maxDf) has norm 0 — no defined cosine, belongs
      // in no pair, and under ANSI mode the bare division would throw
      // DIVIDE_BY_ZERO rather than null out.
      .where(col("_na") > 0 && col("_nb") > 0)
      .withColumn("_cos", col("dot") / (col("_na") * col("_nb")))
      .where(col("_cos") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("_cos"), 6).as("cosine"))
  }

  /** Top-k word n-grams per group — the corpus-level n-gram frequency table
    * every data-mix report needs. Two map-side-combinable aggregations and a
    * rank window; the token array is bound before the n-gram lambda. */
  def topNgrams(docs: DataFrame, groupCol: String, textCol: String,
                n: Int, k: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col("n_occur").desc, col("ngram").asc)
    docs.select(col(groupCol), tokens(col(textCol)).as("_tk"))
      .select(col(groupCol), explode(ngrams(col("_tk"), n)).as("ngram"))
      .groupBy(groupCol, "ngram").agg(count(lit(1)).as("n_occur"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Benchmark decontamination: flag training documents sharing any word
    * n-gram with a benchmark/eval set — the GPT-3/Gopher "13-gram overlap"
    * pass (scaled to `n` for short documents). `benchPred` selects the
    * benchmark rows INSIDE the corpus frame; the bench and train sides have
    * disjoint filters over the same gram subtree, so the corpus is scanned
    * and n-gram-exploded once per side (no exchange reuse applies) — at
    * scale the bench scan prunes to the benchmark rows if `benchPred`
    * reaches the source as a partition/pushdown filter.
    *
    * Scale shape: both sides explode to hashed n-grams (the shuffle carries
    * `(id, int64)`, never text — same discipline as
    * [[Dedup.lshCandidatePairs]]); each side dedups BEFORE the join (the
    * benchmark side to its distinct gram set, the train side per document).
    * Eval suites are MBs against a 100 TB corpus, so the normal plan
    * broadcasts the benchmark gram set and the corpus side never
    * re-partitions at all — but broadcast is driver-routed, so it is
    * GUARDED: a cheap UPPER BOUND on the bench gram count decides (total
    * bench tokens, counted on the `benchPred`-filtered rows only — one
    * pushdown-pruned scan of just the benchmark slice, never a second pass
    * over the corpus or the gram explode). Above `broadcastMaxGrams`
    * (default 10M hashes ≈ 80 MB of longs, the same bits-per-key budget
    * [[graft.functions.BloomFilterAgg]] documents) the join degrades to a
    * plain shuffle semi-join on `_gh` instead of OOMing the driver — the
    * path a mis-aimed `benchPred` selecting half the corpus would
    * otherwise take. (Token count >= n-gram count >= distinct-gram count,
    * so the bound errs toward the safe fallback.) Output:
    * `(id, n_shared)` — distinct contaminated n-grams per flagged
    * document; clean documents don't appear (filter on `id NOT IN output`
    * to scrub).
    *
    * NOTE: the bound probe is an EAGER Spark action at plan-construction
    * time — calling this method runs one (pushdown-pruned) job over the
    * benchmark slice before the returned frame is ever used, unlike most
    * sibling operators, and it therefore rejects streaming inputs. Batch
    * corpora only; [[charTrigramLogProb]] makes the same trade for the
    * same reason (a broadcast-or-shuffle decision needs a size before the
    * plan is final).
    */
  def contaminationHits(docs: DataFrame, idCol: String, textCol: String,
                        benchPred: Column, n: Int,
                        broadcastMaxGrams: Long = 10000000L): DataFrame = {
    val grams = docs
      .select(col(idCol), benchPred.as("_bench"), tokens(col(textCol)).as("_tk"))
      .select(col(idCol), col("_bench"), explode(ngrams(col("_tk"), n)).as("_g"))
      .select(col(idCol), col("_bench"), rolling_hash(col("_g")).as("_gh"))
    val bench = grams.where(col("_bench")).select("_gh").distinct()
    val train = grams.where(!col("_bench")).select(col(idCol), col("_gh")).distinct()
    val benchGramBound = docs.where(benchPred)
      .agg(coalesce(sum(size(tokens(col(textCol)))), lit(0)).cast("long"))
      .head().getLong(0)
    val joined =
      if (benchGramBound <= broadcastMaxGrams) train.join(broadcast(bench), "_gh")
      else train.join(bench, "_gh")
    joined.groupBy(idCol)
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Gopher-style repetition quality: per document, the duplicate-word
    * fraction (1 - types/tokens) and the share of word n-grams taken by the
    * single most frequent n-gram (Rae et al. 2021 §A1.1 repetition rules).
    * `keep` applies both thresholds to the 6-dp-rounded fractions so the
    * boundary is reproducible across engines.
    *
    * Scale shape: entirely narrow — the top-n-gram count is a per-row fold
    * over the SORTED n-gram array (longest equal run), so the whole operator
    * is one codegen'd projection: no explode, no groupBy, zero shuffles on a
    * 100 TB corpus scan. Cost is O(k log k) per row in the array sort.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 2, maxDupWordFrac: Double = 0.6,
                      maxTopNgramFrac: Double = 0.08): DataFrame = {
    // One fused walk per doc (RepetitionCounts): the exact integer
    // counts the declarative form derived via array_distinct + an
    // interpreted run-length fold over the sorted gram array. Fractions
    // and thresholds stay here, computed from the same integers — the
    // 6-dp-rounded values are bit-identical.
    val c = col("_c")
    docs
      .select(col(idCol),
        graft.functions.GraftFunctions.repetition_counts(col(textCol), n).as("_c"))
      .select(
        col(idCol),
        c.getField("n_tokens").as("n_tokens"),
        round(lit(1.0) - c.getField("n_distinct_tokens").cast("double") /
          c.getField("n_tokens"), 6).as("dup_word_frac"),
        round(when(c.getField("n_grams") > 0,
          c.getField("top_gram_count").cast("double") / c.getField("n_grams"))
          .otherwise(0.0), 6).as("top_ngram_frac"))
      .withColumn("keep",
        col("dup_word_frac") <= maxDupWordFrac &&
          col("top_ngram_frac") <= maxTopNgramFrac)
  }

  /** Gopher stopwords for the "contains >= 2 stopwords" rule (Rae et al.
    * 2021 §A1.1) — public so the oracle SQL mirrors the list. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Full Gopher quality rule set (Rae et al. 2021 §A1.1), one flag per
    * rule plus the conjunction `keep` — the complete heuristic filter a
    * pre-training pipeline runs ahead of classifier-based quality scoring
    * (complements [[repetitionStats]], which carries the §A1.1 repetition
    * rules; [[qualityScore]] stays as the cheap composite score).
    *
    * Rules, with the paper's bounds:
    *  - word count in [minWords, maxWords] (50..100k)
    *  - mean word length in [3, 10] characters
    *  - symbol-to-word ratio (# and non-overlapping ...) <= 0.1
    *  - lines starting with a bullet ("- ", "* ") <= 90%
    *  - lines ending with an ellipsis <= 30%
    *  - words with >= 1 alphabetic character >= 80%
    *  - contains >= 2 of the [[GopherStopwords]]
    *
    * Scale shape: like [[repetitionStats]], entirely narrow — every rule
    * is column arithmetic over the bound token/line arrays, one codegen'd
    * projection, zero shuffles on a corpus scan. Fractions are rounded to
    * 6 dp BEFORE thresholding so the keep boundary is engine-reproducible.
    */
  def gopherQualityFlags(docs: DataFrame, idCol: String, textCol: String,
                         minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    // One fused walk per doc (GopherCounts): the exact integer counts
    // the declarative form derived with five interpreted HOF passes
    // over bound token/line arrays. Fractions, rounding, and the rule
    // thresholds stay HERE — same 6-dp values from the same integers.
    // NOTE: the kernel's stopword equality is whole-token and
    // case-sensitive like the old `t === w` filter, and its `...`/`#`
    // counting is the split (non-overlapping, left-to-right) semantics.
    val c = col("_c")
    val nW = c.getField("n_words").cast("double")
    docs
      .select(col(idCol),
        graft.functions.GraftFunctions
          .gopher_counts(col(textCol), GopherStopwords).as("_c"))
      .select(
        col(idCol),
        c.getField("n_words").as("n_words"),
        round(c.getField("sum_word_len").cast("double") / nW, 6).as("mean_word_len"),
        round(c.getField("n_alpha_words").cast("double") / nW, 6).as("alpha_word_frac"),
        round(c.getField("n_symbols").cast("double") / nW, 6).as("symbol_word_ratio"),
        round(c.getField("n_bullet_lines").cast("double") /
          c.getField("n_lines"), 6).as("bullet_line_frac"),
        round(c.getField("n_ellipsis_lines").cast("double") /
          c.getField("n_lines"), 6).as("ellipsis_line_frac"),
        c.getField("n_stopwords").as("n_stopwords"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_word_ratio") <= 0.1 &&
          col("bullet_line_frac") <= 0.9 &&
          col("ellipsis_line_frac") <= 0.3 &&
          col("alpha_word_frac") >= 0.8 &&
          col("n_stopwords") >= 2L)
  }

  /** C4 line-level cleaning (Raffel et al. 2020 §2.2, the "Colossal Clean
    * Crawled Corpus" rules) — the LINE-granularity pass that runs before
    * document-level filters like [[gopherQualityFlags]]: keep only lines
    * that end in terminal punctuation (. ! ? "), carry at least
    * `minLineWords` words, and don't mention "javascript"; reject the whole
    * document when fewer than `minLines` lines survive or the page contains
    * "lorem ipsum" or a curly brace (template/boilerplate markers).
    *
    * Output: `(id, n_lines, n_kept, clean_text, keep)` — `clean_text` is
    * the surviving lines re-joined with newlines, so the kept corpus is a
    * direct `where(keep).select(id, clean_text)` away.
    *
    * Scale shape: one codegen'd projection over the corpus scan (split,
    * higher-order filter, join back) — zero shuffles, same free-rider
    * posture as [[repetitionStats]]. */
  def c4LineClean(docs: DataFrame, idCol: String, textCol: String,
                  minLineWords: Int = 5, minLines: Int = 3): DataFrame = {
    val keepLine = (l: Column) =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") || l.endsWith("\"")) &&
        size(split(l, " ", -1)) >= minLineWords &&
        !lower(l).contains("javascript")
    docs
      .select(col(idCol), col(textCol), split(col(textCol), "\n", -1).as("_lines"))
      .select(col(idCol), col(textCol),
        size(col("_lines")).cast("long").as("n_lines"),
        filter(col("_lines"), keepLine).as("_kept"))
      .select(col(idCol),
        col("n_lines"),
        size(col("_kept")).cast("long").as("n_kept"),
        array_join(col("_kept"), "\n").as("clean_text"),
        (size(col("_kept")) >= minLines &&
          !lower(col(textCol)).contains("lorem ipsum") &&
          !col(textCol).contains("{")).as("keep"))
  }

  /** PII scrub: mask email addresses then digit runs (3+) — the standard
    * pre-training redaction pass, as pure codegen'd regexp_replace. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
      "[0-9]{3,}", "<NUM>")

  /** Sketch-path heavy hitters: approximate top-k tokens per group — the
    * 100-TB twin of the exact [[topNgrams]] table (same twin contract as
    * winsorize/robust-scale: q42 exact, q80 rows-only). [[topNgrams]]
    * shuffles every distinct (group, ngram) pair; at corpus scale the
    * long tail of that key space dominates the exchange. Spark 4's native
    * `approx_top_k` aggregate (frequent-items sketch) holds
    * `maxItemsTracked` state per group regardless of vocabulary size,
    * combines map-side, and bounds the shuffle to sketch bytes — estimates
    * are sketch-dependent, hence no DuckDB oracle. On vocabularies smaller
    * than `maxItemsTracked` the sketch degenerates to exact counts (the
    * unit test pins this against [[topNgrams]]).
    *
    * Sizing `maxItemsTracked` (the same bits-per-key trade
    * [[graft.functions.BloomFilterAgg]] documents): the frequent-items
    * guarantee is that any token occurring more than
    * `n_tokens_in_group / maxItemsTracked` times survives the sketch, and
    * every estimate is within that same bound of the true count — so pick
    * `maxItemsTracked >= n / minSupport` for the smallest occurrence count
    * you need guaranteed, and comfortably above `k`. Memory is
    * O(maxItemsTracked) entries per group per partial aggregate (at the
    * 10000 default, roughly a few hundred KB per group), independent of
    * vocabulary and row count. SketchParitySpec pins both edges: exact-twin
    * containment at the default, and the guarantee + error bound with
    * `maxItemsTracked` small enough to force eviction.
    *
    * Output: (group, rank, token, est_occur), rank 1..k by estimated
    * count desc, token asc for determinism. `fetch` (default 4k) is how
    * many items the sketch RETURNS before the deterministic re-rank cuts
    * to k: the sketch breaks count ties at its own cut by internal hash
    * order, so fetching only k would let a tie spanning the k-th place
    * pick an arbitrary tied member — over-fetching moves the
    * nondeterministic cut past every tie the output can observe (and when
    * the vocabulary fits `fetch`, makes the output the exact
    * deterministic top-k outright, which is what lets q80 carry a DuckDB
    * oracle). */
  def heavyHitterTokens(docs: DataFrame, groupCol: String, textCol: String,
                        k: Int, maxItemsTracked: Int = 10000,
                        fetch: Int = -1): DataFrame = {
    val f = math.min(if (fetch < 0) 4 * k else fetch, maxItemsTracked)
    require(f >= k, s"heavyHitterTokens fetch $f must be >= k $k")
    val w = Window.partitionBy(groupCol)
      .orderBy(col("est_occur").desc, col("token").asc)
    docs.select(col(groupCol), tokens(col(textCol)).as("_tk"))
      .select(col(groupCol), explode(col("_tk")).as("_tok"))
      .groupBy(groupCol)
      .agg(expr(s"approx_top_k(_tok, $f, $maxItemsTracked)").as("_top"))
      .select(col(groupCol), explode(col("_top")).as("_hit"))
      .select(col(groupCol), col("_hit.item").as("token"),
        col("_hit.count").as("est_occur"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(groupCol), col("rank"), col("token"), col("est_occur"))
  }

  /** Character-trigram language-model quality score — the CCNet-style
    * perplexity proxy, engine-native: fit corpus trigram counts, then score
    * each document's average add-k-smoothed log-probability
    * `avg over i of ln((C(c_i-2 c_i-1 c_i) + k) / (C(c_i-2 c_i-1 ·) + k·V))`
    * with V = the distinct-final-character count. Low scores flag documents
    * whose character statistics diverge from the corpus (mojibake, binary
    * spill, wrong-language text) — the standard cheap stand-in for a real
    * LM perplexity filter. Documents shorter than 3 chars emit no trigrams
    * and drop out (callers keep them via a left join on the id).
    *
    * Scale shape: the FIT is one trigram explode (the O(len) fused
    * [[graft.functions.CharTrigrams]] array, not a per-position
    * `substring` that re-walks the string quadratically) + trigram-keyed
    * count whose map-side partials collapse to distinct-trigram-bounded
    * state; context counts derive from the trigram table itself (sum
    * over its 2-char prefixes), so fit and context CANNOT disagree on
    * boundary positions. The fit is [[graft.operators.Relational.detach]]ed
    * and its EXACT size probed (a cheap `count()` over the materialized
    * checkpoint, like [[contaminationHits]]'s bound probe). At or below
    * `broadcastMaxTrigrams` the SCORE pass takes the fused lane: the
    * vocab-sized fit collects to the driver (the same budget a broadcast
    * hash join pays), each trigram's log-prob is precomputed into a
    * packed-key [[graft.functions.TrigramTable]] shipped as ONE Spark
    * broadcast, and [[graft.functions.TrigramLogProbSum]] scores every
    * document in one string walk — one row per DOC crosses the plan
    * instead of one per CHARACTER (measured 3.98 s → 0.4 s for q99 at
    * sf0.1). On real multilingual/web corpora the trigram vocabulary is
    * NOT small — CJK text, mojibake, and binary spill push distinct char
    * trigrams to 10^7..10^8 — so above the bound the score degrades to
    * the distributed explode + shuffle hash join on the trigram key
    * instead of OOMing the driver (same values either way; the fallback
    * is pinned byte-identical by TextAnalysisSpec). The default bound
    * (10M rows ≈ 80 MB of hashed keys plus counts) matches
    * [[contaminationHits]]'s budget. Output: (idCol, n_tri, avg_logp).
    */
  def charTrigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                         k: Double = 0.5,
                         broadcastMaxTrigrams: Long = 10000000L): DataFrame = {
    require(k > 0, s"charTrigramLogProb smoothing k must be positive, got $k")
    val tri = docs.select(col(idCol),
      explode(graft.functions.GraftFunctions.char_trigrams(col(textCol))).as("_g"))
    val c3 = Relational.detach(
      tri.groupBy("_g").agg(count(lit(1)).as("_c")))
    // exact fit size — c3 is already checkpointed, so this scans its blocks
    val nDistinctTri = c3.count()
    val fastTable =
      if (nDistinctTri > broadcastMaxTrigrams) None
      else {
        // Broadcast lane: the fit is driver-collectable by the SAME budget
        // the broadcast hash join pays, so derive context counts + the
        // final-char vocabulary driver-side and precompute each trigram's
        // log-prob into a packed-key table. The score pass then probes it
        // in ONE fused walk per document (TrigramLogProbSum) — one row per
        // DOC crosses the plan instead of one per CHARACTER, no second
        // explode, no join, no re-aggregate. Identical arithmetic: same
        // (c, cp, nv, k) doubles through the same formula, rounded 6 dp.
        val rows = c3.collect().map(r => (r.getString(0), r.getLong(1)))
        val prefixCnt = new java.util.HashMap[Long, Long]()
        val finals = new java.util.HashSet[Int]()
        rows.foreach { case (g, c) =>
          val cp1 = g.codePointAt(0)
          val i2 = Character.charCount(cp1)
          val cp2 = g.codePointAt(i2)
          val i3 = i2 + Character.charCount(cp2)
          prefixCnt.merge((cp1.toLong << 21) | cp2, c, _ + _)
          finals.add(g.codePointAt(i3))
        }
        val nv = finals.size.toDouble
        graft.functions.TrigramTable.build(
          rows.iterator.map { case (g, c) =>
            val cp1 = g.codePointAt(0)
            val i2 = Character.charCount(cp1)
            val cp2 = g.codePointAt(i2)
            val cp = prefixCnt.get((cp1.toLong << 21) | cp2)
            (g, math.log((c + k) / (cp + k * nv)))
          }, rows.length)
      }
    fastTable match {
      case Some(tbl) =>
        val b = docs.sparkSession.sparkContext.broadcast(tbl)
        docs.select(col(idCol),
            graft.functions.GraftFunctions.trigram_logprob_sum(col(textCol), b).as("_s"))
          .where(col("_s.n_tri") > 0)
          .select(col(idCol), col("_s.n_tri").as("n_tri"),
            round(col("_s.sum_lp") / col("_s.n_tri"), 6).as("avg_logp"))
      case None =>
        // Shuffle lane (vocab above the driver budget, or an all-NUL
        // trigram the packed key can't carry): the original distributed
        // join — context counts fused INTO the (vocab-sized) fit side so
        // the corpus-sized score pass probes ONE table on one key.
        val c2 = c3.groupBy(substring(col("_g"), 1, 2).as("_p")).agg(sum("_c").as("_cp"))
        val fit = c3.join(c2, substring(col("_g"), 1, 2) === col("_p"))
          .select(col("_g"), col("_c"), col("_cp"))
        val nv = c3.select(countDistinct(substring(col("_g"), 3, 1)).as("_nv"))
        tri.join(fit, "_g")
          .crossJoin(broadcast(nv))
          .withColumn("_lp", log((col("_c") + lit(k)) / (col("_cp") + lit(k) * col("_nv"))))
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_tri"), round(avg("_lp"), 6).as("avg_logp"))
    }
  }

  /** TRAINED character-trigram language ID — the model tier above
    * [[languageId]]'s fixed marker lists (the Cavnar–Trenkle 1994 n-gram
    * family, scored generatively): fit one add-k-smoothed trigram profile
    * per language on the labeled `fitPred` slice, then classify every
    * document as the argmax language of `sum log P(tri | lang)` with a
    * per-language smoothed floor for unseen trigrams. Markers need
    * hand-picked words; profiles learn whatever actually separates the
    * corpus's languages (including spacing/diacritic patterns), which is
    * why this strictly dominates the heuristic on q163's confusion
    * diagonal.
    *
    * Scale shape: the fit is one (lang, trigram)-keyed aggregate of the
    * fit slice's explode — all fit tables are vocabulary-sized
    * (|langs| x |trigrams|), detached once. At or below
    * `broadcastMaxTrigrams` (same bound and rationale as
    * [[charTrigramLogProb]]) the score pass takes the fused lane: the
    * fit collects driver-side, per-trigram k-vectors of log-probs ship
    * as one broadcast [[graft.functions.LangProfileTable]], and
    * [[graft.functions.LangIdScore]] emits every language's score per
    * document in ONE walk — no second explode, no grid aggregate, no
    * argmax window. Above the bound: the distributed explode + profile
    * shuffle join + (doc, lang) grid + argmax window (byte-identical;
    * KernelEquivalenceSpec). Scores round to 6 dp BEFORE the argmax so
    * the cross-engine tie-break (score desc, lang asc) is
    * float-boundary-safe. Documents shorter than 3 chars have no
    * trigrams and are excluded — a crawl corpus has none post-cleaning.
    * Output: (idCol, langCol, predicted, best_score). */
  def trigramLangId(docs: DataFrame, idCol: String, textCol: String,
                    langCol: String, fitPred: Column, k: Double = 0.5,
                    broadcastMaxTrigrams: Long = 10000000L): DataFrame = {
    require(k > 0, s"trigramLangId smoothing k must be positive, got $k")
    // O(len) fused trigram array (empty below 3 code points) — same
    // elements/order as the per-position substring form, without its
    // quadratic re-walk (see CharTrigrams)
    val tri = docs
      .select(col(idCol), col(langCol), lower(col(textCol)).as("_lt"),
        fitPred.as("_fit"))
      .select(col(idCol), col(langCol), col("_fit"),
        explode(graft.functions.GraftFunctions.char_trigrams(col("_lt"))).as("_tri"))
    // vocabulary-sized fit tables; detached once, read by four arms
    val counts = Relational.detach(
      tri.where(col("_fit"))
        .groupBy(col(langCol).as("_lang"), col("_tri"))
        .agg(count(lit(1)).as("_c")))
    val nProfileRows = counts.count()
    // empty-fit guard: an empty profile must fall through to the shuffle
    // lane, whose empty grid naturally yields ZERO rows — the fused lane
    // would otherwise score every doc against k=0 languages and emit
    // null-prediction rows (lane divergence)
    if (nProfileRows > 0 && nProfileRows <= broadcastMaxTrigrams) {
      // Fused lane (TrigramLogProbSum's pattern, vectorized across
      // languages): the (lang, trigram) fit collects under the SAME
      // budget the broadcast join paid; per-trigram k-vectors of
      // log-probs + per-language floors ship as ONE broadcast, and
      // LangIdScore emits every language's score per document in one
      // walk. Rounding to 6 dp happens BEFORE the argmax exactly like
      // the declarative grid, and the language array is SORTED so
      // array_position's first-match is the `score desc, lang asc`
      // tie-break.
      val rows = counts.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val langs = rows.map(_._1).distinct.sorted
      val li = langs.zipWithIndex.toMap
      val nL = langs.length
      val tot = new Array[Double](nL)
      rows.foreach { case (l, _, c) => tot(li(l)) += c }
      val vocabN = rows.iterator.map(_._2).toSet.size.toDouble
      val floors = Array.tabulate(nL)(c => math.log(k / (tot(c) + k * vocabN)))
      val lp = new java.util.HashMap[String, Array[Double]]()
      rows.foreach { case (l, tri0, c) =>
        var arr = lp.get(tri0)
        if (arr == null) { arr = Array.fill(nL)(Double.NaN); lp.put(tri0, arr) }
        arr(li(l)) = math.log((c + k) / (tot(li(l)) + k * vocabN))
      }
      val b = docs.sparkSession.sparkContext.broadcast(
        new graft.functions.LangProfileTable(lp, floors))
      val langsLit = array(langs.map(lit): _*)
      docs.select(col(idCol), col(langCol),
          graft.functions.GraftFunctions.lang_id_score(lower(col(textCol)), b).as("_s"))
        .where(col("_s.n_tri") > 0)
        .withColumn("_scores", transform(col("_s.scores"), s => round(s, 6)))
        .withColumn("_idx",
          expr("array_position(_scores, array_max(_scores))").cast("int"))
        .select(col(idCol), col(langCol),
          element_at(langsLit, col("_idx")).as("predicted"),
          element_at(col("_scores"), col("_idx")).as("best_score"))
    } else {
      // Shuffle lane (profile above the driver budget): the distributed
      // explode + profile join + (doc, lang) grid + argmax window.
      val totals = counts.groupBy("_lang").agg(sum("_c").as("_tot"))
      val vocab = counts.agg(countDistinct("_tri").as("_v"))
      val floors = totals.crossJoin(broadcast(vocab))
        .select(col("_lang"),
          log(lit(k) / (col("_tot") + lit(k) * col("_v"))).as("_floor"))
      val profile = counts.join(totals, "_lang").crossJoin(broadcast(vocab))
        .select(col("_tri"), col("_lang"),
          log((col("_c") + lit(k)) / (col("_tot") + lit(k) * col("_v"))).as("_lp"))
      val seen = tri.join(profile, Seq("_tri"))
        .groupBy(col(idCol), col("_lang"))
        .agg(count(lit(1)).as("_nSeen"), sum("_lp").as("_lpSeen"))
      val docTot = tri.groupBy(col(idCol), col(langCol))
        .agg(count(lit(1)).as("_n"))
      // full doc x lang grid: a language sharing NO trigram with the doc
      // still scores (all-floor) — floors is |langs| rows, always broadcast
      val grid = docTot.crossJoin(broadcast(floors))
        .join(seen, Seq(idCol, "_lang"), "left")
        .select(col(idCol), col(langCol), col("_lang"),
          round(coalesce(col("_lpSeen"), lit(0.0)) +
            (col("_n") - coalesce(col("_nSeen"), lit(0L))) * col("_floor"), 6)
            .as("_score"))
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("_score").desc, col("_lang").asc)
      grid.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .select(col(idCol), col(langCol), col("_lang").as("predicted"),
          col("_score").as("best_score"))
    }
  }

  /** Word-level bigram LM with stupid backoff (Brants et al. 2007) — the
    * KenLM-class quality signal one tier above [[charTrigramLogProb]]'s
    * character model: fit bigram/unigram tables on the `fitPred` slice of
    * the corpus (the CCNet shape — score candidate text against a
    * REFERENCE slice's language model), then score every document's mean
    * bigram log-prob. Seen bigrams take the conditional `ln(c2(w1,w2) /
    * c1(w1))`; unseen ones back off to the add-k-smoothed unigram
    * `ln(alpha * (c1(w2) + k) / (N + k*V))` — no discounting on the seen
    * path, which is what makes stupid backoff one join cheaper than
    * Kneser-Ney at web scale and "inexpensive to train on large data
    * sets" (its design goal). Output: (idCol, n_bigrams, avg_logp,
    * backoff_frac) — `backoff_frac` (share of bigrams that backed off) is
    * the out-of-domain signal; docs with < 2 word tokens emit no bigrams
    * and don't appear.
    *
    * Scale shape — q99's template (two explodes + guarded broadcast
    * joins): the FIT pass reduces the slice's explodes map-side to
    * vocabulary-bounded count tables (|c2| <= vocab², in practice ~corpus
    * bigram types); c1(w1) is fused INTO the bigram table fit-side so the
    * corpus-sized score pass probes ONE table on the bigram key plus the
    * (much smaller) unigram table on w2. Both probe joins broadcast under
    * `broadcastMaxEntries`, with the loud-but-correct shuffle-join
    * fallback above it; N and V ride a one-row cross join. The per-doc
    * aggregate carries one row per document. */
  def wordBigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                        fitPred: Column, alpha: Double = 0.4, k: Double = 0.5,
                        broadcastMaxEntries: Long = 10000000L): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"backoff alpha must be in (0, 1], got $alpha")
    require(k > 0, s"add-k smoothing k must be positive, got $k")
    val toks = docs.select(col(idCol), fitPred.as("_fit"),
      wordTokens(col(textCol)).as("_tk"))
    val bi = toks.select(col(idCol), col("_fit"),
      explode(ngrams(col("_tk"), 2)).as("_g"))
    val uni = toks.select(col(idCol), col("_fit"), explode(col("_tk")).as("_w"))
    val c1 = Relational.detach(
      uni.where(col("_fit")).groupBy("_w").agg(count(lit(1)).as("_c1")))
    val c2 = Relational.detach(
      bi.where(col("_fit")).groupBy("_g").agg(count(lit(1)).as("_c2")))
    // fuse the context count into the bigram fit table (q99's c2-into-c3
    // fusion): the seen path probes one table on one key
    val fit = c2.join(c1.select(col("_w").as("_w1"), col("_c1").as("_c1w1")),
      expr("substring_index(_g, ' ', 1)") === col("_w1")).drop("_w1")
    val (c2n, c1n) = (c2.count(), c1.count())
    if (c2n <= broadcastMaxEntries && c1n <= broadcastMaxEntries) {
      // Fused lane (TrigramLogProbSum's pattern): both fit tables are
      // driver-collectable by the SAME budget the broadcast joins pay —
      // precompute every log-prob through the IDENTICAL formulas, ship
      // one BigramTable broadcast, and score each doc in one walk. One
      // row per DOC crosses the plan instead of one per bigram.
      val c1Map = new java.util.HashMap[String, Long]()
      c1.collect().foreach(r => c1Map.put(r.getString(0), r.getLong(1)))
      var nTok = 0.0
      val it = c1Map.values().iterator()
      while (it.hasNext) nTok += it.next()
      val v = c1Map.size.toDouble
      val seenLp = new java.util.HashMap[String, java.lang.Double]()
      c2.collect().foreach { r =>
        val g = r.getString(0)
        val c1w1 = c1Map.get(g.substring(0, g.indexOf(' ')))
        seenLp.put(g, math.log(r.getLong(1).toDouble / c1w1))
      }
      val backoffLp = new java.util.HashMap[String, java.lang.Double]()
      c1Map.forEach((w, c) =>
        backoffLp.put(w, math.log(alpha * (c + k) / (nTok + k * v))))
      val defaultLp = math.log(alpha * (0L + k) / (nTok + k * v))
      val b = docs.sparkSession.sparkContext.broadcast(
        new graft.functions.BigramTable(seenLp, backoffLp, defaultLp))
      docs.select(col(idCol),
          graft.functions.GraftFunctions.word_bigram_score(col(textCol), b).as("_s"))
        .where(col("_s.n_bigrams") > 0)
        .select(col(idCol), col("_s.n_bigrams").as("n_bigrams"),
          round(col("_s.sum_lp") / col("_s.n_bigrams"), 6).as("avg_logp"),
          round(col("_s.n_backoff").cast("double") / col("_s.n_bigrams"), 6)
            .as("backoff_frac"))
    } else {
      // Shuffle lane (vocabulary above the driver budget): the
      // distributed probe joins, byte-identical (TextAnalysisSpec).
      // Each table keeps its OWN broadcast hint — the common Zipf shape
      // is a bigram table over the bound with a small unigram table,
      // and the w2 probe must stay a broadcast join there.
      val fitJ = if (c2n <= broadcastMaxEntries) broadcast(fit) else fit
      val c1J = if (c1n <= broadcastMaxEntries) broadcast(c1) else c1
      val nv = c1.agg(sum("_c1").cast("double").as("_n"),
        count(lit(1)).cast("double").as("_v"))
      bi.join(fitJ, Seq("_g"), "left")
        .withColumn("_w2", expr("substring_index(_g, ' ', -1)"))
        .join(c1J.select(col("_w").as("_w2"), col("_c1").as("_c1w2")), Seq("_w2"), "left")
        .crossJoin(broadcast(nv))
        .withColumn("_lp",
          when(col("_c2").isNotNull, log(col("_c2") / col("_c1w1")))
            .otherwise(log(lit(alpha) * (coalesce(col("_c1w2"), lit(0L)) + lit(k)) /
              (col("_n") + lit(k) * col("_v")))))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg("_lp"), 6).as("avg_logp"),
          round(avg(when(col("_c2").isNotNull, 0.0).otherwise(1.0)), 6).as("backoff_frac"))
    }
  }

  /** Token-distribution divergence between two corpus snapshots, per
    * group (usually language) — the corpus-drift health metric release
    * pipelines gate on: a new crawl whose unigram distribution diverges
    * sharply from the accepted corpus signals spam injection, template
    * floods, or a scraper regression BEFORE any document-level filter
    * sees it. Emits, per group: type counts (old / new / union), both
    * smoothed KL directions, and the bounded symmetric Jensen-Shannon
    * divergence (0 = identical, ln 2 = disjoint).
    *
    * Distributions are add-k smoothed over the UNION vocabulary
    * (`p(w) = (c(w)+k) / (N + k*V)`), so unseen-on-one-side words carry
    * mass and both KL directions are finite — the same smoothing family
    * as [[charTrigramLogProb]]/[[wordBigramLogProb]].
    *
    * Scale shape: two corpus explodes reduce map-side to vocabulary-
    * bounded (group, token) count tables; ONE full-outer equi-join on
    * (group, token) aligns them; per-group totals are a group-count-sized
    * aggregate joined back (AQE broadcasts it); the divergence sums are
    * one final per-group aggregate. Nothing corpus-sized crosses the
    * wire after the explodes' partial aggregation. */
  def tokenDivergence(oldDocs: DataFrame, newDocs: DataFrame,
                      groupCols: Seq[String], textCol: String,
                      k: Double = 0.5): DataFrame = {
    require(k > 0, s"add-k smoothing k must be positive, got $k")
    def counts(d: DataFrame, side: String) =
      d.select(groupCols.map(col) :+ explode(wordTokens(col(textCol))).as("_w"): _*)
        .groupBy((groupCols :+ "_w").map(col): _*)
        .agg(count(lit(1)).as(s"_c$side"))
    val j = counts(oldDocs, "o").join(counts(newDocs, "n"),
        groupCols :+ "_w", "full_outer")
      .withColumn("_co", coalesce(col("_co"), lit(0L)))
      .withColumn("_cn", coalesce(col("_cn"), lit(0L)))
    val totals = j.groupBy(groupCols.map(col): _*)
      .agg(sum("_co").as("_no"), sum("_cn").as("_nn"),
        count(lit(1)).as("_v"))
    val p = (col("_co") + lit(k)) / (col("_no") + lit(k) * col("_v"))
    val q = (col("_cn") + lit(k)) / (col("_nn") + lit(k) * col("_v"))
    val m = (p + q) / lit(2.0)
    j.join(totals, groupCols)
      .select(groupCols.map(col) :+ col("_co") :+ col("_cn") :+
        (p * log(p / q)).as("_klon") :+ (q * log(q / p)).as("_klno") :+
        (p * log(p / m) / lit(2.0) + q * log(q / m) / lit(2.0)).as("_js"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(when(col("_co") > 0, 1L).otherwise(0L)).as("n_types_old"),
        sum(when(col("_cn") > 0, 1L).otherwise(0L)).as("n_types_new"),
        count(lit(1)).as("n_types_union"),
        round(sum("_klon"), 6).as("kl_old_new"),
        round(sum("_klno"), 6).as("kl_new_old"),
        round(sum("_js"), 6).as("js_div"))
  }

  /** Weighted adjacent character-pair statistics — iteration 0 of BPE
    * tokenizer training (Sennrich et al. 2016 §3.2): every word's
    * adjacent symbol pairs, weighted by corpus word frequency; the top
    * pair is BPE's first merge candidate. Useful standalone as the
    * what-would-a-tokenizer-learn corpus profile.
    *
    * Scale shape: the corpus explode reduces map-side to the vocabulary-
    * bounded word-frequency table; everything after (pair explode, pair
    * aggregate, top-k) is vocabulary-sized, never corpus-sized, and the
    * top-k is a TakeOrdered — no full sort. Output: (pair, n) top `topK`
    * by weight, ties by pair ascending. */
  def bpePairStats(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"bpePairStats needs topK >= 1, got $topK")
    val wf = docs.select(explode(wordTokens(col(textCol))).as("_w"))
      .groupBy("_w").agg(count(lit(1)).as("_f"))
    wf.select(col("_f"), explode(expr(
        "IF(length(_w) < 2, array(), " +
          "transform(sequence(1, length(_w) - 1), i -> substring(_w, i, 2)))")).as("pair"))
      .groupBy("pair").agg(sum("_f").as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(topK)
  }

  /** Word types a tokenizer fit may hold on the driver. A collected
    * `(word, freq)` entry of an 8-character word holds about 80 bytes of
    * driver heap (String, boxed Long, tuple; 78 B measured over a full
    * 2^20-type table), so a full table of short words is under 100 MB,
    * plus the collect's decode buffers while it runs. */
  private[graft] val MaxFitWordTypes: Int = 1 << 20

  /** The fit corpus's word-type table `(word, freq)`: ONE bounded collect
    * of `fitSample`'s docs, sorted by word so that every driver-side sum
    * over it runs in one fixed order whatever the partitioning. A corpus
    * with more than [[MaxFitWordTypes]] word types fails loudly: fit it on
    * a deterministic `fitSample`. */
  private[graft] def wordTypes(docs: DataFrame, textCol: String,
                               fitSample: Option[Column], fit: String): Array[(String, Long)] = {
    import docs.sparkSession.implicits._
    val types = fitSample.fold(docs)(docs.where)
      .select(explode(wordTokens(col(textCol))).as("_w"))
      .groupBy("_w").count()
      .limit(MaxFitWordTypes + 1).as[(String, Long)].collect()
    require(types.length <= MaxFitWordTypes,
      s"$fit: the fit corpus holds more than $MaxFitWordTypes word types; pass a " +
        "deterministic fitSample predicate to fit the tokenizer on a bounded sample")
    types.sortBy(_._1)
  }

  /** BPE merge-table training (Sennrich et al. 2016 alg. 1): start from
    * character symbols, repeat `nMerges` times — count adjacent symbol
    * pairs over the frequency-weighted vocabulary, merge the most frequent
    * pair (ties by (left, right) ascending, so the table is deterministic)
    * greedily left-to-right in every word. Returns the merge table
    * `(rank, left, right, merged, n)` — the artifact a BPE tokenizer IS.
    *
    * The corpus is read ONCE, by [[wordTypes]]' bounded collect; every
    * round then runs on the driver over that table, as in the paper's
    * algorithm — the rounds cost |vocabulary|, not corpus, and launch no
    * Spark job. Stops early if no pair remains.
    *
    * At 100 TB even |vocabulary| is heavy-tailed-huge, and tokenizer
    * training does not need the whole corpus: standard practice (the same
    * Faiss discipline [[graft.operators.Similarity.fitPqCodebooks]]
    * documents — a tokenizer, like a codebook, is MODEL STATE fit on a
    * bounded sample, with the single full-corpus pass spent in the apply
    * stage, [[bpeEncodeStats]]) is to fit on a deterministic sample.
    * `fitSample` is that contract: a deterministic predicate over the
    * docs frame — e.g. `pmod(xxhash64(col("doc_id")), 100) < 5` for a
    * reproducible 5% — restricting ONLY what the fit sees. A fit corpus
    * above [[MaxFitWordTypes]] word types fails and asks for one. Pass
    * None for exact-corpus parity (the q136 oracle shape); sampled-vs-full
    * merge agreement on the test corpus is pinned in TextAnalysisSpec. */
  def trainBpeMerges(docs: DataFrame, textCol: String, nMerges: Int,
                     fitSample: Option[Column] = None): DataFrame = {
    require(nMerges >= 1, s"trainBpeMerges needs nMerges >= 1, got $nMerges")
    var words = wordTypes(docs, textCol, fitSample, "trainBpeMerges")
      .map { case (w, f) => (w.map(_.toString).toVector, f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var done = false
    while (merges.size < nMerges && !done) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        pairs(p) = pairs.getOrElse(p, 0L) + f
      }
      if (pairs.isEmpty) done = true
      else {
        val ((a, b), n) = pairs.minBy { case ((a, b), n) => (-n, a, b) }
        val ab = a + b
        merges += ((merges.size + 1, a, b, ab, n))
        // greedy left-to-right merge, collapsing (a, b) runs
        // non-overlappingly ("aaa" under (a,a) -> [aa, a])
        words = words.map { case (syms, f) =>
          (syms.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ ab else acc :+ x
          }, f)
        }
      }
    }
    import docs.sparkSession.implicits._
    merges.toSeq.toDF("rank", "left", "right", "merged", "n")
  }

  /** Apply a FIXED BPE merge table to the corpus — the tokenizer-APPLY
    * stage downstream of [[trainBpeMerges]] (a tokenizer is trained once,
    * then applied to every corpus; passing the table as data keeps this
    * query oracle-expressible where the iterative training fit is not).
    * Per document: word count, subtoken count under the merges, and the
    * fertility ratio subtokens/word — the standard "how well does this
    * tokenizer fit this corpus" diagnostic.
    *
    * Encoding represents a word's symbol sequence as wrapped symbols
    * `(a)(b)(c)…` and applies each merge in rank order as one plain
    * substring replace `"(a)(b)" -> "(ab)"` over the whole vocabulary.
    * Wrapping makes adjacent matches share NO characters, so left-to-right
    * non-overlapping replace reproduces [[trainBpeMerges]]' fold exactly
    * (a bare separator would be consumed by the previous match: " a b a b "
    * single-space-replaces to only ONE merge). One sequential pass per
    * rank equals priority-order iterative encoding for any table in
    * training order — BPE training always creates a symbol before any
    * later merge consumes it, which is the only case where the two
    * strategies could diverge.
    *
    * Scale shape: merges apply to the DISTINCT-word table (vocabulary-
    * sized, like [[vocabCoverage]]'s fit), then joined back onto the
    * token stream (AQE broadcasts it while it stays small; no forced
    * hint — the typo tail can outgrow executor memory at corpus scale).
    * The corpus-sized work is one narrow explode
    * plus a per-document aggregate; the replace chain never touches a
    * corpus-sized row. */
  def bpeEncodeStats(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "bpeEncodeStats needs at least one merge")
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty && !s"$a$b".exists(c => c == '(' || c == ')' || c == ' '),
        s"merge symbols must be non-empty and ()/space-free, got ('$a', '$b')") }
    val tok = docs.select(col(idCol), explode(wordTokens(col(textCol))).as("_w"))
    // (?!$): split before every char but NOT at end-of-string — a bare ""
    // pattern leaves a trailing empty element under Java's limit=-1 split,
    // which would wrap a phantom "()" symbol onto every word.
    val sym0 = concat(lit("("), concat_ws(")(", split(col("_w"), "(?!$)")), lit(")"))
    val encoded = merges.foldLeft(sym0) { case (acc, (a, b)) =>
      replace(acc, lit(s"($a)($b)"), lit(s"($a$b)"))
    }
    val wordEnc = tok.select("_w").distinct()
      .select(col("_w"),
        (length(encoded) - length(replace(encoded, lit("("), lit("")))).as("_ns"))
    // no broadcast HINT: a text corpus's distinct-word table includes the
    // long typo tail and can outgrow executor memory at 100 TB — AQE
    // broadcasts it when it is actually small and shuffle-joins when not
    tok.join(wordEnc, Seq("_w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum("_ns").as("n_subtokens"))
      .withColumn("subtokens_per_word",
        round(col("n_subtokens").cast("double") / col("n_words"), 6))
  }

  /** Vocabulary induction + out-of-vocabulary coverage: fit the top
    * `vocabSize` words by corpus frequency (ties by word ascending — the
    * cut is deterministic), then score every document's OOV rate against
    * that vocab — the standard pre-tokenizer diagnostic for "how much of
    * this corpus does a fixed vocab actually cover".
    *
    * Two passes by design, both scale-shaped: the FIT pass partial-
    * aggregates word counts map-side (shuffle is vocab-sized per partition,
    * never token-sized) and takes the top `vocabSize` as a TakeOrdered (no
    * full sort); the APPLY pass explodes tokens (narrow), probes the
    * broadcast vocab, and re-aggregates per document — that shuffle carries
    * one row per document. Output: (idCol, n_tokens, n_oov, oov_rate).
    */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabCoverage needs vocabSize >= 1, got $vocabSize")
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("_w"))
    val vocab = tok.groupBy("_w").agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("_w").asc).limit(vocabSize)
      .select(col("_w"), lit(1).as("_in"))
    tok.join(broadcast(vocab), Seq("_w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Sliding token-window chunking — the RAG / context-window splitting
    * pass: cut each document's whitespace tokens into `chunkTokens`-sized
    * chunks advancing by `chunkTokens - overlapTokens`, so consecutive
    * chunks share `overlapTokens` tokens of context. Chunk `i` (0-based)
    * covers tokens `[i*stride+1, min(i*stride+chunkTokens, n)]`; a
    * document of `n <= chunkTokens` tokens emits exactly one (possibly
    * short) chunk, and the final chunk truncates at the document end
    * rather than padding or re-anchoring (the unfold-with-tail
    * convention — chunk starts are a fixed arithmetic grid, so chunk
    * membership is reproducible under re-partitioning and re-runs).
    * Output: `(idCol, chunk_id, n_tokens, chunk_text)`, one row per chunk.
    *
    * Scale shape: one codegen'd projection (split, per-chunk slices) plus
    * a narrow explode — zero shuffles; downstream embedding/indexing
    * stages inherit the corpus partitioning. */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens >= 1, s"chunkDocs needs chunkTokens >= 1, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"chunkDocs needs 0 <= overlapTokens < chunkTokens, got $overlapTokens")
    val stride = chunkTokens - overlapTokens
    val toks = col("_tk")
    val nChunks = when(size(toks) <= chunkTokens, lit(1))
      .otherwise(ceil((size(toks) - chunkTokens).cast("double") / stride)
        .cast("int") + 1)
    val chunks = transform(sequence(lit(0), nChunks - 1), i => struct(
      i.cast("long").as("chunk_id"),
      least(lit(chunkTokens), size(toks) - i * stride).cast("long").as("n_tokens"),
      concat_ws(" ", slice(toks, i * stride + 1, lit(chunkTokens))).as("chunk_text")))
    docs.select(col(idCol), tokens(col(textCol)).as("_tk"))
      .select(col(idCol), explode(chunks).as("_c"))
      .select(col(idCol), col("_c.chunk_id").as("chunk_id"),
        col("_c.n_tokens").as("n_tokens"), col("_c.chunk_text").as("chunk_text"))
  }

  /** Markup strip — the HTML-extraction pass a web-crawl pipeline runs
    * before any text analysis: delete every `<...>` tag, decode the six
    * HTML entities that survive real-world extraction (`&nbsp; &lt; &gt;
    * &quot; &#39; &amp;`), and collapse whitespace runs to single spaces.
    *
    * Decode ORDER is the standard double-escape discipline: `&amp;` is
    * decoded LAST so `&amp;lt;` yields the literal text `&lt;` rather than
    * a second-round `<` — and tags are stripped BEFORE entity decode so an
    * escaped `&lt;script&gt;` in user text is never promoted into a
    * strippable (deletable) tag. Pure codegen'd regexp/replace chain —
    * zero shuffles, map-only over the corpus scan. */
  def stripMarkup(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** English stoplist for the block-level content classifier — the
    * jusText/trafilatura stopword-density signal. Deliberately small and
    * FROZEN: the rule thresholds in [[extractMainContent]] are calibrated
    * against it and the oracle SQL embeds the identical list. */
  private[graft] val ContentStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be",
    "this", "are", "from", "have", "not", "but", "they", "his",
    "her", "you", "we")

  /** Block boundaries: any opening/closing block-level HTML tag. RE2-safe
    * (character classes + alternation only), so DuckDB's
    * `regexp_split_to_array` splits identically. */
  private[graft] val BlockTagSplit: String =
    "(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|thead|tbody|tr|td|th|" +
      "section|article|header|footer|nav|aside|blockquote|pre|form)\\b[^>]*>"

  /** Main-content extraction — the boilerplate-removal stage between a
    * crawl's raw HTML ([[graft.sources.Warc.readWarc]] payloads) and
    * everything downstream (lang-ID → quality → dedup ladder):
    * [[stripMarkup]] keeps nav/footer/cookie-banner chrome that poisons
    * dedup fingerprints and quality scores; this drops it with the
    * line/block-based heuristics at the core of jusText and trafilatura
    * (Pomikálek 2011; Barbaresi 2021), which are pure per-block
    * arithmetic and therefore SQL-expressible and oracle-checkable.
    *
    * Algorithm: split the HTML at block-level tag boundaries
    * ([[BlockTagSplit]]); for each block compute its inline-stripped text,
    * anchor-text share, and stopword share; classify a block as CONTENT
    * iff (all integer arithmetic — no float boundary risk):
    *   - `length(text) >= minChars`            (short chrome lines drop)
    *   - `3 * linkChars <= length(text)`       (link density <= 1/3)
    *   - `nWords >= 1 && 1000 * nStop >= minStopPerMille * nWords`
    *     (stopword ratio >= minStopPerMille/1000 — prose has function
    *     words, button/menu text does not; default 200‰ is the
    *     jusText-class bar for real English prose — calibrate DOWN for
    *     function-word-poor corpora, e.g. q166 runs 50‰ against the
    *     synthetic keyword-soup corpus whose median ratio is 62‰)
    * Output per doc: `main_text` (content blocks joined by one space,
    * entity-decoded with [[stripMarkup]]'s 6-entity chain), `n_blocks`
    * (non-empty text blocks), `n_content_blocks`, `chars_kept`,
    * `chars_dropped`.
    *
    * Scale shape: ONE codegen'd projection over the corpus scan — the
    * split/transform/filter/aggregate chain is all higher-order functions
    * on the in-row block array; zero shuffles, zero UDFs. Per-row memory
    * is the document's own block list (bounded by the page size the crawl
    * already holds in the row). */
  def extractMainContent(docs: DataFrame, idCol: String, htmlCol: String,
                         minChars: Int = 25,
                         minStopPerMille: Int = 200): DataFrame = {
    require(minChars >= 1, s"extractMainContent needs minChars >= 1, got $minChars")
    require(minStopPerMille >= 0 && minStopPerMille <= 1000,
      s"extractMainContent needs minStopPerMille in [0, 1000], got $minStopPerMille")
    val stops = array(ContentStopwords.map(lit): _*)
    def inlineText(c: Column): Column =
      trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " "))
    // per-block stats struct: (txt, link chars, words, stopwords)
    val stats = transform(split(col(htmlCol), BlockTagSplit), b => {
      val txt = inlineText(b)
      val linkChars = aggregate(
        transform(regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1)),
          a => length(inlineText(a))),
        lit(0), (acc, v) => acc + v)
      val words = filter(split(lower(txt), "[^a-z]+"), w => w =!= "")
      struct(txt.as("txt"), linkChars.as("lc"), size(words).as("nw"),
        size(filter(words, w => array_contains(stops, w))).as("ns"))
    })
    def isContent(s: Column): Column =
      length(s.getField("txt")) >= minChars &&
        s.getField("lc") * 3 <= length(s.getField("txt")) &&
        s.getField("nw") >= 1 &&
        s.getField("ns") * 1000 >= s.getField("nw") * minStopPerMille
    def charSum(blocks: Column): Column =
      aggregate(blocks, lit(0L), (acc, s) => acc + length(s.getField("txt")).cast("long"))
    val joined = array_join(transform(col("_kb"), s => s.getField("txt")), " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(joined) { case (c, (e, r)) => regexp_replace(c, e, r) }
    docs
      .select(col(idCol),
        filter(stats, s => length(s.getField("txt")) > 0).as("_nb"))
      .select(col(idCol), col("_nb"), filter(col("_nb"), isContent(_)).as("_kb"))
      .select(col(idCol),
        trim(regexp_replace(decoded, "\\s+", " ")).as("main_text"),
        size(col("_nb")).cast("long").as("n_blocks"),
        size(col("_kb")).cast("long").as("n_content_blocks"),
        charSum(col("_kb")).as("chars_kept"),
        (charSum(col("_nb")) - charSum(col("_kb"))).as("chars_dropped"))
  }

  /** Per-script character counts for the Unicode-script families a web
    * corpus actually mixes — the script-level curation signal
    * orthogonal to [[trigramLangId]]: a document whose Latin text
    * carries embedded Cyrillic/Greek letters is the HOMOGLYPH shape
    * (confusable-script spam, "pаypаl" with U+0430), and a
    * many-scripts-in-one-doc profile flags concatenation/template junk
    * that per-language models each score as fine text. Counts are
    * length-diff over `regexp_replace` with literal BMP ranges — the
    * identical arithmetic runs in DuckDB (RE2 handles literal-char
    * ranges), so this stays fully oracle-paired. Zero-shuffle codegen'd
    * projection. Output: (id, n_chars, <script>_chars ×6, digit_chars,
    * n_scripts, confusable_mix). */
  def scriptProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scripts = ScriptRanges
    val counted = scripts.foldLeft(
      docs.select(col(idCol), col(textCol), length(col(textCol)).as("n_chars"))) {
      case (df, (name, pat)) => df.withColumn(s"${name}_chars",
        (col("n_chars") - length(regexp_replace(col(textCol), pat, ""))).cast("long"))
    }
    val families = scripts.map(_._1).filterNot(_ == "digit")
    counted
      .withColumn("n_scripts",
        families.map(f => when(col(s"${f}_chars") > 0, 1).otherwise(0))
          .reduce(_ + _).cast("long"))
      .withColumn("confusable_mix",
        col("latin_chars") > 0 &&
          (col("cyrillic_chars") > 0 || col("greek_chars") > 0))
      .select((col(idCol) +: col("n_chars").cast("long").as("n_chars") +:
        scripts.map { case (n, _) => col(s"${n}_chars") } :+
        col("n_scripts") :+ col("confusable_mix")): _*)
  }

  /** (name, literal-char BMP class) pairs shared by [[scriptProfile]]
    * and its oracle twin — Latin/digit ASCII classes plus the Cyrillic,
    * Greek, CJK-unified, Arabic, and Hangul-syllable blocks. */
  private[graft] val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "digit" -> "[0-9]",
    "cyrillic" -> "[Ѐ-ӿ]",
    "greek" -> "[Ͱ-Ͽ]",
    "cjk" -> "[一-鿿]",
    "arabic" -> "[؀-ۿ]",
    "hangul" -> "[가-힯]")

  /** Canonical URL form for URL-level dedup — the FIRST dedup stage of
    * web-corpus pipelines (RefinedWeb §3.2 dedups by exact URL before any
    * text pass; CCNet groups shards the same way): the same page is
    * crawled as `http://` and `https://`, with and without `www.`, with
    * tracking params and fragments appended — all one document. Rules, in
    * order: drop the scheme (any case), drop a leading `www.`, lowercase
    * the HOST ONLY (paths are case-sensitive), strip the `#fragment`,
    * strip tracking params (`utm_*`, `fbclid`, `gclid`) with their
    * separator, strip dangling `?`/`&`, strip one trailing slash.
    * Pure codegen'd regexp chain — zero shuffles; the dedup that follows
    * keys on this canonical string (or its int64 [[Dedup.fingerprints]]
    * hash at corpus scale, so the wide arm never carries URLs). */
  def canonicalizeUrl(url: Column): Column = {
    val noScheme = regexp_replace(url, "^[Hh][Tt][Tt][Pp][Ss]?://", "")
    val noWww = regexp_replace(noScheme, "^[Ww][Ww][Ww]\\.", "")
    val hostLower = concat(
      lower(regexp_extract(noWww, "^([^/?#]*)", 1)),
      regexp_extract(noWww, "^[^/?#]*(.*)$", 1))
    val noFrag = regexp_replace(hostLower, "#.*$", "")
    val noTrack = regexp_replace(noFrag, "(utm_[a-z]+|fbclid|gclid)=[^&#]*&?", "")
    val noDangle = regexp_replace(noTrack, "[?&]+$", "")
    regexp_replace(noDangle, "/$", "")
  }

  /** Dedup-normalization — the canonical text form production dedup
    * fingerprints on (Dolma's and RefinedWeb's exact-dedup stages
    * lowercase and strip punctuation first): lowercase, non-letter/digit
    * runs to single spaces, whitespace collapsed, trimmed. Case and
    * punctuation re-renders of one page ("Hello, World!" vs "hello
    * world") collapse to one fingerprint; raw-text exact dedup misses
    * them. Unicode-aware (`\p{L}\p{N}`, Unicode lowercasing — both Java
    * regex and DuckDB's RE2 agree on these classes): CJK/Cyrillic/Arabic
    * text keeps its letters rather than normalizing to "" — an ASCII-only
    * class would collapse EVERY non-Latin document into one fingerprint
    * and a keep-first dedup would delete all but one. Documents with no
    * letters/digits in ANY script still normalize to "": filter
    * `length(norm) > 0` (or fall back to raw text) before fingerprinting
    * if such rows exist. Pure codegen projection — compose UNDER
    * [[graft.operators.Dedup.fingerprints]]/`dedupKeepFirst`, never a
    * shuffle of its own. */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^\\p{L}\\p{N}]+", " "), " +", " "))

  /** Cross-host template detection (SEO/link-farm discovery): group
    * documents by the [[normalizeForDedup]]-normalized text fingerprint
    * and flag fingerprints spanning at least `minHosts` DISTINCT hosts —
    * the same page body stamped across many domains is template spam no
    * per-document filter sees (each copy is individually fluent; the
    * signal IS the cross-host replication). Complements
    * [[hostQualityStats]]' within-host dup fraction with the ACROSS-host
    * axis; feed the flagged fingerprints to an anti-join to scrub, or to
    * the host blocklist the farm's domains earn.
    *
    * Scale shape: one codegen projection (normalize + portable int64
    * hash + host) and ONE fingerprint-keyed aggregate — the exchange
    * carries (int64, host, id), never text. Output per flagged
    * fingerprint: (fp, n_docs, n_hosts, first_doc). */
  def templateFarms(docs: DataFrame, idCol: String, urlCol: String,
                    textCol: String, minHosts: Int = 3): DataFrame = {
    require(minHosts >= 2, s"templateFarms needs minHosts >= 2, got $minHosts")
    docs.select(
        rolling_hash(normalizeForDedup(col(textCol))).as("fp"),
        hostOf(col(urlCol)).as("_host"), col(idCol))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("_host")).as("n_hosts"),
        min(col(idCol)).as("first_doc"))
      .where(col("n_hosts") >= minHosts)
  }

  /** Canonical host of a URL: scheme and a leading `www.` stripped,
    * lowercased. The grouping key for domain-level corpus curation. */
  def hostOf(url: Column): Column =
    regexp_replace(
      lower(regexp_extract(
        regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", ""),
        "^([^/?#]*)", 1)),
      "^www\\.", "")

  /** Domain-level curation stats — the C4 badlist / RefinedWeb per-domain
    * stage: pretraining pipelines drop whole HOSTS (link farms, template
    * mills), not just documents, because a domain whose pages are mostly
    * mutual duplicates poisons dedup-survivor sampling. Per host: doc
    * count, distinct-text count (exact int64 fingerprints), the dup
    * fraction, mean document length, and a keep verdict = host not on
    * `blocklist` AND dup_frac <= `maxDupFrac`.
    *
    * Scale shape: one hash-partitioned aggregate keyed on the host; the
    * distinct-text count rides the same exchange as (host, fingerprint)
    * pairs — int64s, never text. The blocklist is a literal predicate
    * (codegen'd `isin`); at a real blocklist's size (~100k hosts) swap in
    * a broadcast anti-join — same output, documented lever. */
  def hostQualityStats(docs: DataFrame, urlCol: String, textCol: String,
                       blocklist: Seq[String] = Nil,
                       maxDupFrac: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    val dupFrac = round(lit(1.0) -
      col("n_unique").cast("double") / col("n_docs").cast("double"), 6)
    docs
      .select(hostOf(col(urlCol)).as("host"),
        expr(graft.operators.Dedup.hashFrag(textCol)).as("_fp"),
        length(col(textCol)).cast("long").as("_len"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("_fp")).as("n_unique"),
        round(avg(col("_len")), 6).as("avg_chars"))
      .withColumn("dup_frac", dupFrac)
      .withColumn("keep",
        (!col("host").isin(blocklist: _*)) && col("dup_frac") <= maxDupFrac)
  }

  /** Per-host document quota (RefinedWeb §3.1 / CCNet's per-domain cap —
    * the anti-concentration stage after host stats): keep at most `quota`
    * documents per canonical host, preferring higher `scoreCol` then
    * smaller id (deterministic). Link farms and template mills otherwise
    * dominate a crawl corpus by sheer page count no matter how good the
    * per-document filters are — the cap bounds any single host's
    * contribution to the training mixture.
    *
    * Scale shape: the rank window rides a SLIM (host, id, score)
    * projection — one host-keyed exchange carrying three narrow columns,
    * never the text; survivors join back to the full rows by id. AQE
    * handles host-count skew (the mega-host with 10^6 pages is exactly
    * the row this operator exists to cut). Output: all of `docs`'
    * columns plus (host, rank) for the kept rows. */
  def hostQuotaCap(docs: DataFrame, idCol: String, urlCol: String,
                   scoreCol: String, quota: Int): DataFrame = {
    require(quota >= 1, s"hostQuotaCap needs quota >= 1, got $quota")
    require(!docs.columns.contains("rank") && !docs.columns.contains("host"),
      "hostQuotaCap emits 'host' and 'rank' columns")
    val slim = docs.select(hostOf(col(urlCol)).as("host"), col(idCol),
      col(scoreCol))
    val w = Window.partitionBy("host")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val kept = slim.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= quota)
      .select(col(idCol), col("host"), col("rank"))
    docs.join(kept, Seq(idCol))
  }

  /** Markup-strip TRANSFORM over a corpus: (idCol, n_tags, clean_text),
    * one row per document — [[stripMarkup]] plus the tag count (the
    * extraction-health signal: a "text" column averaging hundreds of tags
    * per kilobyte is raw HTML that skipped extraction upstream). */
  def markupStrip(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit("<[^>]*>"), lit(0)))
        .cast("long").as("n_tags"),
      stripMarkup(col(textCol)).as("clean_text"))

  /** Character-class quality stats — the encoding/mojibake gate (CCNet
    * runs the same class of check before the LM filter): per document,
    * counts of C0/C1 control characters (tab/newline/CR excluded — those
    * are structure, not corruption), U+FFFD replacement characters (the
    * smoking gun of a mis-decoded byte stream), and non-ASCII characters,
    * plus the printable-ASCII ratio and a `keep` verdict.
    *
    * `keep` = zero replacement chars AND zero control chars AND
    * `ascii_ratio >= minAsciiRatio`. The ratio gate defaults to 0 (off):
    * non-ASCII is CORRECT text in most languages — raise it only for
    * ASCII-expected streams (code, English-only crawls). Counts come from
    * length-difference over codegen'd `regexp_replace` — map-only, zero
    * shuffles, no per-char higher-order fold. */
  def charClassStats(docs: DataFrame, idCol: String, textCol: String,
                     minAsciiRatio: Double = 0.0): DataFrame = {
    require(minAsciiRatio >= 0.0 && minAsciiRatio <= 1.0,
      s"charClassStats needs minAsciiRatio in [0,1], got $minAsciiRatio")
    val t = col(textCol)
    val classCount = (pat: String) =>
      (length(t) - length(regexp_replace(t, pat, ""))).cast("long")
    val nChars = length(t).cast("long")
    docs.select(col(idCol),
        nChars.as("n_chars"),
        classCount("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]").as("n_control"),
        classCount("\\x{FFFD}").as("n_replacement"),
        classCount("[^\\x00-\\x7F]").as("n_non_ascii"))
      .withColumn("ascii_ratio",
        when(col("n_chars") === 0, 1.0)
          .otherwise(round((col("n_chars") - col("n_non_ascii"))
            .cast("double") / col("n_chars"), 6)))
      .withColumn("keep",
        col("n_replacement") === 0 && col("n_control") === 0 &&
          col("ascii_ratio") >= minAsciiRatio)
  }

  /** Character-level Shannon entropy (nats) — the degenerate-text filter
    * orthogonal to every other quality signal here: near-zero entropy is
    * repeated-character junk (`aaaa…`, padding runs) that can sail
    * through [[gopherQualityFlags]] word checks, while implausibly high
    * entropy is random/encrypted/compressed bytes masquerading as text.
    * `keep` brackets [minEntropy, maxEntropy] on the 6-dp-rounded value
    * so the boundary is engine-reproducible. Output: (id, n_chars,
    * n_distinct_chars, entropy, keep).
    *
    * Scale shape: one zero-shuffle codegen'd projection over the fused
    * [[graft.functions.CharEntropy]] kernel — a single primitive walk
    * per document with an open-addressing code-point histogram. (The
    * earlier declarative form — split-to-chars → array_sort → run-length
    * `aggregate` fold — computed the same value but paid an INTERPRETED
    * lambda + struct allocation per character: 3.8 s for q150 at sf0.1
    * vs ~0.4 s for the kernel; a per-distinct-char filter scan is worse
    * still, measured 28 s.) */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String,
                  minEntropy: Double = 2.0,
                  maxEntropy: Double = 5.0): DataFrame = {
    require(minEntropy <= maxEntropy,
      s"entropy bracket inverted: [$minEntropy, $maxEntropy]")
    docs.select(col(idCol),
        graft.functions.GraftFunctions.char_entropy(col(textCol)).as("_ce"))
      .select(col(idCol),
        col("_ce.n_chars").as("n_chars"),
        col("_ce.n_distinct_chars").as("n_distinct_chars"),
        round(col("_ce.entropy"), 6).as("entropy"))
      .withColumn("keep",
        col("entropy") >= minEntropy && col("entropy") <= maxEntropy)
  }

  /** Build the bench-set n-gram bloom for [[contaminationFlag]]: one
    * bounded row of `numBits/8` bytes aggregated over the benchmark
    * documents' gram hashes (map-side-combined — the merge is bitwise
    * OR, so the build shuffle carries filters, never grams). Size at
    * ~10 bits per distinct bench gram; eval suites are small, so even a
    * generous filter is a few MB — broadcastable to every executor AND
    * serializable into a streaming query's plan. */
  def benchGramBloom(docs: DataFrame, textCol: String, benchPred: Column,
                     n: Int, numBits: Int = 1 << 22,
                     numHashes: Int = 6): Array[Byte] = {
    import graft.functions.GraftFunctions
    docs.where(benchPred)
      .select(explode(ngrams(tokens(col(textCol)), n)).as("_g"))
      .agg(GraftFunctions.bloom_agg(
        GraftFunctions.rolling_hash(col("_g")), numBits, numHashes).as("_b"))
      .head().getAs[Array[Byte]](0)
  }

  /** Stream-composable decontamination verdict: TRUE when any of the
    * document's `n`-gram hashes might be in the bench bloom — the
    * STATELESS form of [[contaminationHits]], usable inside a streaming
    * projection (no join, no state store; the filter bytes ride the
    * plan). The error direction is the safe one for decontamination:
    * false positives quarantine extra docs (re-check them exactly
    * offline via [[contaminationHits]]); false NEGATIVES cannot occur,
    * so nothing contaminated passes. */
  def contaminationFlag(textCol: Column, benchBloom: Array[Byte], n: Int,
                        numHashes: Int = 6): Column = {
    import graft.functions.GraftFunctions
    exists(ngrams(tokens(textCol), n), g =>
      GraftFunctions.bloom_might_contain(
        GraftFunctions.rolling_hash(g), benchBloom, numHashes))
  }

  /** Inverse-Cloze-Task pair generation (Lee et al. 2019, ORQA — the
    * standard self-supervised retrieval-training recipe): from each
    * multi-line document, extract ONE hash-seeded line as the pseudo-
    * query and keep the remaining lines in order as its positive
    * context. Deterministic: the same (corpus, seed) regenerates the
    * identical pair set across engines/runs — [[Stats.mixHash]] picks
    * the line, so no RNG state exists at all. Documents with fewer than
    * 2 lines can't form a pair and drop out. Output: (id,
    * query_line_idx, query, context).
    *
    * Scale shape: one zero-shuffle codegen'd projection (split, one hash,
    * index-filtered rejoin) — pairs materialize at scan speed. */
  def ictPairs(docs: DataFrame, idCol: String, textCol: String,
               seed: Long): DataFrame = {
    val lines = split(col(textCol), "\n", -1)
    val qidx = Stats.mixHash(
      concat(lit(s"$seed:"), col(idCol).cast("string"))) % size(lines)
    docs.select(col(idCol), lines.as("_ln"), qidx.as("_qi"))
      .where(size(col("_ln")) >= 2)
      .select(col(idCol),
        col("_qi").cast("long").as("query_line_idx"),
        element_at(col("_ln"), col("_qi").cast("int") + 1).as("query"),
        array_join(filter(col("_ln"),
          (x, i) => i =!= col("_qi").cast("int")), "\n").as("context"))
  }

  /** Payment-card PII detection with Luhn validation — the checksum tier
    * above q52's pattern-only email/phone scrub: 13–19-digit runs are
    * CANDIDATES, but only Luhn-valid ones count as card PII (a timestamp
    * or order id fails the checksum 90% of the time, so validating slashes
    * the false-positive rate that makes naive digit-run scrubbing eat
    * invoice numbers). Uses Spark's codegen'd `luhn_check`; the DuckDB
    * oracle reproduces the mod-10 fold digit-for-digit. Output: (id,
    * n_candidates, n_valid_cards, has_card_pii) — feed `has_card_pii`
    * rows to quarantine, the counts to the release datasheet.
    *
    * Scale shape: one zero-shuffle codegen'd projection (regexp extract +
    * per-candidate checksum fold inside the scan). */
  def cardNumberPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cands = regexp_extract_all(col(textCol), lit("[0-9]{13,19}"), lit(0))
    val valid = filter(cands, c => call_function("luhn_check", c))
    docs.select(col(idCol),
        size(cands).cast("long").as("n_candidates"),
        size(valid).cast("long").as("n_valid_cards"))
      .withColumn("has_card_pii", col("n_valid_cards") > 0)
  }

  /** C4-style badword filter (Raffel et al. 2020 §2.2's
    * "List of Dirty, Naughty…" stage: drop any page containing a
    * blocklisted word): per-doc blocklisted-token count, fraction, and
    * the keep verdict (zero hits). Matching is case-insensitive on WHOLE
    * whitespace tokens — the C4 rule; substring matching would flag
    * "class" for "ass" (the classic Scunthorpe trap this avoids).
    *
    * Scale shape: a zero-shuffle codegen'd projection — the blocklist
    * compiles into the `isin` literal set (fine to ~10^4 entries); a
    * larger list becomes a broadcast semi-join of exploded tokens (the
    * [[vocabCoverage]] shape). Output: (id, n_tokens, n_flagged,
    * flagged_frac, keep). */
  def badwordFilter(docs: DataFrame, idCol: String, textCol: String,
                    badwords: Seq[String]): DataFrame = {
    require(badwords.nonEmpty, "badwordFilter needs a non-empty blocklist")
    val bw = badwords.map(_.toLowerCase)
    val tk = tokens(col(textCol))
    val flagged = size(filter(tk, t => lower(t).isin(bw: _*)))
    docs.select(col(idCol),
        size(tk).cast("long").as("n_tokens"),
        flagged.cast("long").as("n_flagged"))
      .withColumn("flagged_frac",
        round(col("n_flagged").cast("double") / col("n_tokens"), 6))
      .withColumn("keep", col("n_flagged") === 0L)
  }

  // ------------------------------------------------------------------
  // Unigram-LM tokenizer (Kudo 2018 — the SentencePiece model): the
  // probabilistic sibling of the BPE ladder (bpePairStats /
  // trainBpeMerges / bpeEncodeStats). BPE grows a vocab bottom-up by
  // greedy merges; unigram starts from an over-complete seed and
  // SHRINKS it with EM, segmenting by likelihood instead of merge
  // order.
  // ------------------------------------------------------------------

  /** log(e^a + e^b) without overflow; the identity element is -inf. */
  private def logAdd(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else if (a >= b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  /** One EM E-step of the unigram LM over the word-TYPE table
    * `(word, freq)`: per word type, forward-backward over the
    * segmentation lattice (arcs = vocab pieces, in log space) yields
    * each piece's posterior expected count, frequency-weighted. Returns
    * (expected counts, corpus log-likelihood Σ f·log Z). Runs on the
    * driver over the collected table ([[wordTypes]]), summing in its
    * order. Words the vocab cannot segment (impossible while all single
    * chars stay in the vocab) contribute nothing rather than -inf. */
  private[graft] def unigramEmStep(wordFreq: Array[(String, Long)], vocab: Map[String, Double],
                                   maxPieceLen: Int): (Map[String, Double], Double) = {
    val neg = Double.NegativeInfinity
    val counts = scala.collection.mutable.HashMap.empty[String, Double]
    var ll = 0.0
    for ((w, f) <- wordFreq) {
      val n = w.length
      val alpha = Array.fill(n + 1)(neg)
      alpha(0) = 0.0
      for (i <- 1 to n; l <- 1 to math.min(maxPieceLen, i)) {
        val j = i - l
        if (alpha(j) != neg) vocab.get(w.substring(j, i)).foreach { lp =>
          alpha(i) = logAdd(alpha(i), alpha(j) + lp)
        }
      }
      val z = alpha(n)
      if (z != neg) {
        val beta = Array.fill(n + 1)(neg)
        beta(n) = 0.0
        for (j <- (n - 1) to 0 by -1; l <- 1 to math.min(maxPieceLen, n - j)) {
          val i = j + l
          if (beta(i) != neg) vocab.get(w.substring(j, i)).foreach { lp =>
            beta(j) = logAdd(beta(j), lp + beta(i))
          }
        }
        for (j <- 0 until n; l <- 1 to math.min(maxPieceLen, n - j)) {
          val i = j + l
          if (alpha(j) != neg && beta(i) != neg) {
            val piece = w.substring(j, i)
            vocab.get(piece).foreach { lp =>
              val post = math.exp(alpha(j) + lp + beta(i) - z)
              if (post > 0) counts(piece) = counts.getOrElse(piece, 0.0) + f * post
            }
          }
        }
        ll += f * z
      }
    }
    (counts.toMap, ll)
  }

  /** M-step: renormalize expected counts into log-probabilities. Dead
    * multi-char pieces (zero expected count) drop out; single chars are
    * floored so segmentation coverage survives any EM trajectory. */
  private def unigramMStep(counts: Map[String, Double],
                           pieces: Iterable[String]): Map[String, Double] = {
    val kept = pieces.iterator.flatMap { p =>
      val c = counts.getOrElse(p, 0.0)
      if (p.length == 1) Some(p -> math.max(c, 1e-12))
      else if (c > 0) Some(p -> c) else None
    }.toMap
    val total = kept.valuesIterator.sum
    kept.map { case (p, c) => p -> (math.log(c) - math.log(total)) }
  }

  /** Unigram-LM tokenizer TRAINING (Kudo 2018 §3.2, the SentencePiece
    * fit): seed an over-complete piece inventory (all single chars +
    * the top `seedFactor * vocabSize` frequent substrings up to
    * `maxPieceLen`), run `emIters` EM rounds, prune to `vocabSize` by
    * expected count (chars are never pruned — coverage), and re-fit one
    * final EM round on the pruned vocab. Returns the tokenizer artifact
    * `(rank, piece, logp, exp_count)` ranked by final expected count
    * (ties by piece ascending).
    *
    * Deviation from the paper, stated: pruning is by expected count, not
    * by loss-if-removed — the standard simplification; on natural text
    * the two orders agree except deep in the tail. Like
    * [[trainBpeMerges]], the corpus is read ONCE, by [[wordTypes]]'
    * bounded collect, and the seed inventory and every EM round run on
    * the driver over that table, as SentencePiece runs them; a fit corpus
    * above [[MaxFitWordTypes]] word types fails, and `fitSample` carries
    * the same deterministic sample-fit contract for 100 TB corpora. EM's
    * monotone-likelihood guarantee is pinned in TextAnalysisSpec against
    * a brute-force all-segmentations reference. */
  def trainUnigramLm(docs: DataFrame, textCol: String, vocabSize: Int,
                     maxPieceLen: Int = 4, emIters: Int = 2, seedFactor: Int = 2,
                     fitSample: Option[Column] = None): DataFrame = {
    require(vocabSize >= 2, s"trainUnigramLm needs vocabSize >= 2, got $vocabSize")
    require(maxPieceLen >= 2, s"trainUnigramLm needs maxPieceLen >= 2, got $maxPieceLen")
    require(emIters >= 1 && seedFactor >= 1, "emIters and seedFactor must be >= 1")
    val wf = wordTypes(docs, textCol, fitSample, "trainUnigramLm")
    // seed inventory: frequency-weighted counts of every substring up to
    // maxPieceLen (|word| * maxPieceLen pieces per word TYPE)
    val sub = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, f) <- wf; j <- 0 until w.length; l <- 1 to math.min(maxPieceLen, w.length - j)) {
      val piece = w.substring(j, j + l)
      sub(piece) = sub.getOrElse(piece, 0L) + f
    }
    val singles = sub.toSeq.filter(_._1.length == 1).map { case (p, n) => p -> n.toDouble }
    val multis = sub.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, n) => (-n, p) }.take(vocabSize * seedFactor)
      .map { case (p, n) => p -> n.toDouble }
    require(singles.length < vocabSize,
      s"vocabSize $vocabSize must exceed the ${singles.length} distinct chars")
    val seedTotal = (singles ++ multis).map(_._2).sum
    var vocab: Map[String, Double] = (singles ++ multis).iterator
      .map { case (p, c) => p -> (math.log(c) - math.log(seedTotal)) }.toMap
    var counts = Map.empty[String, Double]
    for (_ <- 1 to emIters) {
      val (c, _) = unigramEmStep(wf, vocab, maxPieceLen)
      vocab = unigramMStep(c, vocab.keys)
      counts = c
    }
    // prune to vocabSize: chars mandatory, multis by expected count
    // ranking keys round to the 4-dp grid the exp_count column prints
    // FIRST: multis whose printed counts tie then rank by piece, so the
    // kept set and rank order follow from the printed table, not from a
    // last-bit difference in how the doubles were summed
    def grid(c: Double): Double = math.rint(c * 1e4) / 1e4
    val charPieces = vocab.keysIterator.filter(_.length == 1).toSeq
    val keptMultis = vocab.keysIterator.filter(_.length > 1).toSeq
      .sortBy(p => (-grid(counts.getOrElse(p, 0.0)), p))
      .take(vocabSize - charPieces.length)
    vocab = unigramMStep(counts, charPieces ++ keptMultis)
    // final re-fit on the pruned inventory
    val (cFinal, _) = unigramEmStep(wf, vocab, maxPieceLen)
    vocab = unigramMStep(cFinal, vocab.keys)
    import docs.sparkSession.implicits._
    vocab.toSeq
      .map { case (p, lp) => (p, lp, grid(cFinal.getOrElse(p, 0.0))) }
      .sortBy { case (p, _, c) => (-c, p) }
      .zipWithIndex
      .map { case ((p, lp, c), i) =>
        (i + 1, p, math.rint(lp * 1e6) / 1e6, c) }
      .toDF("rank", "piece", "logp", "exp_count")
  }

  /** Tokenizer APPLY for a FIXED unigram-LM vocab — the downstream
    * stage of [[trainUnigramLm]], mirroring [[bpeEncodeStats]]: Viterbi
    * (max-likelihood) segmentation of every word, aggregated per
    * document as word count, piece count, fertility, and total Viterbi
    * log-likelihood (the sequence-level quality signal a perplexity
    * bucket would consume). Characters the vocab lacks segment as
    * single-char pieces at `unkLogp` — SentencePiece's UNK arc — so
    * every word segments.
    *
    * Scale shape: identical to [[bpeEncodeStats]] — the imperative
    * Viterbi DP runs on the DISTINCT-word table (vocabulary-sized);
    * the corpus-sized work is one narrow explode, the join back (AQE
    * broadcasts the word table while small), and a per-document
    * aggregate. Ties (equal log-likelihood) resolve to FEWER pieces,
    * then the fixed scan order — deterministic. */
  def unigramEncodeStats(docs: DataFrame, idCol: String, textCol: String,
                         vocab: Seq[(String, Double)],
                         unkLogp: Double = -20.0): DataFrame = {
    require(vocab.nonEmpty, "unigramEncodeStats needs a non-empty vocab")
    require(vocab.forall(_._1.nonEmpty), "vocab pieces must be non-empty")
    require(unkLogp < 0, s"unkLogp must be negative, got $unkLogp")
    val spark = docs.sparkSession
    import spark.implicits._
    val maxLen = vocab.iterator.map(_._1.length).max
    val bc = spark.sparkContext.broadcast(vocab.toMap)
    val tok = docs.select(col(idCol), explode(wordTokens(col(textCol))).as("_w"))
    val wordEnc = tok.select("_w").distinct().as[String].mapPartitions { it =>
      val v = bc.value
      val neg = Double.NegativeInfinity
      it.map { w =>
        val n = w.length
        val bestLp = Array.fill(n + 1)(neg)
        val bestNp = Array.fill(n + 1)(0)
        bestLp(0) = 0.0
        for (i <- 1 to n) {
          for (l <- 1 to math.min(maxLen, i)) {
            val j = i - l
            if (bestLp(j) != neg) {
              val arc = v.get(w.substring(j, i))
                .orElse(if (l == 1) Some(unkLogp) else None)
              arc.foreach { lp =>
                val cand = bestLp(j) + lp
                val np = bestNp(j) + 1
                if (cand > bestLp(i) || (cand == bestLp(i) && np < bestNp(i))) {
                  bestLp(i) = cand
                  bestNp(i) = np
                }
              }
            }
          }
        }
        (w, bestNp(n).toLong, bestLp(n))
      }
    }.toDF("_w", "_np", "_lp")
    tok.join(wordEnc, Seq("_w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum("_np").as("n_pieces"),
        round(sum("_lp"), 4).as("viterbi_logp"))
      .withColumn("pieces_per_word",
        round(col("n_pieces").cast("double") / col("n_words"), 6))
  }

  /** Subword-REGULARIZATION sampling for a fixed unigram-LM vocab (Kudo
    * 2018 §4 — the apply mode a training pipeline actually feeds a
    * model): per word, draw ONE segmentation from the lattice with
    * probability ∝ P(segmentation)^alpha, by exact forward-filtering /
    * backward-sampling over the alpha-scaled arc log-probs — every
    * lattice path is reachable (no n-best truncation; the paper's
    * l=∞ sampling). `alpha` is the smoothing exponent: alpha → ∞
    * concentrates on the Viterbi path (pinned in TextAnalysisSpec),
    * small alpha flattens toward uniform-over-segmentations. Draws are
    * a pure function of (word, seed) via the splitmix64
    * [[Media.HashRng]] — the [[Media]] augmentation determinism policy:
    * replays and retries are bit-identical at any parallelism, and a
    * training pipeline re-regularizes by varying `seed` per epoch/draw.
    * Characters the vocab lacks ride the same `unkLogp` single-char arc
    * as [[unigramEncodeStats]]. Output: (id, n_words, n_pieces,
    * sampled_logp, pieces_per_word) — `sampled_logp` is the UNSCALED
    * model log-likelihood of the drawn pieces, so it is comparable to
    * (and never above) `viterbi_logp`.
    *
    * Sampling is per word TYPE per seed, not per occurrence — stated
    * deviation from the paper's per-sentence draw: the DP and the draw
    * both stay on the Heaps-bounded distinct-word table (the
    * [[bpeEncodeStats]] scale discipline), and the cross-epoch seed
    * variation is what carries the regularization. Scale shape is
    * exactly [[unigramEncodeStats]]: one narrow explode, the
    * vocabulary-sized mapPartitions, the join back (AQE broadcasts the
    * word table while small), one per-document aggregate. */
  def unigramSampleStats(docs: DataFrame, idCol: String, textCol: String,
                         vocab: Seq[(String, Double)], alpha: Double = 0.5,
                         seed: Long = 42L, unkLogp: Double = -20.0): DataFrame = {
    require(vocab.nonEmpty, "unigramSampleStats needs a non-empty vocab")
    require(vocab.forall(_._1.nonEmpty), "vocab pieces must be non-empty")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    require(unkLogp < 0, s"unkLogp must be negative, got $unkLogp")
    val spark = docs.sparkSession
    import spark.implicits._
    val maxLen = vocab.iterator.map(_._1.length).max
    val bc = spark.sparkContext.broadcast(vocab.toMap)
    val tok = docs.select(col(idCol), explode(wordTokens(col(textCol))).as("_w"))
    val wordEnc = tok.select("_w").distinct().as[String].mapPartitions { it =>
      val v = bc.value
      it.map { w =>
        val fwd = ffbsForward(w, v, alpha, maxLen, unkLogp)
        val (np, lp) = ffbsDraw(w, fwd, v, alpha, maxLen, unkLogp,
          new Media.HashRng(w, seed))
        (w, np, lp)
      }
    }.toDF("_w", "_np", "_lp")
    tok.join(wordEnc, Seq("_w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum("_np").as("n_pieces"),
        round(sum("_lp"), 4).as("sampled_logp"))
      .withColumn("pieces_per_word",
        round(col("n_pieces").cast("double") / col("n_words"), 6))
  }

  /** Shared FFBS pieces for the two samplers: the alpha-scaled forward
    * array of `w`'s segmentation lattice, and one backward draw from it.
    * The draw is exact — arc (j -> i) leaves position i with posterior
    * `exp(fwd(j) + alpha*lp - fwd(i))`; weights sum to 1 by construction
    * with an fp-rounding tail guard; one rng draw per step, always. */
  private def ffbsForward(w: String, v: Map[String, Double], alpha: Double,
                          maxLen: Int, unkLogp: Double): Array[Double] = {
    val neg = Double.NegativeInfinity
    val n = w.length
    val fwd = Array.fill(n + 1)(neg)
    fwd(0) = 0.0
    for (i <- 1 to n; l <- 1 to math.min(maxLen, i)) {
      val j = i - l
      if (fwd(j) != neg)
        v.get(w.substring(j, i))
          .orElse(if (l == 1) Some(unkLogp) else None)
          .foreach(lp => fwd(i) = logAdd(fwd(i), fwd(j) + alpha * lp))
    }
    fwd
  }

  /** One backward sample from a [[ffbsForward]] array; returns
    * (piece count, UNSCALED model log-likelihood of the drawn pieces). */
  private def ffbsDraw(w: String, fwd: Array[Double], v: Map[String, Double],
                       alpha: Double, maxLen: Int, unkLogp: Double,
                       rng: Media.HashRng): (Long, Double) = {
    val neg = Double.NegativeInfinity
    var i = w.length
    var np = 0L
    var lpSum = 0.0
    while (i > 0) {
      val u = rng.nextDouble()
      var cum = 0.0
      var chosenL = -1
      var chosenLp = 0.0
      val lMax = math.min(maxLen, i)
      var l = 1
      while (l <= lMax) {
        val j = i - l
        if (fwd(j) != neg)
          v.get(w.substring(j, i))
            .orElse(if (l == 1) Some(unkLogp) else None)
            .foreach { lp =>
              cum += math.exp(fwd(j) + alpha * lp - fwd(i))
              if (chosenL < 0 && u < cum) { chosenL = l; chosenLp = lp }
            }
        l += 1
      }
      if (chosenL < 0) {
        l = lMax
        while (chosenL < 0 && l >= 1) {
          val j = i - l
          if (fwd(j) != neg)
            v.get(w.substring(j, i))
              .orElse(if (l == 1) Some(unkLogp) else None)
              .foreach { lp => chosenL = l; chosenLp = lp }
          l -= 1
        }
      }
      np += 1; lpSum += chosenLp; i -= chosenL
    }
    (np, lpSum)
  }

  /** Per-OCCURRENCE subword-regularization sampling — the paper-faithful
    * variant of [[unigramSampleStats]] (Kudo 2018 §4 draws a fresh
    * segmentation per sentence, not per word type): every (document,
    * position, word) occurrence gets its own splitmix64 stream, so the
    * same word segments differently across its occurrences within ONE
    * pass — maximum segmentation diversity per epoch. Requires
    * long-castable document ids (the occurrence key rides a typed
    * Dataset); the generic-id callers keep [[unigramSampleStats]].
    *
    * Scale shape: the expensive forward DP still runs once per word TYPE
    * (Heaps-bounded mapPartitions); the forward ARRAYS (|w|+1 doubles —
    * narrower than the text itself) join back to occurrences exactly as
    * the encode stats join their per-word results (AQE broadcasts the
    * word table while small), and the per-occurrence backward walk is a
    * cheap narrow pass: `maxLen` posterior lookups per drawn piece, no
    * new lattice work. Output schema matches [[unigramSampleStats]]. */
  def unigramSampleStatsPerOccurrence(docs: DataFrame, idCol: String,
                                      textCol: String,
                                      vocab: Seq[(String, Double)],
                                      alpha: Double = 0.5, seed: Long = 42L,
                                      unkLogp: Double = -20.0): DataFrame = {
    require(vocab.nonEmpty, "unigramSampleStatsPerOccurrence needs a non-empty vocab")
    require(vocab.forall(_._1.nonEmpty), "vocab pieces must be non-empty")
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    require(unkLogp < 0, s"unkLogp must be negative, got $unkLogp")
    val spark = docs.sparkSession
    import spark.implicits._
    // the long-castable-id requirement is a contract, not a filter: a
    // string id that fails the cast must FAIL, not silently vanish into a
    // partial result (the codebase's loud-validation convention). The
    // check is schema-level — free — and catches every non-integral type
    // up front; genuinely-null ids still drop (null key = no occurrence
    // stream), matching unigramSampleStats.
    docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
      case other => throw new IllegalArgumentException(
        s"unigramSampleStatsPerOccurrence requires an integral $idCol " +
          s"(the occurrence key rides a typed Dataset), got $other — " +
          "use unigramSampleStats for generic ids")
    }
    val maxLen = vocab.iterator.map(_._1.length).max
    val bc = spark.sparkContext.broadcast(vocab.toMap)
    val tok = docs.select(col(idCol).cast("long").as("_id"),
        posexplode(wordTokens(col(textCol))).as(Seq("_pos", "_w")))
      .where(col("_id").isNotNull)
    val wordFwd = tok.select("_w").distinct().as[String].mapPartitions { it =>
      val v = bc.value
      it.map(w => (w, ffbsForward(w, v, alpha, maxLen, unkLogp).toSeq))
    }.toDF("_w", "_fwd")
    val drawn = tok.join(wordFwd, Seq("_w"))
      .select(col("_id"), col("_pos"), col("_w"), col("_fwd"))
      .as[(Long, Int, String, Seq[Double])]
      .mapPartitions { it =>
        val v = bc.value
        it.map { case (id, pos, w, fwd) =>
          val rng = new Media.HashRng(s"$id:$pos:$w", seed)
          val (np, lp) = ffbsDraw(w, fwd.toArray, v, alpha, maxLen, unkLogp, rng)
          (id, np, lp)
        }
      }.toDF("_id", "_np", "_lp")
    drawn.groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_words"), sum("_np").as("n_pieces"),
        round(sum("_lp"), 4).as("sampled_logp"))
      .withColumn("pieces_per_word",
        round(col("n_pieces").cast("double") / col("n_words"), 6))
  }
}
