package graft
package catalog

import SparkEntry._
import graft.meta.Tables
import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenization and language models: n-grams, TF-IDF and BM25, language
  * ID, BPE and unigram-LM tokenizers, packing and token budgets. */
private[graft] object TokenQueries {
  val entries: Seq[Q] = Seq(

    // Sparse TF-IDF cosine pairs via inverted-index join on hashed
    // 3-shingle features (term-at-a-time; work bounded by sum df^2).
    Q("q76_tfidf_cosine", (s, dir) => {
      TextAnalysis.tfidfCosinePairs(Tables.documents(s, dir), "doc_id", "text",
        minCos = 0.3, maxDf = 1000)
        .orderBy("id_a", "id_b")
    }, Oracle(
      // Same hashed-3-shingle features, tf * ln(n/df) weights, and posting
      // self-join as the Spark side; cosine filtered before rounding.
      s"""WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         |sh AS (SELECT doc_id, unnest(list_transform(
         |CASE WHEN len(tk) < 3 THEN [text] ELSE list_transform(range(1, len(tk) - 1),
         |i -> array_to_string(tk[i:i+2], ' ')) END, s -> ${dhash("s")})) AS term FROM tok),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM sh GROUP BY 1, 2),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 1000),
         |w AS (SELECT tf.doc_id, tf.term,
         |tf.tf * ln((SELECT count(*) FROM documents) / CAST(dfx.df AS DOUBLE)) AS w
         |FROM tf JOIN dfx USING (term)),
         |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
         |dt AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
         |FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
         |FROM dt JOIN nrm na ON dt.id_a = na.doc_id JOIN nrm nb ON dt.id_b = nb.doc_id
         |WHERE na.nrm > 0 AND nb.nrm > 0
         |AND dot / (na.nrm * nb.nrm) >= 0.3 ORDER BY id_a, id_b""".stripMargin)),

    // Language-ID by marker-token voting. One split per row: the token
    // array is bound once, every score_* is computed from it once, and the
    // argmax reads the BOUND score columns (languageId over raw text would
    // re-derive all five scores inside the argmax — Catalyst does not
    // de-duplicate the non-cheap HOF counts across the two call sites).
    Q("q30_lang_id", (s, dir) => {
      val markers = SparkEntry.langMarkers
      val langs = markers.keys.toSeq.sorted
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextAnalysis.tokens(col("text")).as("_tk"))
      val scored = TextAnalysis.languageScoresOver(col("_tk"), markers)
        .foldLeft(d) { case (df, (l, c)) => df.withColumn(s"score_$l", c) }
      scored.select(
        col("doc_id") +: col("lang") +:
          langs.map(l => col(s"score_$l")) :+
          TextAnalysis.languageIdFromScores(langs.map(l => l -> col(s"score_$l")))
            .as("predicted"): _*)
        .orderBy("doc_id")
    }, Oracle {
      val m = langMarkers
      val scores = m.keys.toSeq.sorted
        .map(l => s"${dLangScore(m(l))} AS score_$l").mkString(", ")
      s"""WITH s AS (SELECT doc_id, lang, $scores FROM documents)
         |SELECT doc_id, lang, score_de, score_en, score_es, score_fr, score_zh,
         |CASE
         |WHEN score_zh >= score_fr AND score_zh >= score_es AND score_zh >= score_en AND score_zh >= score_de THEN 'zh'
         |WHEN score_fr >= score_es AND score_fr >= score_en AND score_fr >= score_de THEN 'fr'
         |WHEN score_es >= score_en AND score_es >= score_de THEN 'es'
         |WHEN score_en >= score_de THEN 'en'
         |ELSE 'de' END AS predicted
         |FROM s ORDER BY doc_id""".stripMargin
    }),

    // TF-IDF top terms per document (explode -> tf -> df -> rank window).
    Q("q41_tfidf", (s, dir) => {
      TextAnalysis.tfidfTopK(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    }, Oracle(
      """WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM
        |(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY 1, 2),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.term,
        |round(tf.tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / dfx.df), 6) AS score
        |FROM tf JOIN dfx ON tf.term = dfx.term),
        |r AS (SELECT doc_id, term, score,
        |row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // Corpus bigram frequency table, top-5 per language.
    Q("q42_ngram_top", (s, dir) => {
      TextAnalysis.topNgrams(Tables.documents(s, dir), "lang", "text", 2, 5)
        .select(col("lang"), col("rank"), col("ngram"), col("n_occur"))
        .orderBy("lang", "rank")
    }, Oracle(
      """WITH tk AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
        |ng AS (SELECT lang, unnest(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
        |ELSE list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' ')) END) AS ngram FROM tk),
        |c AS (SELECT lang, ngram, count(*) AS n_occur FROM ng GROUP BY 1, 2),
        |r AS (SELECT lang, ngram, n_occur,
        |row_number() OVER (PARTITION BY lang ORDER BY n_occur DESC, ngram) AS rank FROM c)
        |SELECT lang, CAST(rank AS INTEGER) AS rank, ngram, n_occur
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin)),

    // Sketch-path heavy hitters (Spark 4 native approx_top_k frequent-items
    // sketch): per-group state bounded by maxItemsTracked, map-side
    // combinable — the 100-TB twin of q42's exact table. HASH-CHECKED, not
    // rows-only: the frequent-items sketch provably degenerates to exact
    // counts whenever the per-group vocabulary fits the tracked capacity
    // (31 distinct tokens per lang in this corpus vs 10000 tracked —
    // SketchParitySpec pins the degeneration property itself), so the
    // exact top-10 per lang IS the oracle at every SF the gate runs.
    Q("q80_heavy_hitters", (s, dir) => {
      TextAnalysis.heavyHitterTokens(Tables.documents(s, dir), "lang", "text", 10)
        .orderBy("lang", "rank")
    }, Oracle(
      // Valid as an EXACT oracle because the per-lang vocabulary (31) is far
      // below the sketch's tracked capacity (10000): approx_top_k never
      // evicts, so every estimate is the true count — the degeneration
      // property SketchParitySpec pins. A corpus regeneration with a real
      // vocabulary would surface here as a hash mismatch, which is the
      // correct loud failure (the oracle's validity premise broke).
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT lang, token, count(*) AS est_occur FROM t GROUP BY 1, 2),
        |r AS (SELECT lang, token, est_occur,
        |row_number() OVER (PARTITION BY lang ORDER BY est_occur DESC, token) AS rank FROM c)
        |SELECT lang, CAST(rank AS INTEGER) AS rank, token, est_occur
        |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin)),

    // Generator surface: positional token explode (posexplode).
    Q("q51_explode_tokens", (s, dir) => {
      Tables.documents(s, dir).where(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("token"))
        .orderBy("doc_id", "pos")
    }, Oracle(
      """SELECT doc_id, CAST(i AS INTEGER) AS pos, string_split(text, ' ')[i] AS token
        |FROM documents, unnest(range(1, len(string_split(text, ' ')) + 1)) AS r(i)
        |WHERE doc_id < 50 ORDER BY doc_id, pos""".stripMargin)),

    // LLM sequence packing: consecutive docs bucketed by running token
    // count against a 512-token budget (distributed prefix sum, no
    // single-partition window). A pack can overshoot the budget by up to
    // one doc's tokens (see Batching.weightBudgetChunkId's bound) — cap-
    // sensitive callers budget for 512 + maxDocTokens - 1.
    Q("q63_seq_pack", (s, dir) => {
      Batching.weightBudgetChunkId(
        Tables.documents(s, dir).select("doc_id", "text"),
        Seq("doc_id"), 512, TextAnalysis.tokenCount(col("text")), out = "pack_id")
        .withColumn("w", TextAnalysis.tokenCount(col("text")).cast("long"))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("total_tokens"))
        .orderBy("pack_id")
    }, Oracle(
      """WITH x AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS w FROM documents),
        |c AS (SELECT greatest(CAST(floor((sum(w) OVER (ORDER BY doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) / 512.0) AS BIGINT), 0) AS pack_id, w FROM x)
        |SELECT pack_id, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS total_tokens
        |FROM c GROUP BY pack_id ORDER BY pack_id""".stripMargin)),

    // Token statistics per language bucket.
    Q("q33_token_stats", (s, dir) => {
      val t = col("text")
      Tables.documents(s, dir)
        .select(col("lang"), TextAnalysis.tokenCount(t).as("n_tok"), col("n_chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("total_tokens"),
          round(avg(col("n_tok").cast("double")), 6).as("avg_tokens"),
          round(avg(col("n_chars").cast("double")), 6).as("avg_chars"))
        .orderBy("lang")
    }, Oracle(
      """SELECT lang, count(*) AS n_docs,
        |CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens,
        |round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Real-text tokenization (regex whitespace runs + punctuation-immune
    // word extraction) over deliberately messy text — multi-space, tabs-
    // equivalent runs, punctuation, leading/trailing whitespace.
    Q("q73_tokenize", (s, dir) => {
      val messy = Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("  ("), col("text"), lit(")...  end!!  ")).as("t"))
      messy.select(col("doc_id"),
        size(TextAnalysis.tokensWs(col("t"))).as("n_ws"),
        size(TextAnalysis.wordTokens(col("t"))).as("n_words"),
        get(TextAnalysis.wordTokens(col("t")), lit(0)).as("first_word"))
        .orderBy("doc_id")
    }, Oracle(
      """WITH m AS (SELECT doc_id, concat('  (', text, ')...  end!!  ') AS t FROM documents)
        |SELECT doc_id,
        |CAST(len(list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '')) AS INTEGER) AS n_ws,
        |CAST(len(regexp_extract_all(t, '[A-Za-z0-9]+')) AS INTEGER) AS n_words,
        |regexp_extract_all(t, '[A-Za-z0-9]+')[1] AS first_word
        |FROM m ORDER BY doc_id""".stripMargin)),

    // LLM block packing with cross-document spillover: docs laid end-to-
    // end (EOS-separated) and cut into fixed 512-token blocks — the
    // pretraining layout where a doc straddles block boundaries (q63 is
    // the never-split whole-doc twin). Per-block rollup bounds the output.
    Q("q92_block_pack", (s, dir) => {
      Batching.blockPack(Tables.documents(s, dir).select("doc_id", "text"),
        Seq("doc_id"), 512, TextAnalysis.tokenCount(col("text")))
        .groupBy("block_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          min("doc_id").as("first_doc"))
        .orderBy("block_id")
    }, Oracle(
      """WITH t AS (SELECT doc_id, greatest(CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT), 0) + 1 AS n FROM documents),
        |c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e FROM t),
        |b AS (SELECT doc_id, n, e - n AS s, e FROM c),
        |x AS (SELECT doc_id, i AS block_id,
        |  least(e, (i + 1) * 512) - greatest(s, i * 512) AS n_tokens
        |  FROM b, unnest(range(CAST(floor(s / 512.0) AS BIGINT),
        |    CAST(floor((e - 1) / 512.0) AS BIGINT) + 1)) AS r(i))
        |SELECT block_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc
        |FROM x GROUP BY block_id ORDER BY block_id""".stripMargin)),

    // Vocabulary induction + OOV coverage: top-20 words by corpus
    // frequency (the synthetic corpus has 31 types, so the cut is real),
    // then each document's out-of-vocab rate — the pre-tokenizer
    // diagnostic for vocab sizing.
    Q("q95_vocab_coverage", (s, dir) => {
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), "doc_id", "text", 20)
        .orderBy("doc_id")
    }, Oracle(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |vocab AS (SELECT w FROM cnt ORDER BY c DESC, w LIMIT 20),
        |j AS (SELECT t.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
        |FROM tok t LEFT JOIN vocab v ON t.w = v.w)
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
        |round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Character-trigram LM quality score (CCNet-style perplexity proxy):
    // corpus-fit smoothed trigram log-probs, averaged per document.
    Q("q99_char_lm", (s, dir) => {
      TextAnalysis.charTrigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Oracle(
      // context counts derive from the trigram table (sum over 2-char
      // prefixes), mirroring charTrigramLogProb exactly; k = 0.5
      """WITH tri AS (SELECT doc_id, substr(text, i, 3) AS g
        |FROM documents, unnest(range(1, greatest(len(text) - 2, 0) + 1)) AS r(i)),
        |c3 AS (SELECT g, count(*) AS c FROM tri GROUP BY g),
        |c2 AS (SELECT substr(g, 1, 2) AS p, sum(c) AS cp FROM c3 GROUP BY 1),
        |v AS (SELECT count(DISTINCT substr(g, 3, 1)) AS nv FROM c3),
        |s AS (SELECT t.doc_id, ln((c3.c + 0.5) / (c2.cp + 0.5 * v.nv)) AS lp
        |FROM tri t JOIN c3 ON t.g = c3.g JOIN c2 ON substr(t.g, 1, 2) = c2.p CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_tri, round(avg(lp), 6) AS avg_logp
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Length-bucketed inference batching: sort by token count, cut into
    // 64-doc batches, report per-batch padding waste — the dynamic-
    // batching shape transformer serving uses (near-equal lengths per
    // batch collapse the n_rows x max_len padding cost).
    Q("q109_length_batching", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).as("n_tok"))
      Batching.paddedBatchStats(d, "doc_id", "n_tok", 64)
        .orderBy("batch_id")
    }, Oracle(
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
        |r AS (SELECT doc_id, len,
        |  row_number() OVER (ORDER BY len, doc_id) - 1 AS idx FROM t),
        |b AS (SELECT CAST(floor(idx / 64.0) AS BIGINT) AS batch_id, doc_id, len FROM r)
        |SELECT batch_id, count(*) AS n_rows, max(len) AS max_len,
        |  CAST(sum(len) AS BIGINT) AS sum_len,
        |  round(CASE WHEN max(len) > 0
        |    THEN 1.0 - (sum(len) * 1.0) / (count(*) * max(len)) ELSE 0.0 END, 6)
        |    AS padding_frac,
        |  min(doc_id) AS first_id
        |FROM b GROUP BY batch_id ORDER BY batch_id""".stripMargin)),

    // CCNet-style perplexity bucketing: char-LM score per doc, then split
    // each language into head/middle/tail terciles by score (bucket 1 =
    // best-scoring third — the slice CCNet keeps for pretraining). Exact
    // ntile is the oracle-able report form; at extreme scale swap the
    // per-lang window for q71-style GK-sketch score thresholds (fit
    // boundaries, broadcast, bucket by compare — the q68/q71 twin
    // precedent) since an exact tercile needs a per-lang sort.
    Q("q113_ppl_buckets", (s, dir) => {
      val d = Tables.documents(s, dir)
      val scored = TextAnalysis.charTrigramLogProb(d, "doc_id", "text")
        .join(d.select("doc_id", "lang"), "doc_id")
      val w = Window.partitionBy("lang").orderBy(col("avg_logp").desc, col("doc_id"))
      scored.withColumn("bucket", ntile(3).over(w).cast("long"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(min("avg_logp"), 6).as("min_logp"),
          round(max("avg_logp"), 6).as("max_logp"),
          min("doc_id").as("first_doc"))
        .orderBy("lang", "bucket")
    }, Oracle(
      // q99's scoring CTEs verbatim, rounded per doc the way the operator
      // rounds, then per-lang ntile(3) on (score DESC, doc_id)
      """WITH tri AS (SELECT doc_id, substr(text, i, 3) AS g
        |FROM documents, unnest(range(1, greatest(len(text) - 2, 0) + 1)) AS r(i)),
        |c3 AS (SELECT g, count(*) AS c FROM tri GROUP BY g),
        |c2 AS (SELECT substr(g, 1, 2) AS p, sum(c) AS cp FROM c3 GROUP BY 1),
        |v AS (SELECT count(DISTINCT substr(g, 3, 1)) AS nv FROM c3),
        |s AS (SELECT t.doc_id, ln((c3.c + 0.5) / (c2.cp + 0.5 * v.nv)) AS lp
        |FROM tri t JOIN c3 ON t.g = c3.g JOIN c2 ON substr(t.g, 1, 2) = c2.p CROSS JOIN v),
        |sc AS (SELECT doc_id, round(avg(lp), 6) AS avg_logp FROM s GROUP BY doc_id),
        |j AS (SELECT d.lang, sc.doc_id, sc.avg_logp FROM sc JOIN documents d USING (doc_id)),
        |b AS (SELECT lang, doc_id, avg_logp,
        |  ntile(3) OVER (PARTITION BY lang ORDER BY avg_logp DESC, doc_id) AS bucket FROM j)
        |SELECT lang, bucket, count(*) AS n_docs,
        |  round(min(avg_logp), 6) AS min_logp, round(max(avg_logp), 6) AS max_logp,
        |  min(doc_id) AS first_doc
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin)),

    // RAG chunking: 32-token chunks with 8-token overlap (stride 24) on
    // the fixed arithmetic grid — 128-token docs emit 5 chunks, the last
    // truncated at the document end. Zero-shuffle explode.
    Q("q118_rag_chunks", (s, dir) => {
      TextAnalysis.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 32, overlapTokens = 8)
        .orderBy("doc_id", "chunk_id")
    }, Oracle(
      // Same chunk-count arithmetic and inclusive-slice grid as chunkDocs:
      // starts at i*stride+1, width chunkTokens, tail truncates.
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |n AS (SELECT doc_id, tk, len(tk) AS n,
        |  CASE WHEN len(tk) <= 32 THEN 1
        |       ELSE CAST(ceil((len(tk) - 32) / 24.0) AS BIGINT) + 1 END AS nc
        |  FROM t0),
        |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        |    CAST(least(32, n - i * 24) AS BIGINT) AS n_tokens,
        |    array_to_string(tk[i*24+1 : i*24+32], ' ') AS chunk_text
        |  FROM n, unnest(range(0, nc)) AS r(i))
        |SELECT doc_id, chunk_id, n_tokens, chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // Budget-capped selection: best-quality docs first (q31's score, ties
    // by doc_id) until a 15k-token budget fills. Exact greedy prefix via
    // the distributed two-phase prefix sum — no single-partition window.
    Q("q120_token_budget", (s, dir) => {
      val t = col("text")
      val d = Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(t).as("quality"))
      Stats.selectByBudget(d, Seq(col("quality").desc, col("doc_id").asc),
        "n_tokens", budget = 15000L, out = "cum_tokens")
        .orderBy("doc_id")
    }, Oracle(
      // q31's quality expression verbatim; the budget cut is the inclusive
      // running-total filter selectByBudget mirrors distributedly.
      """WITH t AS (SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
        |length(text) AS n_chars FROM documents),
        |d AS (SELECT doc_id, n_tokens,
        |round((CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5 +
        |(CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.5 END) * 0.25 +
        |(CASE WHEN (CAST(n_chars AS DOUBLE) - (n_tokens - 1)) / n_tokens >= 3
        |AND (CAST(n_chars AS DOUBLE) - (n_tokens - 1)) / n_tokens <= 10 THEN 1.0 ELSE 0.5 END) * 0.25, 6) AS quality
        |FROM t),
        |c AS (SELECT doc_id, n_tokens, quality,
        |CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |FROM d)
        |SELECT doc_id, n_tokens, quality, cum_tokens
        |FROM c WHERE cum_tokens <= 15000 ORDER BY doc_id""".stripMargin)),

    // Per-language Zipf fit — the corpus-health metric (natural language
    // sits near slope -1; template/boilerplate corpora flatten, spam
    // steepens): token frequencies ranked within language, then
    // log-log least squares via one-pass regr_slope/regr_r2. The rank
    // window partitions by lang over the DISTINCT token set — bounded by
    // |vocabulary| like the E1 label-code window, never corpus-sized.
    Q("q129_zipf_slope", (s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      val freq = tok.groupBy("lang", "tok").agg(count(lit(1)).as("freq"))
      val ranked = freq.withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(col("freq").desc, col("tok"))))
      ranked.groupBy("lang").agg(
        count(lit(1)).as("n_types"),
        round(expr("regr_slope(ln(freq), ln(rank))"), 6).as("zipf_slope"),
        round(expr("regr_r2(ln(freq), ln(rank))"), 6).as("fit_r2"))
        .orderBy("lang")
    }, Oracle(
      // same rank-within-lang + log-log regression; regr_slope/regr_r2
      // take (y, x) in both engines
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT lang, tok, count(*) AS freq FROM t GROUP BY lang, tok),
        |r AS (SELECT lang, freq,
        |  row_number() OVER (PARTITION BY lang ORDER BY freq DESC, tok) AS rank FROM f)
        |SELECT lang, count(*) AS n_types,
        |  round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
        |  round(regr_r2(ln(freq), ln(rank)), 6) AS fit_r2
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    // Word-bigram stupid-backoff LM (the KenLM-class tier above q99's
    // char model), CCNet-shaped: fit bigram/unigram tables on the even-id
    // REFERENCE slice, score every document — odd docs exercise the
    // backoff arm with genuinely unseen bigrams, and backoff_frac is the
    // out-of-domain signal.
    Q("q131_word_lm", (s, dir) => {
      TextAnalysis.wordBigramLogProb(Tables.documents(s, dir), "doc_id", "text",
        fitPred = col("doc_id") % 2 === 0)
        .orderBy("doc_id")
    }, Oracle(
      // same fit-on-even-slice bigram/unigram tables; seen bigrams score
      // the conditional, unseen ones the add-0.5-smoothed unigram backoff
      // with alpha = 0.4 — term-for-term with wordBigramLogProb (word
      // tokens mirror q73's regexp_extract_all)
      """WITH d AS (SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+') AS tk,
        |  doc_id % 2 = 0 AS fit FROM documents),
        |bg AS (SELECT doc_id, fit, unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS g FROM d),
        |un AS (SELECT doc_id, fit, unnest(tk) AS w FROM d),
        |c1 AS (SELECT w, count(*) AS c1 FROM un WHERE fit GROUP BY w),
        |c2 AS (SELECT g, count(*) AS c2 FROM bg WHERE fit GROUP BY g),
        |nv AS (SELECT CAST(sum(c1) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM c1),
        |s AS (SELECT b.doc_id,
        |  CASE WHEN c2.c2 IS NOT NULL THEN ln(c2.c2 / k1.c1)
        |       ELSE ln(0.4 * (coalesce(k2.c1, 0) + 0.5) / (nv.n + 0.5 * nv.v)) END AS lp,
        |  CASE WHEN c2.c2 IS NULL THEN 1.0 ELSE 0.0 END AS bf
        |  FROM bg b LEFT JOIN c2 ON b.g = c2.g
        |  LEFT JOIN c1 k1 ON split_part(b.g, ' ', 1) = k1.w
        |  LEFT JOIN c1 k2 ON split_part(b.g, ' ', 2) = k2.w
        |  CROSS JOIN nv)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logp,
        |  round(avg(bf), 6) AS backoff_frac
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // BPE iteration 0: frequency-weighted adjacent char-pair counts — the
    // what-would-a-tokenizer-learn corpus profile; top pair = BPE's first
    // merge. Vocabulary-sized after the one corpus explode.
    Q("q135_bpe_pairs", (s, dir) => {
      TextAnalysis.bpePairStats(Tables.documents(s, dir), "text", topK = 50)
        .orderBy(col("n").desc, col("pair").asc)
    }, Oracle(
      // same word-frequency weighting; ties inside the top-50 cut break by
      // pair ascending in both engines
      """WITH t AS (SELECT unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS w FROM documents),
        |wf AS (SELECT w, count(*) AS f FROM t GROUP BY w),
        |p AS (SELECT f, unnest(CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(w)), i -> substr(w, i, 2)) END) AS pair FROM wf)
        |SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin)),

    // Full BPE merge-table training, 20 rounds — the Sennrich et al.
    // iterative fit (argmax pair -> greedy merge, repeat), run on the
    // driver over one collected word-type table: rows-only check; the
    // merge recurrence is pinned against the paper's worked example in
    // TextAnalysisSpec.
    Q("q136_bpe_merges", (s, dir) => {
      TextAnalysis.trainBpeMerges(Tables.documents(s, dir), "text", nMerges = 20)
        .orderBy("rank")
    }, RowsOnly.DriverLoopFit),

    // Tokenizer APPLY — q136's downstream stage: a FIXED merge table
    // (corpus-derived, in training order) encoded over every document.
    // Per doc: word count, subtoken count, fertility (subtokens/word) —
    // the does-this-tokenizer-fit-this-corpus diagnostic. The table is
    // passed as data, keeping the apply stage oracle-expressible where
    // the iterative training fit (q136) is rows-only.
    Q("q140_bpe_encode", (s, dir) => {
      TextAnalysis.bpeEncodeStats(Tables.documents(s, dir), "doc_id", "text",
          BpeApplyMerges)
        .orderBy("doc_id")
    }, Oracle {
      // the same wrapped-symbol '(a)(b)' replace chain over the DISTINCT
      // word set (merges in table order, all-occurrence replace == the
      // fold, see bpeEncodeStats); subtokens = '(' count of the encoding
      val enc = BpeApplyMerges.foldLeft(
        "'(' || array_to_string(string_split(w, ''), ')(') || ')'") {
        case (acc, (a, b)) => s"replace($acc, '($a)($b)', '($a$b)')"
      }
      s"""WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS w
         |  FROM documents),
         |we AS (SELECT w, $enc AS enc FROM (SELECT DISTINCT w FROM tk)),
         |ws AS (SELECT w, len(enc) - len(replace(enc, '(', '')) AS ns FROM we)
         |SELECT doc_id, count(*) AS n_words, CAST(sum(ns) AS BIGINT) AS n_subtokens,
         |  round(CAST(sum(ns) AS DOUBLE) / count(*), 6) AS subtokens_per_word
         |FROM tk JOIN ws USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // Unicode NFC audit: seed decomposed sequences (e + combining acute,
    // u + combining diaeresis) into %3==0 docs, then report which docs
    // the canonical composition actually changes and the code-point
    // shrink — the defensive pre-pass every exact-dedup/tokenize stage
    // needs (decomposed vs precomposed text silently splits fingerprints).
    Q("q149_nfc_audit", (s, dir) => {
      import graft.functions.GraftFunctions.nfc_normalize
      // combining marks as explicit escapes (e+U+0301, u+U+0308): the
      // oracle seeds chr(769)/chr(776) DECOMPOSED — a raw "caf\u00e9"-looking
      // literal would be silently NFC'd by an editor/formatter/git filter
      val raw = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" cafe\u0301 u\u0308"))
          .otherwise(lit("")))
      Tables.documents(s, dir)
        .select(col("doc_id"), raw.as("_raw"), nfc_normalize(raw).as("_nfc"))
        .select(col("doc_id"),
          (col("_raw") =!= col("_nfc")).as("changed"),
          length(col("_raw")).cast("long").as("len_raw"),
          length(col("_nfc")).cast("long").as("len_nfc"))
        .orderBy("doc_id")
    }, Oracle(
      // same seeded combining marks (chr(769)/chr(776)); DuckDB's
      // nfc_normalize is utf8proc's UAX #15 — the same canonical
      // composition java.text.Normalizer implements
      """WITH c AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) || ' u' || chr(776) ELSE '' END AS raw
        |  FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM c)
        |SELECT doc_id, raw != nfc AS changed,
        |  CAST(len(raw) AS BIGINT) AS len_raw, CAST(len(nfc) AS BIGINT) AS len_nfc
        |FROM n ORDER BY doc_id""".stripMargin)),

    // Character-entropy filter: near-zero entropy = repeated-char junk
    // that word-level Gopher checks can miss; implausibly high = binary
    // noise posing as text. The bracket verdicts on the rounded value.
    Q("q150_char_entropy", (s, dir) => {
      TextAnalysis.charEntropy(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Oracle(
      // same histogram fold over the doc's own char list; the bracket
      // compares the 6-dp-rounded entropy (engine-reproducible boundary)
      """WITH s AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
        |e AS (SELECT doc_id, len(cs) AS n, list_distinct(cs) AS dc, cs FROM s),
        |h AS (SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |  CAST(len(dc) AS BIGINT) AS n_distinct_chars,
        |  round(ln(n) - list_sum(list_transform(dc, c ->
        |    len(list_filter(cs, x -> x = c)) *
        |    ln(len(list_filter(cs, x -> x = c))))) / n, 6) AS entropy
        |  FROM e)
        |SELECT doc_id, n_chars, n_distinct_chars, entropy,
        |  entropy >= 2.0 AND entropy <= 5.0 AS keep
        |FROM h ORDER BY doc_id""".stripMargin)),

    // ICT retrieval pairs (ORQA recipe): a hash-seeded line becomes the
    // pseudo-query, the remaining lines its positive context — the self-
    // supervised pair generator dense retrievers pretrain on. Runs over
    // the line-synthesized corpus; deterministic at seed 77.
    Q("q157_ict_pairs", (s, dir) => {
      TextAnalysis.ictPairs(
          synthesizeLines(Tables.documents(s, dir), withPunct = false),
          "doc_id", "text", seed = 77L)
        .orderBy("doc_id")
    }, Oracle(
      // dLineSynth's lines; the query line is dmix('77:'||id) % n_lines
      // (mixHash's mirror), context = the other lines in order
      s"""WITH ${dLineSynth(withPunct = false)},
         |p AS (SELECT doc_id, ln,
         |  (${dmix("'77:' || CAST(doc_id AS VARCHAR)")}) % len(ln) AS qi
         |  FROM t1 WHERE len(ln) >= 2)
         |SELECT doc_id, CAST(qi AS BIGINT) AS query_line_idx, ln[qi + 1] AS query,
         |  array_to_string(list_transform(list_filter(range(1, len(ln) + 1),
         |    i -> i != qi + 1), i -> ln[i]), chr(10)) AS context
         |FROM p ORDER BY doc_id""".stripMargin)),

    // Flesch reading ease over the sentence-synthesized corpus (lines
    // rejoined as '. '-terminated sentences): 206.835 − 1.015·(W/S) −
    // 84.6·(Syl/W), syllables = vowel-group runs (min 1/word) — the
    // classic readability score quality pipelines report per source.
    Q("q162_readability", (s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      val t2 = concat(replace(col("text"), lit("\n"), lit(". ")), lit("."))
      val d = lined.select(col("doc_id"), t2.as("_t2"),
        TextAnalysis.wordTokens(t2).as("_w"))
      val nw = size(col("_w")).cast("long")
      val ns = size(filter(split(col("_t2"), "\\."), x => trim(x) =!= ""))
        .cast("long")
      val syl = aggregate(col("_w"), lit(0L), (acc, w) =>
        acc + greatest(lit(1),
          size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))))
          .cast("long"))
      d.select(col("doc_id"), ns.as("n_sentences"), nw.as("n_words"),
          syl.as("n_syllables"))
        .withColumn("flesch", round(
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")), 6))
        .orderBy("doc_id")
    }, Oracle(
      // dLineSynth's lines rejoined as sentences; identical syllable
      // regex and left-associated Flesch arithmetic
      s"""WITH ${dLineSynth(withPunct = false)},
         |d AS (SELECT doc_id, array_to_string(ln, '. ') || '.' AS t2 FROM t1),
         |w AS (SELECT doc_id, t2, regexp_extract_all(t2, '[A-Za-z0-9]+') AS ws FROM d),
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split(t2, '.'), x -> trim(x) != '')) AS BIGINT) AS n_sentences,
         |  CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(ws, x ->
         |    greatest(1, len(regexp_extract_all(lower(x), '[aeiouy]+'))))) AS BIGINT) AS n_syllables
         |  FROM w)
         |SELECT doc_id, n_sentences, n_words, n_syllables,
         |  round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
         |    - 84.6 * (n_syllables * 1.0 / n_words), 6) AS flesch
         |FROM m ORDER BY doc_id""".stripMargin)),

    // Language-ID confusion matrix: q30's marker classifier rolled up
    // against the true lang label — per (true, predicted) populations and
    // row fractions, the eval every lang-ID stage publishes.
    Q("q163_langid_confusion", (s, dir) => {
      val markers = SparkEntry.langMarkers
      val langs = markers.keys.toSeq.sorted
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextAnalysis.tokens(col("text")).as("_tk"))
      val scored = TextAnalysis.languageScoresOver(col("_tk"), markers)
        .foldLeft(d) { case (df, (l, c)) => df.withColumn(s"score_$l", c) }
      scored.withColumn("predicted",
          TextAnalysis.languageIdFromScores(langs.map(l => l -> col(s"score_$l"))))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("row_frac", round(col("n_docs").cast("double") /
          sum("n_docs").over(Window.partitionBy("lang")), 6))
        .orderBy("lang", "predicted")
    }, Oracle {
      // q30's score + argmax CASE verbatim, rolled up by (true, predicted)
      val m = langMarkers
      val scores = m.keys.toSeq.sorted
        .map(l => s"${dLangScore(m(l))} AS score_$l").mkString(", ")
      s"""WITH s AS (SELECT doc_id, lang, $scores FROM documents),
         |p AS (SELECT lang, CASE
         |WHEN score_zh >= score_fr AND score_zh >= score_es AND score_zh >= score_en AND score_zh >= score_de THEN 'zh'
         |WHEN score_fr >= score_es AND score_fr >= score_en AND score_fr >= score_de THEN 'fr'
         |WHEN score_es >= score_en AND score_es >= score_de THEN 'es'
         |WHEN score_en >= score_de THEN 'en'
         |ELSE 'de' END AS predicted FROM s),
         |g AS (SELECT lang, predicted, count(*) AS n_docs FROM p GROUP BY 1, 2)
         |SELECT lang, predicted, n_docs,
         |  round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang), 6) AS row_frac
         |FROM g ORDER BY lang, predicted""".stripMargin
    }),

    // TRAINED language ID, evaluated exactly like the heuristic (q163):
    // trigram profiles fit on the even-id labeled slice of the
    // language-seeded corpus (langSeedSuffix — the raw synthetic text
    // carries no language signal at all), held-out odd-id confusion
    // matrix. TextAnalysisSpec pins that the trained diagonal strictly
    // dominates the q30 marker heuristic on this same corpus.
    Q("q167_trained_langid", (s, dir) => {
      val seeded = Tables.documents(s, dir)
        .withColumn("text", concat(col("text"), langSeedSuffix))
      TextAnalysis.trigramLangId(seeded, "doc_id", "text",
          "lang", fitPred = col("doc_id") % 2 === 0)
        .where(col("doc_id") % 2 === 1)
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("row_frac", round(col("n_docs").cast("double") /
          sum("n_docs").over(Window.partitionBy("lang")), 6))
        .orderBy("lang", "predicted")
    }, Oracle(
      // same fit-on-even-slice trigram profiles, add-0.5 smoothing over
      // the shared fit vocabulary, per-language unseen floor, 6-dp score
      // rounding BEFORE the (score desc, lang asc) argmax — term-for-term
      // with TextAnalysis.trigramLangId
      """WITH seeded AS (SELECT doc_id, lang, text ||
        |  CASE WHEN doc_id % 7 = 3 THEN ''
        |       WHEN lang = 'de' THEN ' und der nicht das ist ein'
        |       WHEN lang = 'fr' THEN ' et le ne pas est une'
        |       WHEN lang = 'es' THEN ' y el no es que una'
        |       WHEN lang = 'zh' THEN ' \u7684 \u662f \u4e0d \u4e86 \u5728'
        |       ELSE ' the and was of is not' END AS text FROM documents),
        |d AS (SELECT doc_id, lang, lower(text) AS t, doc_id % 2 = 0 AS fit FROM seeded),
        |tri AS (SELECT doc_id, lang, fit, unnest(CASE WHEN length(t) < 3 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, length(t) - 1), i -> substr(t, i, 3)) END) AS g FROM d),
        |c AS (SELECT lang AS plang, g, count(*) AS c FROM tri WHERE fit GROUP BY 1, 2),
        |tot AS (SELECT plang, CAST(sum(c) AS DOUBLE) AS tot FROM c GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT g) AS DOUBLE) AS v FROM c),
        |prof AS (SELECT g, plang, ln((c + 0.5) / (tot + 0.5 * v)) AS lp
        |  FROM c JOIN tot USING (plang) CROSS JOIN v),
        |fl AS (SELECT plang, ln(0.5 / (tot + 0.5 * v)) AS fl FROM tot CROSS JOIN v),
        |dt AS (SELECT doc_id, lang, count(*) AS n FROM tri GROUP BY 1, 2),
        |seen AS (SELECT t.doc_id, p.plang, count(*) AS ns, sum(p.lp) AS lps
        |  FROM tri t JOIN prof p ON t.g = p.g GROUP BY 1, 2),
        |grid AS (SELECT dt.doc_id, dt.lang, fl.plang,
        |  round(coalesce(s.lps, 0) + (dt.n - coalesce(s.ns, 0)) * fl.fl, 6) AS score
        |  FROM dt CROSS JOIN fl
        |  LEFT JOIN seen s ON s.doc_id = dt.doc_id AND s.plang = fl.plang),
        |pred AS (SELECT doc_id, lang, plang AS predicted,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn FROM grid),
        |g2 AS (SELECT lang, predicted, count(*) AS n_docs FROM pred
        |  WHERE rn = 1 AND doc_id % 2 = 1 GROUP BY 1, 2)
        |SELECT lang, predicted, n_docs,
        |  round(n_docs * 1.0 / sum(n_docs) OVER (PARTITION BY lang), 6) AS row_frac
        |FROM g2 ORDER BY lang, predicted""".stripMargin)),

    // Per-language adaptive quantile gate (CCNet/Dolma): each doc must
    // clear its OWN language's p25 of n_chars — keep RATE uniform across
    // languages where a global threshold would gut the slices whose
    // length distribution sits lower.
    Q("q170_lang_quantile_gate", (s, dir) => {
      Quality.perGroupQuantileFilter(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("lang"), col("n_chars")),
          "n_chars", Seq("lang"), p = 0.25)
        .orderBy("doc_id")
    }, Oracle(
      // exact percentile: Spark `percentile` and DuckDB `quantile_cont`
      // are both linear-interpolation, bit-identical (q61's contract);
      // keep compares against the ROUNDED threshold
      """WITH f AS (SELECT lang, round(quantile_cont(n_chars, 0.25), 6) AS threshold
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, lang, n_chars, threshold, n_chars >= threshold AS keep
        |FROM documents JOIN f USING (lang)
        |ORDER BY doc_id""".stripMargin)),

    // BM25 lexical retrieval: queries = first-4-token prefixes of docs
    // 0..9, top-5 per query over the corpus — the lexical arm beside the
    // dense ANN stack (RRF fuses the two for hybrid retrieval).
    Q("q172_bm25", (s, dir) => {
      val d = Tables.documents(s, dir)
      val queries = d.where(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 4)).as("qtext"))
      TextAnalysis.bm25TopK(d, "doc_id", "text", queries, "query_id", "qtext",
          k = 5)
        .orderBy("query_id", "rank")
    }, Oracle(
      // same tf/df/dl/avgdl fits, Lucene idf, identical fold order in the
      // per-term score; rank on the 6-dp ROUNDED sum (ties by doc id) —
      // the operator's documented determinism contract
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[A-Za-z0-9]+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |ad AS (SELECT avg(dl) AS avgdl FROM dl),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |q AS (SELECT doc_id AS query_id,
        |  array_to_string(list_slice(string_split(text, ' '), 1, 4), ' ') AS qtext
        |  FROM documents WHERE doc_id < 10),
        |qt AS (SELECT query_id,
        |  unnest(list_distinct(regexp_extract_all(lower(qtext), '[A-Za-z0-9]+'))) AS term FROM q),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |m AS (SELECT qt.query_id, tf.doc_id, tf.tf, dfq.df, dl.dl
        |  FROM qt JOIN tf USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id)),
        |s AS (SELECT query_id, doc_id,
        |  round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0) /
        |    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
        |  FROM m CROSS JOIN nn CROSS JOIN ad GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |  FROM s)
        |SELECT query_id, rank, doc_id, score FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)),

    // Heaps-law vocabulary-growth curve: cumulative tokens vs cumulative
    // distinct types in ingest order — "is more crawl still adding
    // vocabulary". Cumulatives ride the distributed prefix-sum, never a
    // single-partition window.
    Q("q175_vocab_growth", (s, dir) => {
      TextAnalysis.vocabGrowthCurve(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Oracle(
      // per-doc token counts + types-born-per-doc (min doc per type),
      // cumulative window sums — value-identical to the distributed
      // prefix-sum (prefixSum's documented window equivalence)
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS w FROM documents),
        |pd AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY 1),
        |fs AS (SELECT w, min(doc_id) AS doc_id FROM tok GROUP BY 1),
        |born AS (SELECT doc_id, count(*) AS n_new_types FROM fs GROUP BY 1),
        |j AS (SELECT pd.doc_id, n_tokens, coalesce(n_new_types, 0) AS n_new_types
        |  FROM pd LEFT JOIN born USING (doc_id))
        |SELECT doc_id, n_tokens, n_new_types,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(sum(n_new_types) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
        |FROM j ORDER BY doc_id""".stripMargin)),

    // Token-budget mixture plan (Llama/DoReMi-style): per-language
    // epochs/keep-rate to hit a 1M-token budget at the target mix, with
    // the >4-epoch repetition guardrail flagged per stratum.
    Q("q176_token_budget", (s, dir) => {
      Stats.tokenBudgetPlan(Tables.documents(s, dir), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long"),
          Map("en" -> 0.5, "zh" -> 0.2, "de" -> 0.1, "es" -> 0.1, "fr" -> 0.1),
          budgetTokens = 1000000L)
        .orderBy("stratum")
    }, Oracle(
      // shares normalize over the sorted-key DOUBLE sum (same fold order
      // as the operator); epochs compare at the 6-dp rounded value
      """WITH w(stratum, wt) AS (VALUES
        |  ('de', 0.1::DOUBLE), ('en', 0.5::DOUBLE), ('es', 0.1::DOUBLE),
        |  ('fr', 0.1::DOUBLE), ('zh', 0.2::DOUBLE)),
        |ws AS (SELECT 0.1::DOUBLE + 0.5::DOUBLE + 0.1::DOUBLE + 0.1::DOUBLE + 0.2::DOUBLE AS s),
        |a AS (SELECT lang AS stratum, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY 1),
        |j AS (SELECT a.stratum, avail_tokens, wt / s AS share FROM a JOIN w USING (stratum) CROSS JOIN ws),
        |e AS (SELECT stratum, avail_tokens, share,
        |  round(share * 1000000 / avail_tokens, 6) AS epochs FROM j)
        |SELECT stratum, avail_tokens, round(share, 6) AS share,
        |  CAST(round(share * 1000000, 0) AS BIGINT) AS target_tokens,
        |  epochs, round(least(1.0, epochs), 6) AS keep_rate, epochs > 4.0 AS over_cap
        |FROM e ORDER BY stratum""".stripMargin)),

    // Distinct-n diversity (synthetic-data QA): %3==0 docs play a
    // mode-collapsed generator (5 templates); its distinct-bigram ratio
    // must crater vs the human slice — the detector that fires long
    // before exact dedup sees a duplicate.
    Q("q177_distinct_ngrams", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, lit("synthetic"))
          .otherwise(lit("human")).as("src"),
        when(col("doc_id") % 3 === 0,
          concat(lit("as an ai model i think topic "),
            (col("doc_id") % 5).cast("string"),
            lit(" is interesting and worth discussing today")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.distinctNgramStats(d, col("src"), "doc_id", "text", n = 2)
        .orderBy("grp")
    }, Oracle(
      // q42's bigram list per doc, one group aggregate of total vs
      // distinct grams
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'synthetic' ELSE 'human' END AS grp,
        |  CASE WHEN doc_id % 3 = 0 THEN 'as an ai model i think topic ' ||
        |    CAST(doc_id % 5 AS VARCHAR) || ' is interesting and worth discussing today'
        |  ELSE text END AS text FROM documents),
        |tk AS (SELECT grp, doc_id, string_split(text, ' ') AS t FROM d),
        |ng AS (SELECT grp, doc_id, unnest(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' ')) END) AS g FROM tk)
        |SELECT grp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  count(*) AS n_grams, CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
        |  round(count(DISTINCT g) * 1.0 / count(*), 6) AS distinct_ratio
        |FROM ng GROUP BY grp ORDER BY grp""".stripMargin)),

    // Padding-efficiency curve: waste fraction when batching within
    // 1/2/4/8/16/32 equi-depth length buckets, padded to bucket max —
    // the measured knee-picker for the trainer's bucket count, all
    // candidates served by ONE distributed row-index sort.
    Q("q179_padding_efficiency", (s, dir) => {
      Batching.paddingEfficiency(Tables.documents(s, dir), "doc_id", "text",
          Seq(1, 2, 4, 8, 16, 32))
        .orderBy("n_buckets")
    }, Oracle(
      // same (len, id)-ordered 0-based index; bucket = floor(idx*B/n)
      // via the identical double division (values << 2^53, so floor of
      // the double equals integer division exactly)
      """WITH l AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
        |i AS (SELECT doc_id, len, row_number() OVER (ORDER BY len, doc_id) - 1 AS idx FROM l),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l),
        |b(b) AS (VALUES (1), (2), (4), (8), (16), (32)),
        |g AS (SELECT b.b, CAST(floor(idx * b.b / (n * 1.0)) AS BIGINT) AS bucket, len
        |  FROM i CROSS JOIN nn CROSS JOIN b),
        |a AS (SELECT b, bucket, max(len) AS mx, sum(len) AS s, count(*) AS c
        |  FROM g GROUP BY 1, 2)
        |SELECT CAST(b AS BIGINT) AS n_buckets,
        |  CAST(sum(s) AS BIGINT) AS real_tokens,
        |  CAST(sum(c * mx) AS BIGINT) AS padded_tokens,
        |  round(1.0 - CAST(sum(s) AS DOUBLE) / CAST(sum(c * mx) AS DOUBLE), 6) AS waste_frac
        |FROM a GROUP BY b ORDER BY n_buckets""".stripMargin)),

    // Fill-in-middle transform (code-pretraining augmentation): a
    // hash-selected half of the corpus re-emits in PSM sentinel order
    // with hash-seeded cut points — reproducible across engines and
    // retries like every sampler here.
    Q("q180_fim_transform", (s, dir) => {
      TextAnalysis.fimTransform(Tables.documents(s, dir), "doc_id", "text",
          ratePct = 50)
        .orderBy("doc_id")
    }, Oracle(
      // same hash-seeded selection and cut points (dbucket mirrors
      // Stats.hashBucket); the cut arithmetic stays inside the CASE so a
      // sub-3-token doc never divides by zero in either engine
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         |c AS (SELECT doc_id, text, tk, len(tk) AS n,
         |  (${dbucket("text", 100)}) < 50 AND len(tk) >= 3 AS sel,
         |  CASE WHEN len(tk) >= 3 THEN
         |    1 + (${dbucket("text || '#a'", 1000000)}) % (len(tk) - 1) END AS a,
         |  CASE WHEN len(tk) >= 3 THEN
         |    1 + (${dbucket("text || '#b'", 1000000)}) % (len(tk) - 1) END AS b
         |  FROM t),
         |p AS (SELECT doc_id, text, tk, n, sel,
         |  CAST(least(a, b) AS INTEGER) AS p1, CAST(greatest(a, b) AS INTEGER) AS p2 FROM c)
         |SELECT doc_id, sel AS fim_applied, CAST(n AS BIGINT) AS n_tokens,
         |  CASE WHEN sel THEN '<fim_prefix>' || coalesce(array_to_string(tk[1:p1], ' '), '') ||
         |    '<fim_suffix>' || coalesce(array_to_string(tk[p2+1:n], ' '), '') ||
         |    '<fim_middle>' || coalesce(array_to_string(tk[p1+1:p2], ' '), '')
         |  ELSE text END AS text_out
         |FROM p ORDER BY doc_id""".stripMargin)),

    // Special-token contamination audit: %9==0 docs get a literal
    // <|endoftext|> spliced in (%27==0 twice) — the tokenizer-safety /
    // prompt-injection gate; everything else must read clean.
    Q("q181_special_tokens", (s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 9 === 0,
          concat(lit("<|endoftext|> "), col("text"),
            when(col("doc_id") % 27 === 0, lit(" <|endoftext|>"))
              .otherwise(lit(""))))
          .otherwise(col("text")).as("text"))
      TextAnalysis.specialTokenAudit(seeded, "doc_id", "text",
          Seq("<|endoftext|>", "<fim_prefix>", "<|im_start|>"))
        .orderBy("doc_id")
    }, Oracle(
      // same seeding; per-token counts by exact length arithmetic
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0 THEN '<|endoftext|> ' || text ||
        |    (CASE WHEN doc_id % 27 = 0 THEN ' <|endoftext|>' ELSE '' END)
        |  ELSE text END AS text FROM documents)
        |SELECT doc_id,
        |  CAST((length(text) - length(replace(text, '<|endoftext|>', ''))) / 13
        |     + (length(text) - length(replace(text, '<fim_prefix>', ''))) / 12
        |     + (length(text) - length(replace(text, '<|im_start|>', ''))) / 12
        |    AS BIGINT) AS n_special_hits,
        |  (length(text) - length(replace(text, '<|endoftext|>', ''))) / 13
        |     + (length(text) - length(replace(text, '<fim_prefix>', ''))) / 12
        |     + (length(text) - length(replace(text, '<|im_start|>', ''))) / 12 = 0 AS clean
        |FROM d ORDER BY doc_id""".stripMargin)),

    // Unicode script profile + confusable-script (homoglyph) detection:
    // %7==0 docs get Cyrillic, %7==2 CJK, %7==6 Greek suffixes, and
    // %7==4 gets Latin words with EMBEDDED Cyrillic а/е — the
    // "pаypаl" homoglyph-spam shape that must flip confusable_mix while
    // the pure-script seeds must not. Counts are length-diffs over
    // literal BMP-range regex classes — identical arithmetic in DuckDB,
    // so the whole signal is oracle-paired (TextAnalysis.scriptProfile).
    Q("q189_script_mix", (s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" привет мир из Сети"))
            .when(col("doc_id") % 7 === 2, lit(" 你好世界网络文本"))
            .when(col("doc_id") % 7 === 4, lit(" pаypаl sеcurity аlert"))
            .when(col("doc_id") % 7 === 6, lit(" αβγ δοκιμή κείμενο"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.scriptProfile(seeded, "doc_id", "text").orderBy("doc_id")
    }, Oracle(
      // same seeds, same literal BMP-range classes, same length-diff
      // counting (RE2 handles literal-char ranges; 'g' = replace all,
      // Spark's regexp_replace default)
      """WITH seeded AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' привет мир из Сети'
        |       WHEN doc_id % 7 = 2 THEN ' 你好世界网络文本'
        |       WHEN doc_id % 7 = 4 THEN ' pаypаl sеcurity аlert'
        |       WHEN doc_id % 7 = 6 THEN ' αβγ δοκιμή κείμενο'
        |       ELSE '' END AS t FROM documents),
        |c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS BIGINT) AS latin_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS cyrillic_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[Ͱ-Ͽ]', '', 'g')) AS BIGINT) AS greek_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g')) AS BIGINT) AS cjk_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[؀-ۿ]', '', 'g')) AS BIGINT) AS arabic_chars,
        |  CAST(length(t) - length(regexp_replace(t, '[가-힯]', '', 'g')) AS BIGINT) AS hangul_chars
        |  FROM seeded)
        |SELECT doc_id, n_chars, latin_chars, digit_chars, cyrillic_chars,
        |  greek_chars, cjk_chars, arabic_chars, hangul_chars,
        |  CAST((CASE WHEN latin_chars > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN cyrillic_chars > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN greek_chars > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN cjk_chars > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN arabic_chars > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN hangul_chars > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_scripts,
        |  latin_chars > 0 AND (cyrillic_chars > 0 OR greek_chars > 0) AS confusable_mix
        |FROM c ORDER BY doc_id""".stripMargin)),

    // Unigram-LM tokenizer TRAINING (Kudo 2018, the SentencePiece fit) —
    // the probabilistic sibling of q136's BPE merges: over-complete
    // substring seed, EM on the word-type table, prune to vocabSize,
    // final re-fit — on the driver over one collected word-type table,
    // like q136 -> rows-only check; the E-step is pinned against
    // brute-force segmentation enumeration and the EM monotone-likelihood
    // guarantee in TextAnalysisSpec.
    Q("q196_unigram_lm", (s, dir) => {
      TextAnalysis.trainUnigramLm(Tables.documents(s, dir), "text",
          vocabSize = 120, maxPieceLen = 4, emIters = 2)
        .orderBy("rank")
    }, RowsOnly.DriverLoopFit),

    // Tokenizer APPLY for a FIXED unigram vocab (q196's downstream, the
    // q140 pattern): Viterbi segmentation per word type, per-doc word/
    // piece counts, fertility, and total Viterbi log-likelihood. The DP
    // has no SQL form -> rows-only; Viterbi optimality, tie-breaks, and
    // unk coverage are pinned in TextAnalysisSpec.
    Q("q197_unigram_encode", (s, dir) => {
      TextAnalysis.unigramEncodeStats(Tables.documents(s, dir), "doc_id", "text",
          UnigramApplyVocab)
        .orderBy("doc_id")
    }, RowsOnly.LatticeDp),

    // q197's exact plumbing twin (the q193 pattern): restrict the vocab
    // to its single-char rows and the Viterbi lattice degenerates to the
    // per-char path — counts, log-likelihood, and fertility become pure
    // SQL over exploded characters, so the explode / distinct-word /
    // join-back / aggregate machinery gets a FULL hash oracle while the
    // DP itself stays spec-pinned (TextAnalysisSpec).
    Q("q198_unigram_char_twin", (s, dir) => {
      TextAnalysis.unigramEncodeStats(Tables.documents(s, dir), "doc_id", "text",
          UnigramApplyVocab.filter(_._1.length == 1))
        .orderBy("doc_id")
    }, Oracle(
      // Single-char vocab makes every Viterbi arc length 1, so the
      // segmentation is the character sequence itself — logp sums are
      // multiples of 0.1 (float error ~1e-12 vs the 4-dp rounding grid),
      // and unknown chars (uppercase) price at the -20 unk arc in both
      // engines.
      """WITH v(piece, logp) AS (VALUES
        |  ('e', -2.5), ('t', -2.6), ('a', -2.7), ('o', -2.8), ('i', -2.8),
        |  ('n', -2.8), ('s', -2.9), ('r', -2.9), ('h', -3.0), ('l', -3.2),
        |  ('d', -3.3), ('c', -3.5), ('u', -3.5), ('m', -3.6), ('f', -3.8),
        |  ('p', -3.8), ('g', -3.9), ('w', -3.9), ('y', -4.0), ('b', -4.1),
        |  ('v', -4.5), ('k', -4.7), ('x', -5.5), ('j', -5.6), ('q', -5.7),
        |  ('z', -5.8), ('0', -5.0), ('1', -5.0), ('2', -5.0), ('3', -5.0),
        |  ('4', -5.0), ('5', -5.0), ('6', -5.0), ('7', -5.0), ('8', -5.0),
        |  ('9', -5.0)),
        |w AS (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word
        |  FROM documents),
        |ch AS (SELECT doc_id, unnest(regexp_extract_all(word, '[A-Za-z0-9]')) AS c
        |  FROM w),
        |sc AS (SELECT doc_id, COALESCE(v.logp, -20.0) AS lp
        |  FROM ch LEFT JOIN v ON ch.c = v.piece),
        |agg AS (SELECT doc_id, count(*) AS n_pieces, round(sum(lp), 4) AS viterbi_logp
        |  FROM sc GROUP BY doc_id),
        |wc AS (SELECT doc_id, count(*) AS n_words FROM w GROUP BY doc_id)
        |SELECT wc.doc_id, n_words, n_pieces, viterbi_logp,
        |  round(CAST(n_pieces AS DOUBLE) / n_words, 6) AS pieces_per_word
        |FROM wc JOIN agg USING (doc_id) ORDER BY wc.doc_id""".stripMargin)),

    // Subword-regularization sampling (Kudo 2018 §4) over q197's fixed
    // vocab — the apply mode a training pipeline feeds a model: one
    // seeded FFBS draw per word type from the alpha-scaled lattice.
    // Seed-deterministic but DP-shaped -> rows-only; the FFBS posterior
    // frequencies, alpha->inf Viterbi recovery, and replay idempotence
    // are pinned in TextAnalysisSpec; q202 is the hash-matched twin.
    Q("q201_unigram_sample", (s, dir) => {
      TextAnalysis.unigramSampleStats(Tables.documents(s, dir), "doc_id", "text",
          UnigramApplyVocab, alpha = 0.5, seed = 42L)
        .orderBy("doc_id")
    }, RowsOnly.LatticeDp),

    // q201's exact plumbing twin (the q198 pattern): a single-char vocab
    // leaves ONE lattice path, so the sampled segmentation is the
    // character sequence regardless of seed/alpha and the whole explode /
    // distinct-word / FFBS / join-back / aggregate machinery gets a FULL
    // hash oracle while the sampler itself stays spec-pinned.
    Q("q202_unigram_sample_twin", (s, dir) => {
      TextAnalysis.unigramSampleStats(Tables.documents(s, dir), "doc_id", "text",
          UnigramApplyVocab.filter(_._1.length == 1), alpha = 0.5, seed = 42L)
        .orderBy("doc_id")
    }, Oracle(
      // q198's degenerate-lattice argument verbatim, for the SAMPLER: with
      // single-char arcs only there is nothing to draw, so the seeded FFBS
      // output is the per-char sum in both engines (column renamed to the
      // sampler's contract).
      """WITH v(piece, logp) AS (VALUES
        |  ('e', -2.5), ('t', -2.6), ('a', -2.7), ('o', -2.8), ('i', -2.8),
        |  ('n', -2.8), ('s', -2.9), ('r', -2.9), ('h', -3.0), ('l', -3.2),
        |  ('d', -3.3), ('c', -3.5), ('u', -3.5), ('m', -3.6), ('f', -3.8),
        |  ('p', -3.8), ('g', -3.9), ('w', -3.9), ('y', -4.0), ('b', -4.1),
        |  ('v', -4.5), ('k', -4.7), ('x', -5.5), ('j', -5.6), ('q', -5.7),
        |  ('z', -5.8), ('0', -5.0), ('1', -5.0), ('2', -5.0), ('3', -5.0),
        |  ('4', -5.0), ('5', -5.0), ('6', -5.0), ('7', -5.0), ('8', -5.0),
        |  ('9', -5.0)),
        |w AS (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word
        |  FROM documents),
        |ch AS (SELECT doc_id, unnest(regexp_extract_all(word, '[A-Za-z0-9]')) AS c
        |  FROM w),
        |sc AS (SELECT doc_id, COALESCE(v.logp, -20.0) AS lp
        |  FROM ch LEFT JOIN v ON ch.c = v.piece),
        |agg AS (SELECT doc_id, count(*) AS n_pieces, round(sum(lp), 4) AS sampled_logp
        |  FROM sc GROUP BY doc_id),
        |wc AS (SELECT doc_id, count(*) AS n_words FROM w GROUP BY doc_id)
        |SELECT wc.doc_id, n_words, n_pieces, sampled_logp,
        |  round(CAST(n_pieces AS DOUBLE) / n_words, 6) AS pieces_per_word
        |FROM wc JOIN agg USING (doc_id) ORDER BY wc.doc_id""".stripMargin)),

    // Per-OCCURRENCE subword-regularization sampling (Kudo §4's actual
    // per-sentence draw — q201's paper-faithful sibling): every
    // (doc, position, word) occurrence draws from its own splitmix64
    // stream, so one pass yields maximum segmentation diversity. Rows-
    // only; independence/posterior/Viterbi-limit pinned in
    // TextAnalysisSpec; q209 is the hash-matched twin.
    Q("q208_unigram_sample_occ", (s, dir) => {
      TextAnalysis.unigramSampleStatsPerOccurrence(Tables.documents(s, dir),
          "doc_id", "text", UnigramApplyVocab, alpha = 0.5, seed = 42L)
        .orderBy("doc_id")
    }, RowsOnly.LatticeDp),

    // q208's exact plumbing twin (q202's argument): single-char vocab ->
    // one lattice path per word -> the per-occurrence machinery
    // (posexplode, forward-array join-back, occurrence-keyed walk,
    // aggregate) is deterministic and hash-checkable in SQL.
    Q("q209_unigram_sample_occ_twin", (s, dir) => {
      TextAnalysis.unigramSampleStatsPerOccurrence(Tables.documents(s, dir),
          "doc_id", "text", UnigramApplyVocab.filter(_._1.length == 1),
          alpha = 0.5, seed = 42L)
        .orderBy("doc_id")
    }, Oracle(
      // q202's oracle verbatim for the per-occurrence sampler's twin: one
      // path per word means position-keyed draws change nothing.
      """WITH v(piece, logp) AS (VALUES
        |  ('e', -2.5), ('t', -2.6), ('a', -2.7), ('o', -2.8), ('i', -2.8),
        |  ('n', -2.8), ('s', -2.9), ('r', -2.9), ('h', -3.0), ('l', -3.2),
        |  ('d', -3.3), ('c', -3.5), ('u', -3.5), ('m', -3.6), ('f', -3.8),
        |  ('p', -3.8), ('g', -3.9), ('w', -3.9), ('y', -4.0), ('b', -4.1),
        |  ('v', -4.5), ('k', -4.7), ('x', -5.5), ('j', -5.6), ('q', -5.7),
        |  ('z', -5.8), ('0', -5.0), ('1', -5.0), ('2', -5.0), ('3', -5.0),
        |  ('4', -5.0), ('5', -5.0), ('6', -5.0), ('7', -5.0), ('8', -5.0),
        |  ('9', -5.0)),
        |w AS (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word
        |  FROM documents),
        |ch AS (SELECT doc_id, unnest(regexp_extract_all(word, '[A-Za-z0-9]')) AS c
        |  FROM w),
        |sc AS (SELECT doc_id, COALESCE(v.logp, -20.0) AS lp
        |  FROM ch LEFT JOIN v ON ch.c = v.piece),
        |agg AS (SELECT doc_id, count(*) AS n_pieces, round(sum(lp), 4) AS sampled_logp
        |  FROM sc GROUP BY doc_id),
        |wc AS (SELECT doc_id, count(*) AS n_words FROM w GROUP BY doc_id)
        |SELECT wc.doc_id, n_words, n_pieces, sampled_logp,
        |  round(CAST(n_pieces AS DOUBLE) / n_words, 6) AS pieces_per_word
        |FROM wc JOIN agg USING (doc_id) ORDER BY wc.doc_id""".stripMargin)),

    // The BPE merge-table FIT behind an exact cross-engine gate — the
    // last iterative fit that had none (q136 fits the real corpus and is
    // rows-only; q140 twins only the APPLY side). The q198 degenerate-
    // lattice trick applied to BPE: a five-word corpus whose pair
    // frequencies are strictly decreasing AT EVERY ROUND (20, 15, 12, 9,
    // 8 — two interleaved merge chains, no ties anywhere, so the
    // tie-break never fires and the greedy argmax sequence is FORCED),
    // which gives the merge table a closed form the oracle states as
    // five literal rows. Exercises the full fold, not just iteration 0:
    // merges 3 and 5 consume symbols created by merges 1 and 3.
    // Round-by-round counts are re-derived in TextAnalysisSpec.
    Q("q216_bpe_fit_twin", (s, dir) => {
      import s.implicits._
      val words = Seq(("abcd", 8), ("abc", 4), ("ab", 8), ("efg", 9), ("ef", 6))
      val docs = words.toDF("w", "f")
        .select(explode(expr("transform(sequence(1, f), i -> w)")).as("text"))
      TextAnalysis.trainBpeMerges(docs, "text", nMerges = 5)
        .orderBy("rank")
    }, Oracle(
      // The forced-greedy BPE fixture: round-r pair counts are strictly
      // decreasing (20, 15, 12, 9, 8 — re-derived round by round in
      // TextAnalysisSpec), so Sennrich's algorithm has exactly one
      // possible trajectory and the merge table is a literal.
      """SELECT * FROM (VALUES
        |  (1, 'a',   'b', 'ab',   CAST(20 AS BIGINT)),
        |  (2, 'e',   'f', 'ef',   CAST(15 AS BIGINT)),
        |  (3, 'ab',  'c', 'abc',  CAST(12 AS BIGINT)),
        |  (4, 'ef',  'g', 'efg',  CAST(9 AS BIGINT)),
        |  (5, 'abc', 'd', 'abcd', CAST(8 AS BIGINT))
        |) AS t(rank, "left", "right", merged, n) ORDER BY rank""".stripMargin)),
  )
}
