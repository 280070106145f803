package graft
package catalog

import SparkEntry._
import graft.meta.Tables
import graft.operators._
import org.apache.spark.sql.functions._

/** Corpus curation: quality and PII filters, sampling and mixtures, chat
  * formats, quality probes, and the compression gates. */
private[graft] object CurationQueries {
  val entries: Seq[Q] = Seq(

    // Document fingerprints: md5 + portable rolling hash (native expression).
    Q("q23_fingerprint", (s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"),
        TextAnalysis.fingerprint(col("text")).as("fp_roll"))
        .orderBy("doc_id")
    }, Oracle(
      s"""SELECT doc_id, md5(text) AS fp_md5, ${dhash("text")} AS fp_roll
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // Quality scoring (Gopher/C4-style heuristics).
    Q("q31_quality", (s, dir) => {
      val t = col("text")
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).as("n_tokens"),
        TextAnalysis.distinctTokenCount(t).as("n_types"),
        round(TextAnalysis.distinctTokenCount(t).cast("double") /
          TextAnalysis.tokenCount(t).cast("double"), 6).as("ttr"),
        TextAnalysis.qualityScore(t).as("quality"))
        .orderBy("doc_id")
    }, Oracle(
      """WITH t AS (SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
        |length(text) AS n_chars FROM documents)
        |SELECT doc_id, n_tokens, n_types,
        |round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
        |round((CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5 +
        |(CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.5 END) * 0.25 +
        |(CASE WHEN (CAST(n_chars AS DOUBLE) - (n_tokens - 1)) / n_tokens >= 3
        |AND (CAST(n_chars AS DOUBLE) - (n_tokens - 1)) / n_tokens <= 10 THEN 1.0 ELSE 0.5 END) * 0.25, 6) AS quality
        |FROM t ORDER BY doc_id""".stripMargin)),

    // Deterministic hash sampling (reproducible corpus subset) + profile.
    Q("q50_sample_hash", (s, dir) => {
      Stats.sampleByHash(Tables.documents(s, dir), col("text"), 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          round(avg(TextAnalysis.tokenCount(col("text")).cast("double")), 6).as("avg_tokens"))
        .orderBy("lang")
    }, Oracle(
      s"""SELECT lang, count(*) AS n_sampled,
         |round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens
         |FROM documents WHERE ${dbucket("text", 100)} < 10
         |GROUP BY lang ORDER BY lang""".stripMargin)),

    // PII scrub: mask emails then digit runs (pre-training redaction pass).
    Q("q52_pii_scrub", (s, dir) => {
      val synth = concat(col("c_name"), lit(" <"),
        lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
        lit("@mail.test> ref "), (col("c_custkey") * 7919).cast("string"))
      Tables.customer(s, dir).select(
        col("c_custkey"), synth.as("raw"),
        TextAnalysis.scrubPii(synth).as("scrubbed"))
        .orderBy("c_custkey")
    }, Oracle(
      """WITH s AS (SELECT c_custkey,
        |c_name || ' <' || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) ||
        |'@mail.test> ref ' || CAST(c_custkey * 7919 AS VARCHAR) AS raw FROM customer)
        |SELECT c_custkey, raw,
        |regexp_replace(regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |'[0-9]{3,}', '<NUM>', 'g') AS scrubbed
        |FROM s ORDER BY c_custkey""".stripMargin)),

    // Stratified deterministic sampling: 20% of English docs, 5% of the
    // rest — the data-mix lever, reproducible across engines and retries.
    Q("q62_stratified", (s, dir) => {
      Stats.stratifiedSampleByHash(Tables.documents(s, dir), col("text"),
        col("lang"), Map("en" -> 20), defaultPct = 5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("first_doc"))
        .orderBy("lang")
    }, Oracle(
      s"""SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
         |FROM documents
         |WHERE ${dbucket("text", 100)} < CASE WHEN lang = 'en' THEN 20 ELSE 5 END
         |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Deterministic train/val/test split assignment (80/10/10 by content
    // hash): survives retries and engine swaps, unlike rand() splits.
    Q("q64_split_assign", (s, dir) => {
      val b = Stats.hashBucket(col("text"), 100)
      val split = when(b < 80, "train").when(b < 90, "val").otherwise("test")
      Tables.documents(s, dir)
        .groupBy(col("lang"), split.as("split"))
        .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
        .orderBy("lang", "split")
    }, Oracle(
      s"""WITH h AS (SELECT lang, doc_id, ${dbucket("text", 100)} AS b FROM documents)
         |SELECT lang,
         |CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |count(*) AS n, min(doc_id) AS first_doc
         |FROM h GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // Benchmark decontamination (GPT-3 §C-style n-gram overlap): training
    // docs sharing any word 5-gram with the held-out benchmark source
    // (src0). Hashed-gram broadcast semi-join — the corpus side never
    // shuffles text.
    Q("q82_decontaminate", (s, dir) => {
      TextAnalysis.contaminationHits(Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0", n = 5)
        .orderBy("doc_id")
    }, Oracle(
      // Both engines hash grams with the same polynomial, so hash collisions
      // (if any) are shared and the distinct-gram counts agree exactly.
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
         |g AS (SELECT doc_id, source, unnest(CASE WHEN len(tk) < 5 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(tk) - 3), i -> array_to_string(tk[i:i+4], ' ')) END) AS gram FROM t),
         |h AS (SELECT doc_id, source, ${dhash("gram")} AS gh FROM g),
         |bench AS (SELECT DISTINCT gh FROM h WHERE source = 'src0'),
         |train AS (SELECT DISTINCT doc_id, gh FROM h WHERE source <> 'src0')
         |SELECT doc_id, count(*) AS n_shared FROM train JOIN bench USING (gh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition quality: duplicate-word fraction + top-bigram
    // share per doc, thresholded keep flag. Zero-shuffle projection (the
    // top-gram count is a per-row fold over the sorted gram array).
    Q("q83_repetition", (s, dir) => {
      TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Oracle(
      // Independent formulation: the oracle counts the top bigram via plain
      // unnest + GROUP BY (no sorted-run fold), pinning the fold's semantics.
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS gram FROM t),
        |cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS mc, sum(c) AS tot FROM cnt GROUP BY 1),
        |s AS (SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |  round(1.0 - len(list_distinct(tk)) * 1.0 / len(tk), 6) AS dup_word_frac,
        |  round(coalesce(mc * 1.0 / tot, 0.0), 6) AS top_ngram_frac
        |  FROM t LEFT JOIN top ON t.doc_id = top.doc_id)
        |SELECT doc_id, n_tokens, dup_word_frac, top_ngram_frac,
        |  (dup_word_frac <= 0.6 AND top_ngram_frac <= 0.08) AS keep
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Mixture rebalancing: every language downsampled to the smallest one
    // with data-derived hash keep rates; observe per-language kept counts.
    Q("q84_mixture_resample", (s, dir) => {
      Stats.mixtureResample(Tables.documents(s, dir), col("lang"), col("text"))
        .groupBy("lang")
        .agg(max("keep_ppm").as("keep_ppm"), count(lit(1)).as("n_kept"),
          min("doc_id").as("first_doc"))
        .orderBy("lang")
    }, Oracle(
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |m AS (SELECT min(cnt) AS mn FROM c),
         |r AS (SELECT lang, CAST(least(ceil(1000000.0 * mn / cnt), 1000000) AS BIGINT) AS keep_ppm FROM c, m),
         |k AS (SELECT d.lang, d.doc_id, r.keep_ppm FROM documents d JOIN r USING (lang)
         |  WHERE ${dbucket("text", 1000000)} < keep_ppm)
         |SELECT lang, max(keep_ppm) AS keep_ppm, count(*) AS n_kept, min(doc_id) AS first_doc
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin)),

    // Full Gopher quality rule set (Rae et al. 2021 A1.1): one column per
    // rule plus the conjunction keep — zero-shuffle codegen'd projection,
    // q83's twin for the non-repetition rules.
    Q("q87_gopher_quality", (s, dir) => {
      TextAnalysis.gopherQualityFlags(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Oracle(
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
        |  string_split(text, chr(10)) AS ln FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_words,
        |  round(list_aggregate(list_transform(tk, x -> len(x)), 'sum') * 1.0 / len(tk), 6) AS mean_word_len,
        |  round(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk), 6) AS alpha_word_frac,
        |  round((len(string_split(text, '#')) - 1 + len(string_split(text, '...')) - 1) * 1.0 / len(tk), 6) AS symbol_word_ratio,
        |  round(len(list_filter(ln, x -> starts_with(x, '- ') OR starts_with(x, '* '))) * 1.0 / len(ln), 6) AS bullet_line_frac,
        |  round(len(list_filter(ln, x -> ends_with(x, '...'))) * 1.0 / len(ln), 6) AS ellipsis_line_frac,
        |  CAST(len(list_filter(tk, x -> x IN (${TextAnalysis.GopherStopwords.map(w => s"'$w'").mkString(",")}))) AS BIGINT) AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_word_ratio,
        |  bullet_line_frac, ellipsis_line_frac, n_stopwords,
        |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
        |   AND mean_word_len <= 10.0 AND symbol_word_ratio <= 0.1
        |   AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
        |   AND alpha_word_frac >= 0.8 AND n_stopwords >= 2) AS keep
        |FROM s ORDER BY doc_id""".stripMargin)),

    // C4 line-level cleaning (Raffel 2020 2.2). The synthetic corpus is
    // single-line, so the query first synthesizes a deterministic line
    // structure (synthesizeLines: 8-token lines, every 3rd left without
    // terminal punctuation) — mirrored exactly in the oracle — then runs
    // the real line rules: terminal punct, >= 5 words, no boilerplate.
    Q("q88_c4_line_clean", (s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = true)
      TextAnalysis.c4LineClean(lined, "doc_id", "text").orderBy("doc_id")
    }, Oracle(
      s"""WITH ${dLineSynth(withPunct = true)},
        |t2 AS (SELECT doc_id, array_to_string(ln, chr(10)) AS text, ln FROM t1),
        |s AS (SELECT doc_id, text, CAST(len(ln) AS BIGINT) AS n_lines,
        |  list_filter(ln, x -> (ends_with(x, '.') OR ends_with(x, '!')
        |      OR ends_with(x, '?') OR ends_with(x, '"'))
        |    AND len(string_split(x, ' ')) >= 5
        |    AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM t2)
        |SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_kept,
        |  array_to_string(kept, chr(10)) AS clean_text,
        |  (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |   AND NOT contains(text, '{')) AS keep
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Exact-count per-stratum sample: exactly 20 docs per language, picked
    // by universal-mixed hash rank — deterministic and prefix-stable,
    // unlike any rate-based sampler.
    Q("q89_take_per_stratum", (s, dir) => {
      Stats.takePerStratum(Tables.documents(s, dir), col("lang"), col("text"),
        20, tieBreak = Seq("doc_id"))
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }, Oracle(
      s"""WITH h AS (SELECT lang, doc_id, text,
         |  ${dmix("text")} AS hh
         |  FROM documents),
         |r AS (SELECT lang, doc_id,
         |  row_number() OVER (PARTITION BY lang ORDER BY hh, text, doc_id) AS rn FROM h)
         |SELECT lang, doc_id FROM r WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin)),

    // Target-weight mixture: resample documents to a SPECIFIED 50/25/25
    // en/de/zh mix (fr/es dropped), never duplicating rows — the
    // bottleneck language keeps 100% (rate pinned at 1e6 ppm) and the
    // rest downsample to the largest total the mix allows. Weights are
    // binary-exact and pre-normalized so oracle arithmetic is identical.
    Q("q107_mixture_weights", (s, dir) => {
      Stats.mixtureResampleToWeights(Tables.documents(s, dir), col("lang"),
        col("text"), Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.25))
        .groupBy("lang")
        .agg(max("keep_ppm").as("keep_ppm"), count(lit(1)).as("n_kept"),
          min("doc_id").as("first_doc"))
        .orderBy("lang")
    }, Oracle(
      // same rate arithmetic as Stats.mixtureResampleToWeights, term for
      // term: N = min(cnt/share), rate = ceil(1e6*N*share/cnt) capped at
      // 1e6. Weights are binary-exact doubles summing to exactly 1.0, so
      // the engine's normalize (w / 1.0) is an identity on both sides.
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |w AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.25), ('zh', 0.25)) AS t(lang, share)),
         |j AS (SELECT c.lang, cnt, CAST(share AS DOUBLE) AS share FROM c JOIN w USING (lang)),
         |n AS (SELECT min(cnt / share) AS n FROM j),
         |r AS (SELECT lang, CAST(least(ceil(1000000.0 * n.n * share / cnt), 1000000) AS BIGINT) AS keep_ppm FROM j, n),
         |k AS (SELECT d.lang, d.doc_id, r.keep_ppm FROM documents d JOIN r USING (lang)
         |  WHERE ${dbucket("text", 1000000)} < keep_ppm)
         |SELECT lang, max(keep_ppm) AS keep_ppm, count(*) AS n_kept, min(doc_id) AS first_doc
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin)),

    // HTML extraction: the lined corpus re-wrapped as a real page (one
    // <p> per line plus an entity-laden footer — including the
    // double-escape &amp;amp; that must decode to the literal "&amp;"),
    // then markup-stripped. Zero-shuffle codegen'd regexp chain.
    Q("q114_markup_strip", (s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      val html = lined.select(col("doc_id"),
        concat(lit("<html><body><p>"),
          regexp_replace(col("text"), "\n", "</p>\n<p>"),
          lit("</p><p>Tom&#39;s page &amp;amp; &lt;tags&gt;&nbsp;&quot;quoted&quot;</p></body></html>"))
          .as("text"))
      TextAnalysis.markupStrip(html, "doc_id", "text").orderBy("doc_id")
    }, Oracle(
      // Same page synthesis (one <p> per line + entity footer), then the
      // same strip discipline: tags out first, entities decoded with
      // &amp; LAST (so &amp;amp; -> literal "&amp;"), whitespace
      // collapsed. DuckDB regexp_replace needs the explicit 'g' flag
      // where Spark's is always global.
      s"""WITH ${dLineSynth(withPunct = false)},
         |h AS (SELECT doc_id, '<html><body><p>' ||
         |    array_to_string(ln, '</p>' || chr(10) || '<p>') ||
         |    '</p><p>Tom&#39;s page &amp;amp; &lt;tags&gt;&nbsp;&quot;quoted&quot;</p></body></html>' AS html
         |  FROM t1),
         |st AS (SELECT doc_id, html,
         |    replace(replace(replace(replace(replace(replace(
         |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
         |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
         |      '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS dec
         |  FROM h)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
         |  trim(regexp_replace(dec, '\\s+', ' ', 'g')) AS clean_text
         |FROM st ORDER BY doc_id""".stripMargin)),

    // Encoding-quality gate: every 7th doc corrupted with a control char,
    // a U+FFFD replacement char and a non-ASCII letter (the mojibake
    // signature of a mis-decoded byte stream); charClassStats must count
    // each class and fail exactly those docs' keep verdict.
    Q("q115_char_quality", (s, dir) => {
      val corrupted = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit("\u0001\uFFFD\u00E9"))).otherwise(col("text"))
          .as("text"))
      TextAnalysis.charClassStats(corrupted, "doc_id", "text").orderBy("doc_id")
    }, Oracle(
      // Same deterministic corruption (control + U+FFFD + e-acute on every
      // 7th doc), counts via length-difference over the same character
      // classes. chr() takes the Unicode codepoint on the DuckDB side.
      """WITH c AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || chr(1) || chr(65533) || chr(233)
        |       ELSE text END AS text FROM documents),
        |m AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
        |  CAST(len(text) - len(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS BIGINT) AS n_control,
        |  CAST(len(text) - len(regexp_replace(text, '\x{FFFD}', '', 'g')) AS BIGINT) AS n_replacement,
        |  CAST(len(text) - len(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS BIGINT) AS n_non_ascii
        |  FROM c)
        |SELECT doc_id, n_chars, n_control, n_replacement, n_non_ascii,
        |  CASE WHEN n_chars = 0 THEN 1.0
        |       ELSE round((n_chars - n_non_ascii) * 1.0 / n_chars, 6) END AS ascii_ratio,
        |  (n_replacement = 0 AND n_control = 0 AND
        |   (CASE WHEN n_chars = 0 THEN 1.0
        |         ELSE round((n_chars - n_non_ascii) * 1.0 / n_chars, 6) END) >= 0.0) AS keep
        |FROM m ORDER BY doc_id""".stripMargin)),

    // Multilingual alpha-sampling at temperature 0.3 (the mT5 default):
    // dominant langs downsample toward uniform, low-resource langs keep
    // everything. Same per-lang audit shape as q107.
    Q("q119_temperature_mix", (s, dir) => {
      Stats.mixtureResampleTemperature(Tables.documents(s, dir), col("lang"),
        col("text"), alpha = 0.3)
        .groupBy("lang")
        .agg(max("keep_ppm").as("keep_ppm"), count(lit(1)).as("n_kept"),
          min("doc_id").as("first_doc"))
        .orderBy("lang")
    }, Oracle(
      // same alpha-share + largest-N rate arithmetic as
      // Stats.mixtureResampleTemperature, term for term (see its scaladoc
      // for the ULP-vs-ceil-cliff parity analysis).
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
         |s AS (SELECT lang, cnt, pow(cnt, 0.3) / sum(pow(cnt, 0.3)) OVER () AS share FROM c),
         |n AS (SELECT min(cnt / share) AS n FROM s),
         |r AS (SELECT lang, CAST(least(ceil(1000000.0 * n.n * share / cnt), 1000000) AS BIGINT) AS keep_ppm FROM s, n),
         |k AS (SELECT d.lang, d.doc_id, r.keep_ppm FROM documents d JOIN r USING (lang)
         |  WHERE ${dbucket("text", 1000000)} < keep_ppm)
         |SELECT lang, max(keep_ppm) AS keep_ppm, count(*) AS n_kept, min(doc_id) AS first_doc
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin)),

    // URL-level dedup audit — the first dedup stage of web pipelines
    // (RefinedWeb exact-URL pass): synthesized crawl URLs carrying the
    // classic variant noise (scheme case, www., trailing slash, utm
    // params, fragments) collapse to one canonical form; report each
    // canonical URL's variant count and its keep-first survivor.
    Q("q123_url_dedup", (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.canonicalizeUrl(crawlUrl).as("url_canon"))
        .groupBy("url_canon")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("kept_doc"))
        .orderBy("url_canon")
    }, Oracle(
      // same synthesized URLs; canonicalization rules applied in the same
      // order as TextAnalysis.canonicalizeUrl (DuckDB regexp_replace needs
      // the explicit 'g' flag where Spark's replaces all matches)
      s"""WITH $dUrlCanon
        |SELECT url_canon, count(*) AS n_docs, min(doc_id) AS kept_doc
        |FROM s5 GROUP BY url_canon ORDER BY url_canon""".stripMargin)),

    // Domain-level curation (C4 badlist / RefinedWeb per-domain stage):
    // per-host doc counts, exact-fingerprint dup fraction, and a keep
    // verdict (not blocklisted AND dup_frac <= 0.5) over the synthesized
    // crawl URLs. Hosts, not documents, are the curation unit here.
    Q("q125_host_stats", (s, dir) => {
      TextAnalysis.hostQualityStats(
        Tables.documents(s, dir).withColumn("url", crawlUrl),
        "url", "text",
        blocklist = Seq("src0.example.com"), maxDupFrac = 0.5)
        .orderBy("host")
    }, Oracle(
      // q123's URL synthesis; host = scheme/www-stripped lowercase
      // authority; dup fraction from exact dhash fingerprints per host
      s"""WITH u AS (SELECT doc_id, text,
         |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
         |  (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END) ||
         |  source || '.example.com/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
         |  (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
         |  (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END) ||
         |  (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
         |  FROM documents),
         |h AS (SELECT regexp_replace(lower(regexp_extract(
         |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
         |    '^([^/?#]*)', 1)), '^www\\.', '') AS host, text FROM u),
         |g AS (SELECT host, count(*) AS n_docs,
         |  count(DISTINCT ${dhash("text")}) AS n_unique,
         |  round(avg(CAST(length(text) AS BIGINT)), 6) AS avg_chars
         |  FROM h GROUP BY host),
         |d AS (SELECT host, n_docs, n_unique, avg_chars,
         |  round(1.0 - CAST(n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_frac FROM g)
         |SELECT host, n_docs, n_unique, avg_chars, dup_frac,
         |  (host NOT IN ('src0.example.com')) AND dup_frac <= 0.5 AS keep
         |FROM d ORDER BY host""".stripMargin)),

    // Model-based quality filter (the FineWeb-Edu/DCLM stage): seed junk
    // docs (repeated gibberish + a 40-char real-text tail), fit a linear
    // probe on the even-id half (label: junk=0, clean=1) over the three
    // oracled heuristic features, then score + threshold the WHOLE
    // corpus. The closed-form OLS fit is engine-reproducible — weights
    // snap to the 1e-6 grid before scoring, so the LEARNED filter is
    // hash-checked end-to-end, not just its input features.
    Q("q130_quality_probe", (s, dir) =>
      probeScored(s, dir)
        .select("doc_id", "stop_frac", "dup_word_frac", "lm_logp", "score", "keep")
        .orderBy("doc_id"), Oracle(
      // same seeded corpus; the OLS fit is Cramer's rule on the centered
      // normal equations (covar_pop matrix), mirroring fitLinearProbe's
      // driver solve; weights and scores round to 6 dp in both engines so
      // every downstream IEEE op is computed on identical doubles. The
      // stop/dup fragments come from q87/q83's green oracles, lm from q99's.
      s"""WITH $dProbeScored
        |SELECT doc_id, stop_frac, dup_word_frac, lm_logp, score, score >= 0.5 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin)),

    // Per-language token-distribution drift between two corpus snapshots:
    // %4==1 docs in the new generation get a spam footer — the injected
    // mass shows up as nonzero KL/JS for every language while type counts
    // expose the new spam vocabulary. The release-gate health metric run
    // BEFORE any document-level filter.
    Q("q134_corpus_drift", (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "lang", "text")
      val newGen = d.withColumn("text",
        when(col("doc_id") % 4 === 1,
          concat(col("text"), lit(" buy cheap pills now click here")))
          .otherwise(col("text")))
      TextAnalysis.tokenDivergence(d, newGen, Seq("lang"), "text")
        .orderBy("lang")
    }, Oracle(
      // same spam-footer snapshot; add-0.5-smoothed p/q over the union
      // vocab per lang, KL both ways + Jensen-Shannon, term-for-term with
      // tokenDivergence (word tokens mirror q73's regexp_extract_all)
      """WITH o AS (SELECT lang, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS w
        |  FROM documents),
        |n AS (SELECT lang, unnest(regexp_extract_all(
        |    CASE WHEN doc_id % 4 = 1 THEN text || ' buy cheap pills now click here' ELSE text END,
        |    '[A-Za-z0-9]+')) AS w
        |  FROM documents),
        |oc AS (SELECT lang, w, count(*) AS co FROM o GROUP BY lang, w),
        |nc AS (SELECT lang, w, count(*) AS cn FROM n GROUP BY lang, w),
        |j AS (SELECT coalesce(oc.lang, nc.lang) AS lang, coalesce(oc.w, nc.w) AS w,
        |  coalesce(co, 0) AS co, coalesce(cn, 0) AS cn
        |  FROM oc FULL OUTER JOIN nc ON oc.lang = nc.lang AND oc.w = nc.w),
        |t AS (SELECT lang, sum(co) AS no, sum(cn) AS nn, count(*) AS v
        |  FROM j GROUP BY lang),
        |e AS (SELECT j.lang, co, cn,
        |  (co + 0.5) / (no + 0.5 * v) AS p, (cn + 0.5) / (nn + 0.5 * v) AS q
        |  FROM j JOIN t ON j.lang = t.lang)
        |SELECT lang,
        |  CAST(sum(CASE WHEN co > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_old,
        |  CAST(sum(CASE WHEN cn > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types_new,
        |  count(*) AS n_types_union,
        |  round(sum(p * ln(p / q)), 6) AS kl_old_new,
        |  round(sum(q * ln(q / p)), 6) AS kl_new_old,
        |  round(sum(p * ln(p / ((p + q) / 2.0)) / 2.0 + q * ln(q / ((p + q) / 2.0)) / 2.0), 6) AS js_div
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin)),

    // Probe evaluation on the HELD-OUT (odd-id) slice — the fit (q130)
    // used even ids only, so this is true out-of-sample AUC + confusion
    // metrics: the go/no-go gate before a fitted quality scorer is allowed
    // to filter a corpus. Junk docs (id >= 2M) are the negative class.
    Q("q137_probe_eval", (s, dir) =>
      probeEvalFrom(probeScored(s, dir)), Oracle(
      // q130's CTE chain (shared fragment) scored on the ODD held-out ids;
      // AUC by tie-aware average ranks — every intermediate an exact binary
      // fraction, so the cross-engine hash carries no float-order risk
      s"""WITH $dProbeScored,
        |e AS (SELECT score AS s, CASE WHEN doc_id >= 2000000 THEN 0.0 ELSE 1.0 END AS y
        |  FROM sc WHERE doc_id % 2 = 1),
        |per AS (SELECT s, CAST(count(*) AS DOUBLE) AS n, sum(y) AS np FROM e GROUP BY s),
        |rk AS (SELECT *, coalesce(sum(n) OVER (ORDER BY s
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM per),
        |ag AS (SELECT sum(np) AS p, sum(n - np) AS nn,
        |  sum(np * (below + (n + 1) / 2)) AS sr,
        |  sum(CASE WHEN s >= 0.5 THEN np ELSE 0 END) AS tpd,
        |  sum(CASE WHEN s >= 0.5 THEN n - np ELSE 0 END) AS fpd FROM rk)
        |SELECT CAST(p AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        |  round((sr - p * (p + 1) / 2) / (p * nn), 6) AS auc,
        |  CAST(tpd AS BIGINT) AS tp, CAST(fpd AS BIGINT) AS fp,
        |  CAST(p - tpd AS BIGINT) AS fn, CAST(nn - fpd AS BIGINT) AS tn,
        |  round(tpd / (tpd + fpd), 6) AS prec,
        |  round(tpd / p, 6) AS rec,
        |  round(2 * tpd / (p + tpd + fpd), 6) AS f1,
        |  round((tpd + nn - fpd) / (p + nn), 6) AS acc
        |FROM ag""".stripMargin)),

    // DSIR data selection: English docs are the in-domain TARGET exemplar;
    // the non-English pool is importance-weighted by hashed-unigram
    // log p_target/p_pool and Gumbel-top-k resampled to a quarter of the
    // pool — the learn-what-to-keep counterpart of q84's fixed-rate mixture.
    Q("q138_dsir_select", (s, dir) => {
      Stats.dsirSelect(Tables.documents(s, dir), "doc_id", "text",
          targetPred = col("lang") === "en")
        .orderBy("doc_id")
    }, Oracle(
      // same two add-0.5-smoothed hashed-unigram multinomials (dhash % 256
      // buckets), per-doc Σ log-ratio, hash-seeded Gumbel key (dbucket is
      // Stats.mixHash's mirror), top ceil(|pool|/4) by (key, doc_id)
      s"""WITH d AS (SELECT doc_id, text, lang = 'en' AS tgt FROM documents),
        |tk AS (SELECT doc_id, tgt, (${dhash("w")}) % 256 AS b
        |  FROM d, unnest(string_split(text, ' ')) AS t(w)),
        |c AS (SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
        |  sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr FROM tk GROUP BY b),
        |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM c),
        |lr AS (SELECT b, ln((ct + 0.5) / (nt + 0.5 * 256)) -
        |  ln((cr + 0.5) / (nr + 0.5 * 256)) AS lw FROM c CROSS JOIN tot),
        |pd AS (SELECT tk.doc_id, count(*) AS n_tokens, sum(lw) AS logw
        |  FROM tk JOIN lr USING (b) WHERE NOT tgt GROUP BY tk.doc_id),
        |ky AS (SELECT pd.doc_id, n_tokens, round(logw, 6) AS log_weight,
        |  round(logw - ln(-ln((${dbucket("text", 1000000)} + 0.5) / 1000000.0)), 6) AS sel_key
        |  FROM pd JOIN d USING (doc_id)),
        |kk AS (SELECT CAST(ceil(count(*) * 0.25) AS BIGINT) AS k FROM d WHERE NOT tgt)
        |SELECT doc_id, n_tokens, log_weight, sel_key FROM ky, kk
        |QUALIFY row_number() OVER (ORDER BY sel_key DESC, doc_id) <= k
        |ORDER BY doc_id""".stripMargin)),

    // Deterministic training-shard plan: seed-keyed hash shard + an
    // independent seeded within-shard shuffle rank — the materialize-the-
    // corpus slot map every training run replays byte-identically. Crawl
    // (id) order never survives into a shard.
    Q("q142_shard_plan", (s, dir) => {
      Batching.shardPlan(Tables.documents(s, dir), "doc_id", "text",
          nShards = 8, seed = 42L)
        .orderBy("doc_id")
    }, Oracle(
      // shard/order keys are dbucket/dmix over the same "seed:<id>" /
      // "seed~<id>" strings shardPlan builds; pos = row_number within
      // shard by (order hash, id)
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    (${dbucket("'42:' || CAST(doc_id AS VARCHAR)", 8)}) AS shard,
         |    (${dmix("'42~' || CAST(doc_id AS VARCHAR)")}) AS ord
         |  FROM documents)
         |SELECT doc_id, shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS pos,
         |  n_tokens
         |FROM d ORDER BY doc_id""".stripMargin)),

    // C4 badword filter: whole-token case-insensitive blocklist hits +
    // the drop-on-any-hit verdict (Raffel et al. 2020 §2.2). Blocklist
    // drawn from the corpus vocabulary (plus one absent word) so both
    // verdicts are exercised.
    Q("q145_badwords", (s, dir) => {
      TextAnalysis.badwordFilter(Tables.documents(s, dir), "doc_id", "text",
          badwords = Seq("batch", "stream", "forbidden"))
        .orderBy("doc_id")
    }, Oracle(
      // same whole-token lowercase membership; fraction via the * 1.0
      // pattern every green quality oracle uses
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(tk, x -> lower(x) IN ('batch', 'stream', 'forbidden'))) AS BIGINT) AS n_flagged FROM t)
        |SELECT doc_id, n_tokens, n_flagged,
        |  round(n_flagged * 1.0 / n_tokens, 6) AS flagged_frac,
        |  n_flagged = 0 AS keep
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Card-number PII with Luhn validation: %6==0 docs carry a VALID test
    // card (must flag), %6==3 an off-by-one INVALID number (candidate but
    // never PII) — the checksum is what separates card PII from order ids.
    Q("q152_card_pii", (s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 6 === 0, lit(" card 4532015112830366 on file"))
            .when(col("doc_id") % 6 === 3, lit(" card 4532015112830367 on file"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.cardNumberPii(seeded, "doc_id", "text").orderBy("doc_id")
    }, Oracle(
      // same seeded numbers; the Luhn mod-10 fold reproduced digit-for-
      // digit (double every 2nd digit from the RIGHT, 2d>9 -> 2d-9)
      """WITH c AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 6 = 0 THEN ' card 4532015112830366 on file'
        |       WHEN doc_id % 6 = 3 THEN ' card 4532015112830367 on file'
        |       ELSE '' END AS text FROM documents),
        |x AS (SELECT doc_id, regexp_extract_all(text, '[0-9]{13,19}') AS cands FROM c),
        |v AS (SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
        |  CAST(len(list_filter(cands, s -> (list_sum(list_transform(range(1, len(s) + 1), i ->
        |    CASE WHEN (len(s) - i) % 2 = 1 THEN
        |      CASE WHEN 2 * CAST(s[i] AS INTEGER) > 9 THEN 2 * CAST(s[i] AS INTEGER) - 9
        |           ELSE 2 * CAST(s[i] AS INTEGER) END
        |    ELSE CAST(s[i] AS INTEGER) END))) % 10 = 0)) AS BIGINT) AS n_valid_cards
        |  FROM x)
        |SELECT doc_id, n_candidates, n_valid_cards, n_valid_cards > 0 AS has_card_pii
        |FROM v ORDER BY doc_id""".stripMargin)),

    // Filter-interaction matrix (the ablation table curation reports
    // publish): every (gopher, repetition, entropy) verdict combination
    // with its population — shows which filters overlap and which kill
    // uniquely, i.e. whether a filter earns its compute.
    Q("q153_filter_matrix", (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val gq = TextAnalysis.gopherQualityFlags(d, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("g_keep"))
      val rep = TextAnalysis.repetitionStats(d, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("r_keep"))
      val ent = TextAnalysis.charEntropy(d, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("e_keep"))
      d.select("doc_id").join(gq, "doc_id").join(rep, "doc_id")
        .join(ent, "doc_id")
        .groupBy("g_keep", "r_keep", "e_keep")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .orderBy("g_keep", "r_keep", "e_keep")
    }, Oracle(
      // gopher/repetition CTEs from q103's green oracle, entropy from
      // q150's; the rollup groups the three rounded-boundary verdicts
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
        |  string_split(text, chr(10)) AS ln FROM documents),
        |gs AS (SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_words,
        |  round(list_aggregate(list_transform(tk, x -> len(x)), 'sum') * 1.0 / len(tk), 6) AS mean_word_len,
        |  round(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk), 6) AS alpha_word_frac,
        |  round((len(string_split(text, '#')) - 1 + len(string_split(text, '...')) - 1) * 1.0 / len(tk), 6) AS symbol_word_ratio,
        |  round(len(list_filter(ln, x -> starts_with(x, '- ') OR starts_with(x, '* '))) * 1.0 / len(ln), 6) AS bullet_line_frac,
        |  round(len(list_filter(ln, x -> ends_with(x, '...'))) * 1.0 / len(ln), 6) AS ellipsis_line_frac,
        |  CAST(len(list_filter(tk, x -> x IN (${TextAnalysis.GopherStopwords.map(w => s"'$w'").mkString(",")}))) AS BIGINT) AS n_stopwords
        |  FROM t),
        |gq AS (SELECT doc_id, (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0
        |  AND mean_word_len <= 10.0 AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
        |  AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 AND n_stopwords >= 2) AS g_keep FROM gs),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |  ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS gram FROM t),
        |cnt AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS mc, sum(c) AS tot FROM cnt GROUP BY 1),
        |rep AS (SELECT t.doc_id,
        |  (round(1.0 - len(list_distinct(tk)) * 1.0 / len(tk), 6) <= 0.6
        |   AND round(coalesce(mc * 1.0 / tot, 0.0), 6) <= 0.08) AS r_keep
        |  FROM t LEFT JOIN top ON t.doc_id = top.doc_id),
        |cs AS (SELECT doc_id, string_split(text, '') AS cs FROM documents),
        |ee AS (SELECT doc_id, len(cs) AS n, list_distinct(cs) AS dc, cs FROM cs),
        |ent AS (SELECT doc_id,
        |  round(ln(n) - list_sum(list_transform(dc, c ->
        |    len(list_filter(cs, x -> x = c)) *
        |    ln(len(list_filter(cs, x -> x = c))))) / n, 6) AS entropy FROM ee)
        |SELECT g_keep, r_keep, entropy >= 2.0 AND entropy <= 5.0 AS e_keep,
        |  count(*) AS n_docs, min(t.doc_id) AS first_doc
        |FROM t JOIN gq ON t.doc_id = gq.doc_id JOIN rep ON t.doc_id = rep.doc_id
        |JOIN ent ON t.doc_id = ent.doc_id
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // SFT role-protocol validation: system-then-strict-user/assistant
    // alternation, no empty turns. %11==0 convs are seeded assistant-
    // first (protocol breach), %13==5 get an empty turn — both must
    // fail their specific flag; one bad role corrupts loss masking.
    Q("q154_chat_validate", (s, dir) => {
      Chat.validateTurns(synthesizeTurns(Tables.documents(s, dir)),
          "conv_id", "turn_idx", "role", "content")
        .orderBy("conv_id")
    }, Oracle(
      // dTurnSynth's ordered turn lists; alternation checks the post-
      // system suffix against the strict user/assistant pattern
      s"""WITH $dTurnSynth,
         |v AS (SELECT conv_id, t, CAST(len(t) AS BIGINT) AS n_turns,
         |  t[1].r IN ('system', 'user') AS starts_ok,
         |  CASE WHEN t[1].r = 'system' THEN t[2:len(t)] ELSE t END AS rest FROM g),
         |w AS (SELECT conv_id, n_turns, starts_ok,
         |  CASE WHEN len(rest) = 0 THEN false
         |       ELSE len(list_filter(range(1, len(rest) + 1),
         |    i -> rest[i].r != CASE WHEN (i - 1) % 2 = 0 THEN 'user' ELSE 'assistant' END)) = 0 END AS alternates_ok,
         |  len(list_filter(t, s -> len(s.x) = 0)) = 0 AS no_empty FROM v)
         |SELECT conv_id, n_turns, starts_ok, alternates_ok, no_empty,
         |  starts_ok AND alternates_ok AND no_empty AS valid
         |FROM w ORDER BY conv_id""".stripMargin)),

    // SFT flatten: role-tagged training text trimmed to the system turn
    // + LAST 4 turns (the context-budget policy — recent turns carry the
    // signal, the system prompt never drops).
    Q("q155_chat_flatten", (s, dir) => {
      Chat.flattenChat(synthesizeTurns(Tables.documents(s, dir)),
          "conv_id", "turn_idx", "role", "content", keepLastTurns = Some(4))
        .orderBy("conv_id")
    }, Oracle(
      // same lists; keep = system turn + last 4 of the rest, then the
      // <|role|>content join with chr(10)
      s"""WITH $dTurnSynth,
         |f AS (SELECT conv_id, t,
         |  CASE WHEN t[1].r = 'system' THEN t[1:1] ELSE t[1:0] END AS sys,
         |  CASE WHEN t[1].r = 'system' THEN t[2:len(t)] ELSE t END AS rest FROM g),
         |k AS (SELECT conv_id, CAST(len(t) AS BIGINT) AS n_turns,
         |  list_concat(sys, CASE WHEN len(rest) <= 4 THEN rest
         |    ELSE rest[len(rest)-3 : len(rest)] END) AS kept FROM f),
         |o AS (SELECT conv_id, n_turns, kept,
         |  array_to_string(list_transform(kept, s -> '<|' || s.r || '|>' || s.x), chr(10)) AS fl FROM k)
         |SELECT conv_id, n_turns, CAST(len(kept) AS BIGINT) AS n_turns_kept,
         |  CAST(len(fl) AS BIGINT) AS n_chars, fl AS text
         |FROM o ORDER BY conv_id""".stripMargin)),

    // SFT loss masks: [start, end) char spans of every assistant turn in
    // q155's flattened text — what the loss actually trains on. Same
    // keepLastTurns=4 policy; ChatSpec pins substring identity.
    Q("q156_chat_spans", (s, dir) => {
      Chat.assistantSpans(synthesizeTurns(Tables.documents(s, dir)),
          "conv_id", "turn_idx", "role", "content", keepLastTurns = Some(4))
        .orderBy("conv_id", "span_idx")
    }, Oracle(
      // q155's kept list; per-turn offset = closed-form prefix sum of
      // len('<|') + role + '|>' + content + the chr(10) separator (+5/+4)
      s"""WITH $dTurnSynth,
         |f AS (SELECT conv_id, t,
         |  CASE WHEN t[1].r = 'system' THEN t[1:1] ELSE t[1:0] END AS sys,
         |  CASE WHEN t[1].r = 'system' THEN t[2:len(t)] ELSE t END AS rest FROM g),
         |k AS (SELECT conv_id, list_concat(sys, CASE WHEN len(rest) <= 4 THEN rest
         |    ELSE rest[len(rest)-3 : len(rest)] END) AS kept FROM f),
         |sp AS (SELECT conv_id, j,
         |  coalesce(list_sum(list_transform(range(1, j), i ->
         |    len(kept[i].r) + len(kept[i].x) + 5)), 0) AS off,
         |  kept[j].r AS role, len(kept[j].r) AS rl, len(kept[j].x) AS xl
         |  FROM k, unnest(range(1, len(kept) + 1)) AS u(j)),
         |a AS (SELECT conv_id, off + 2 + rl + 2 AS start_char,
         |  off + rl + xl + 4 AS end_char,
         |  row_number() OVER (PARTITION BY conv_id ORDER BY j) AS span_idx
         |  FROM sp WHERE role = 'assistant')
         |SELECT conv_id, CAST(span_idx AS BIGINT) AS span_idx,
         |  CAST(start_char AS BIGINT) AS start_char,
         |  CAST(end_char AS BIGINT) AS end_char,
         |  CAST(end_char - start_char AS BIGINT) AS n_label_chars
         |FROM a ORDER BY conv_id, span_idx""".stripMargin)),

    // Probe calibration curve (q137's other half: AUC says the scorer
    // RANKS; calibration says the scores MEAN something): equal-width
    // clamped-score deciles vs observed clean rate on the held-out slice.
    Q("q158_probe_calibration", (s, dir) =>
      probeCalibrationFrom(probeScored(s, dir)), Oracle(
      // q130/q137's shared scored CTE; clamped-score deciles vs the
      // observed clean rate on the odd-id held-out slice
      s"""WITH $dProbeScored,
         |e AS (SELECT doc_id, score,
         |  CASE WHEN doc_id >= 2000000 THEN 0.0 ELSE 1.0 END AS label
         |  FROM sc WHERE doc_id % 2 = 1),
         |b AS (SELECT CAST(floor(least(greatest(score, 0), 0.999999) * 10) AS BIGINT) AS bucket,
         |  score, label FROM e)
         |SELECT bucket, count(*) AS n_docs, round(avg(score), 6) AS mean_score,
         |  round(avg(label), 6) AS clean_rate
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // RLHF preference-pair audit: chosen = the doc, rejected = its
    // truncated-and-spammed variant; %17==0 pairs are seeded IDENTICAL
    // (zero-gradient, must be unusable). chosen_longer rate exposes the
    // verbosity bias a reward model would learn instead of quality.
    Q("q159_pref_audit", (s, dir) => {
      val pairs = Tables.documents(s, dir).select(col("doc_id"),
        col("text").as("chosen"),
        when(col("doc_id") % 17 === 0, col("text"))
          .otherwise(concat(substring(col("text"), 1, 60),
            lit(" buy cheap pills now"))).as("rejected"))
      Chat.preferenceAudit(pairs, "doc_id", "chosen", "rejected")
        .orderBy("doc_id")
    }, Oracle(
      // same seeded rejected variants; token counts mirror string_split
      """WITH p AS (SELECT doc_id, text AS chosen,
        |  CASE WHEN doc_id % 17 = 0 THEN text
        |       ELSE substr(text, 1, 60) || ' buy cheap pills now' END AS rejected
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(string_split(chosen, ' ')) AS BIGINT) AS n_tokens_chosen,
        |  CAST(len(string_split(rejected, ' ')) AS BIGINT) AS n_tokens_rejected,
        |  chosen = rejected AS identical,
        |  len(chosen) > 0 AND len(rejected) > 0 AS nonempty
        |  FROM p)
        |SELECT doc_id, n_tokens_chosen, n_tokens_rejected,
        |  round(n_tokens_chosen * 1.0 / n_tokens_rejected, 6) AS len_ratio,
        |  identical, n_tokens_chosen > n_tokens_rejected AS chosen_longer,
        |  NOT identical AND nonempty AS usable
        |FROM s ORDER BY doc_id""".stripMargin)),

    // Main-content extraction (jusText/trafilatura-class boilerplate
    // removal — the stage between Warc payloads and EVERY text stage):
    // each doc rendered into a chrome-laden page (nav links, h1, even-id
    // share strip, link+copyright footer); the block classifier must keep
    // the body paragraph and drop the chrome stripMarkup would leak.
    Q("q166_main_content", (s, dir) => {
      // 50‰ stopword bar: the synthetic corpus is keyword soup (median
      // stopword ratio 62‰ vs real prose's ~300‰), so the prose default
      // of 200‰ would blanket-drop every body; 50‰ splits the corpus
      // meaningfully, and the chrome still drops via link density/length
      TextAnalysis.extractMainContent(
        Tables.documents(s, dir).select(col("doc_id"), synthPage.as("_html")),
        "doc_id", "_html", minStopPerMille = 50)
        .orderBy("doc_id")
    }, Oracle(
      // block split + per-block (text, link-chars, words, stopwords) +
      // integer-rule classification, term-for-term with
      // TextAnalysis.extractMainContent; regexes are RE2-safe (classes +
      // alternation + non-greedy only) and replaces carry the 'g' flag
      // DuckDB needs for Spark's replace-all semantics
      """WITH pages AS (
        |  SELECT doc_id,
        |    '<html><body><nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact us</a></nav>'
        |    || '<h1>Post ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>'
        |    || CASE WHEN doc_id % 2 = 0 THEN '<div class="share"><a href="/s">Share</a> <a href="/t">Tweet</a></div>' ELSE '' END
        |    || '<footer><a href="/privacy">Privacy policy</a> <a href="/terms">Terms</a> Copyright 2024 Example Corp</footer></body></html>'
        |    AS html
        |  FROM documents),
        |stats AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(
        |        regexp_split_to_array(html, '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|thead|tbody|tr|td|th|section|article|header|footer|nav|aside|blockquote|pre|form)\b[^>]*>'),
        |        b -> struct_pack(
        |          txt := trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
        |          lc := coalesce(list_sum(list_transform(
        |                  regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a>', 1),
        |                  a -> length(trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))))), 0),
        |          nw := len(list_filter(regexp_split_to_array(lower(trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))), '[^a-z]+'), w -> w <> '')),
        |          ns := len(list_filter(list_filter(regexp_split_to_array(lower(trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))), '[^a-z]+'), w -> w <> ''),
        |                    w -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this','are','from','have','not','but','they','his','her','you','we'], w)))
        |        )),
        |      s -> length(s['txt']) > 0) AS nb
        |  FROM pages),
        |splitk AS (
        |  SELECT doc_id, nb,
        |    list_filter(nb, s -> length(s['txt']) >= 25 AND s['lc'] * 3 <= length(s['txt'])
        |                     AND s['nw'] >= 1 AND s['ns'] * 1000 >= s['nw'] * 50) AS kb
        |  FROM stats)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      coalesce(array_to_string(list_transform(kb, s -> s['txt']), ' '), ''),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS main_text,
        |  len(nb)::BIGINT AS n_blocks,
        |  len(kb)::BIGINT AS n_content_blocks,
        |  coalesce(list_sum(list_transform(kb, s -> length(s['txt']))), 0)::BIGINT AS chars_kept,
        |  (coalesce(list_sum(list_transform(nb, s -> length(s['txt']))), 0)
        |   - coalesce(list_sum(list_transform(kb, s -> length(s['txt']))), 0))::BIGINT AS chars_dropped
        |FROM splitk ORDER BY doc_id""".stripMargin)),

    // Per-host quota cap (RefinedWeb/CCNet anti-concentration): at most
    // 25 docs per canonical host of the q123/q125 crawl-URL synthesis,
    // preferring longer documents (ties by id) — link farms stop
    // dominating the mixture by page count.
    Q("q169_host_quota", (s, dir) => {
      val d = Tables.documents(s, dir).withColumn("url", crawlUrl)
        .withColumn("score", length(col("text")).cast("long"))
      TextAnalysis.hostQuotaCap(d, "doc_id", "url", "score", quota = 25)
        .select(col("host"), col("rank"), col("doc_id"), col("score"))
        .orderBy("host", "rank")
    }, Oracle(
      // q123's URL synthesis + q125's host extraction; rank window by
      // (length desc, id asc) capped at 25 per host
      """WITH u AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS score,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END) ||
        |  source || '.example.com/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
        |  FROM documents),
        |h AS (SELECT doc_id, score, regexp_replace(lower(regexp_extract(
        |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
        |    '^([^/?#]*)', 1)), '^www\.', '') AS host FROM u),
        |r AS (SELECT host, doc_id, score,
        |  CAST(row_number() OVER (PARTITION BY host ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |  FROM h)
        |SELECT host, rank, doc_id, score FROM r WHERE rank <= 25
        |ORDER BY host, rank""".stripMargin)),

    // Compression-ratio gate (Gopher/DCLM zlib signal): %6==0 docs are
    // replaced by a repeated template phrase (the re-crawled boilerplate
    // page whose long-range repetition n-gram and entropy filters
    // under-detect) and must fall below the bracket. DEFLATE bytes are
    // zlib-version-dependent -> rows-only check; the ordering contract
    // is pinned in FunctionsSpec.
    Q("q173_compression_gate", (s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          expr("repeat('all work and no play makes jack a dull boy ', 30)"))
          .otherwise(col("text")).as("text"))
      TextAnalysis.compressionQuality(seeded, "doc_id", "text")
        .orderBy("doc_id")
    }, RowsOnly.Deflate),

    // q173's exact twin: the BOILERPLATE-FLOOR verdict alone is a pure
    // function of the doc id on this corpus — repeated-template docs
    // compress ~20x (ratio 0.047) while the most compressible natural doc
    // sits near 0.38, an 8x margin on BOTH sides of the 0.1 floor, so the
    // below-floor bit is robust to any conforming DEFLATE implementation
    // even though the byte counts themselves are zlib-version-dependent
    // (why q173 stays rows-only). This makes the gate's core detection
    // signal — the re-crawled-boilerplate catch — hash-checked against a
    // DuckDB oracle that never decompresses anything.
    Q("q193_compression_floor", (s, dir) => {
      val seeded = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          expr("repeat('all work and no play makes jack a dull boy ', 30)"))
          .otherwise(col("text")).as("text"))
      TextAnalysis.compressionQuality(seeded, "doc_id", "text")
        .select(col("doc_id"), (col("deflate_ratio") < lit(0.1)).as("below_floor"))
        .orderBy("doc_id")
    }, Oracle(
      // The images cannot be decoded in SQL, but they don't need to be: the
      // generator (Media.syntheticImage) makes near-dup structure a pure
      // function of the id — renderings pair iff they share a pattern
      // (id % 16) — and MediaSpec pins the dHash distance margins that make
      // the banded-pair output equal exactly that relation.
      // The floor verdict is id-arithmetic (see the query comment): only the
      // synthesized template docs fall below the 0.1 boilerplate floor.
      """SELECT doc_id, doc_id % 6 = 0 AS below_floor
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // Weighted per-language sampling without replacement (A-ES): 20 docs
    // per language, longer docs proportionally more likely — the
    // "sample N per slice, quality-weighted" mixture primitive;
    // hash-deterministic and prefix-stable like every sampler here.
    Q("q174_weighted_sample", (s, dir) => {
      Stats.weightedSamplePerGroup(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("lang"), col("text"), col("n_chars")),
          Seq("lang"), col("text"), "n_chars", k = 20, tieBreak = Seq("doc_id"))
        .select(col("lang"), col("sample_rank"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "sample_rank")
    }, Oracle(
      // A-ES key ln(u)/w off the same universal-mix hash (dbucket mirrors
      // Stats.hashBucket); rank desc, ties by doc_id
      s"""WITH kk AS (SELECT doc_id, lang, n_chars,
         |  ln((${dbucket("text", 1000000)} + 0.5) / 1000000.0) / n_chars AS es
         |  FROM documents WHERE n_chars > 0),
         |r AS (SELECT lang, doc_id, n_chars,
         |  CAST(row_number() OVER (PARTITION BY lang ORDER BY es DESC, doc_id) AS BIGINT) AS sample_rank
         |  FROM kk)
         |SELECT lang, sample_rank, doc_id, n_chars FROM r WHERE sample_rank <= 20
         |ORDER BY lang, sample_rank""".stripMargin)),

    // Cross-host template-farm detection: %7==0 docs are stamped with one
    // of 8 SEO templates (7 is coprime with the 20-host crawl, so each
    // template spans 5 hosts) and must flag, while every natural doc
    // stays host-unique and silent.
    Q("q178_template_farms", (s, dir) => {
      val seeded = Tables.documents(s, dir).withColumn("url", crawlUrl)
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(lit("Welcome to our site! Best deals on topic "),
              (col("doc_id") % 8).cast("string"),
              lit(" click here to learn more and subscribe")))
            .otherwise(col("text")))
      TextAnalysis.templateFarms(seeded, "doc_id", "url", "text", minHosts = 3)
        .orderBy("fp")
    }, Oracle(
      // q123's URL synthesis + q125's host extraction + q127's
      // normalization, portable poly-31 fingerprint, one group aggregate
      s"""WITH u AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN 'Welcome to our site! Best deals on topic ' ||
         |    CAST(doc_id % 8 AS VARCHAR) || ' click here to learn more and subscribe'
         |  ELSE text END AS text,
         |  (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
         |  (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END) ||
         |  source || '.example.com/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
         |  (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
         |  (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END) ||
         |  (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
         |  FROM documents),
         |h AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'), ' +', ' ', 'g')) AS norm,
         |  regexp_replace(lower(regexp_extract(
         |    regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
         |    '^([^/?#]*)', 1)), '^www\\.', '') AS host FROM u),
         |f AS (SELECT ${dhash("norm")} AS fp, host, doc_id FROM h),
         |g AS (SELECT fp, count(*) AS n_docs, CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
         |  min(doc_id) AS first_doc FROM f GROUP BY fp)
         |SELECT fp, n_docs, n_hosts, first_doc FROM g WHERE n_hosts >= 3
         |ORDER BY fp""".stripMargin)),

    // PageRank over a synthesized doc link graph (two modular out-links
    // per doc; the %11==5 slice is dangling) — the crawl-authority
    // signal link-graph curation keys on, 3 power-iteration rounds.
    Q("q182_pagerank", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"))
      val n = d.count()
      val linkers = d.where(col("doc_id") % 11 =!= 5)
      val edges = linkers
        .select(col("doc_id").as("src"), ((col("doc_id") * 3 + 1) % n).as("dst"))
        .unionByName(linkers
          .select(col("doc_id").as("src"), ((col("doc_id") * 7 + 3) % n).as("dst")))
      // parallel-edge dedup happens inside pageRank (operator contract)
      Graph.pageRank(d.select(col("doc_id").as("id")), edges, iters = 3)
        .orderBy("id")
    }, Oracle(
      // the same graph synthesis; three unrolled power-iteration rounds
      // with per-round dangling redistribution, term-for-term with
      // Graph.pageRank ((1-d)/n + d*(in + dang/n), d = 0.85)
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |lk AS (SELECT doc_id FROM documents WHERE doc_id % 11 != 5),
        |e AS (SELECT doc_id AS src, (doc_id * 3 + 1) % n AS dst FROM lk, nn
        |  UNION SELECT doc_id, (doc_id * 7 + 3) % n FROM lk, nn),
        |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
        |ids AS (SELECT doc_id AS id FROM documents),
        |r0 AS (SELECT id, 1.0 / n AS r FROM ids, nn),
        |d1 AS (SELECT coalesce(sum(r), 0) AS dang FROM r0 LEFT JOIN deg ON id = src WHERE src IS NULL),
        |c1 AS (SELECT e.dst AS id, sum(r0.r / deg.deg) AS cin
        |  FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r1 AS (SELECT ids.id, 0.15 / n + 0.85 * (coalesce(cin, 0) + dang / n) AS r
        |  FROM ids LEFT JOIN c1 USING (id) CROSS JOIN d1 CROSS JOIN nn),
        |d2 AS (SELECT coalesce(sum(r), 0) AS dang FROM r1 LEFT JOIN deg ON id = src WHERE src IS NULL),
        |c2 AS (SELECT e.dst AS id, sum(r1.r / deg.deg) AS cin
        |  FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r2 AS (SELECT ids.id, 0.15 / n + 0.85 * (coalesce(cin, 0) + dang / n) AS r
        |  FROM ids LEFT JOIN c2 USING (id) CROSS JOIN d2 CROSS JOIN nn),
        |d3 AS (SELECT coalesce(sum(r), 0) AS dang FROM r2 LEFT JOIN deg ON id = src WHERE src IS NULL),
        |c3 AS (SELECT e.dst AS id, sum(r2.r / deg.deg) AS cin
        |  FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src GROUP BY 1),
        |r3 AS (SELECT ids.id, 0.15 / n + 0.85 * (coalesce(cin, 0) + dang / n) AS r
        |  FROM ids LEFT JOIN c3 USING (id) CROSS JOIN d3 CROSS JOIN nn)
        |SELECT id, round(r, 6) AS rank FROM r3 ORDER BY id""".stripMargin)),

    // q173's FULL-BRACKET twin (q193 gates only the floor bit): on a
    // three-class fixture the keep verdict is pure id arithmetic. Class
    // %3=0 is the repeated template phrase (period-44 repetition, any
    // zlib level emits back-references -> ratio ~0.042, 2.4x under the
    // 0.1 floor); class %3=1 is Murmur3-driven printable-ASCII noise
    // (94-char alphabet = 6.55 bits/char entropy, patternless to
    // DEFLATE's LZ77+Huffman -> ratio ~0.85, above the 0.75 ceiling);
    // class %3=2 keeps the real document text, restricted to
    // n_chars >= 300 where this corpus's prose sits in [0.39, 0.51] —
    // ~3x above the floor and ~1.5x under the ceiling (shorter docs
    // drift toward 0.75 as the fixed DEFLATE block overhead dominates:
    // the sub-100-char tail reaches 0.91). The floor margin is PROVABLE
    // for any compressor that emits matches; the ceiling margin is
    // entropy-capped (no printable-text class can exceed ~0.85 before
    // zlib's stored-block fallback caps the ratio near 1.0 only for
    // BINARY payloads) and therefore measured, not provable — EntrySpec
    // pins all three class brackets and documents why no fixture can
    // prove the ceiling across zlib versions.
    Q("q218_compression_bracket_twin", (s, dir) => {
      val seeded = Tables.documents(s, dir).where(col("n_chars") >= 300)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            expr("repeat('all work and no play makes jack a dull boy ', 30)"))
          .when(col("doc_id") % 3 === 1,
            expr("array_join(transform(sequence(1, 1200), " +
              "j -> chr(33 + pmod(hash(doc_id, j), 94))), '')"))
          .otherwise(col("text")).as("text"))
      TextAnalysis.compressionQuality(seeded, "doc_id", "text")
        .select(col("doc_id"), col("keep"))
        .orderBy("doc_id")
    }, Oracle(
      // The bracket verdict on the three-class fixture is id arithmetic:
      // only the untouched real-text class (%3=2, prose >= 1000 chars)
      // lands inside [0.1, 0.75] — the template class compresses ~20x
      // below the floor and the printable-ASCII noise class is entropy-
      // bound above the ceiling. Margins measured + documented in
      // EntrySpec; the oracle never deflates anything.
      """SELECT doc_id, doc_id % 3 = 2 AS keep
        |FROM documents WHERE n_chars >= 300 ORDER BY doc_id""".stripMargin)),
  )
}
