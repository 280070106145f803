package graft
package catalog

import SparkEntry._
import graft.meta.Tables
import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Exact, fuzzy and near-duplicate detection over documents, images and
  * audio: LSH, connected components, span and incremental scrubs. */
private[graft] object DedupQueries {
  val entries: Seq[Q] = Seq(

    // Exact dedup keep-first (deterministic dropDuplicates).
    Q("q21_dedup_exact", (s, dir) => {
      Dedup.dedupKeepFirst(Tables.events(s, dir),
        Seq("user_id", "event_type"), Seq("ts", "event_id"))
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    }, Oracle(
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts FROM (
        |SELECT user_id, event_type, event_id, ts,
        |row_number() OVER (PARTITION BY user_id, event_type ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    // Duplicate-cluster stats by fingerprint.
    Q("q22_dup_stats", (s, dir) => {
      Dedup.duplicateStats(Tables.documents(s, dir),
        md5(concat_ws("|", col("lang"), col("source"))))
        .orderBy("fingerprint")
    }, Oracle(
      """SELECT md5(concat_ws('|', lang, source)) AS fingerprint, count(*) AS n_docs
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint""".stripMargin)),

    // MinHash + LSH banding near-dup candidates.
    Q("q24_minhash_lsh", (s, dir) => {
      Dedup.lshCandidatePairs(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }, Oracle(
      s"""WITH $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |CAST(list_sum(list_transform(range(1, 17), i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16.0 AS est_jaccard
         |FROM pairs ORDER BY id_a, id_b""".stripMargin)),

    // SimHash fingerprints.
    Q("q25_simhash", (s, dir) => {
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }, Oracle(
      s"""WITH th AS (SELECT doc_id, list_transform(string_split(text, ' '), s -> ${dhash("s")}) AS hs FROM documents)
         |SELECT doc_id, CAST(list_sum(list_transform(range(0, 16),
         |b -> CASE WHEN list_sum(list_transform(hs,
         |h -> CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
         |THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM th ORDER BY doc_id""".stripMargin)),

    // n-gram Jaccard within a bounded id window (hash table computed once).
    Q("q26_jaccard_pairs", (s, dir) => {
      Dedup.jaccardWithinGap(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("id_a", "id_b")
    }, Oracle(
      s"""WITH hs AS (SELECT doc_id, ${dShingleHashes("text")} AS hashes FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |round(CAST(len(list_filter(a.hashes, h -> list_contains(b.hashes, h))) AS DOUBLE) /
         |CAST(len(list_distinct(a.hashes || b.hashes)) AS DOUBLE), 6) AS jaccard
         |FROM hs a JOIN hs b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3
         |ORDER BY id_a, id_b""".stripMargin)),

    // Fuzzy near-dup pairs: prefix blocking + thresholded levenshtein
    // (banded DP) — typo-level dedup complementing MinHash/LSH.
    Q("q75_fuzzy_pairs", (s, dir) => {
      Dedup.fuzzyPairs(Tables.documents(s, dir), "doc_id", "text", 6)
        .orderBy("id_a", "id_b")
    }, Oracle(
      // Same two-pass blocking as the Spark side: forward 16-char prefix OR
      // reversed-text prefix (UNION dedups the pair set), length bound, then
      // exact levenshtein. edit_dist cast to INTEGER (Spark levenshtein is int).
      """WITH t AS (SELECT doc_id, text, substr(text, 1, 16) AS pfx,
        |substr(reverse(text), 1, 16) AS pfr, length(text) AS ln FROM documents),
        |c AS (
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
        |FROM t a JOIN t b ON a.pfx = b.pfx AND a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= 6
        |UNION
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.text AS ta, b.text AS tb
        |FROM t a JOIN t b ON a.pfr = b.pfr AND a.doc_id < b.doc_id AND abs(a.ln - b.ln) <= 6)
        |SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS INTEGER) AS edit_dist
        |FROM c WHERE levenshtein(ta, tb) <= 6
        |ORDER BY id_a, id_b""".stripMargin)),

    // Dedup clusters: LSH candidate pairs -> connected components (min-label
    // propagation, keyed joins only). Cluster id = smallest member doc_id,
    // i.e. the canonical representative a dedup pass would keep.
    Q("q65_dedup_clusters", (s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = Dedup.lshCandidatePairs(d, "doc_id", "text").select("id_a", "id_b")
      Dedup.connectedComponents(d.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
        .orderBy("doc_id")
    }, Oracle(
      s"""WITH RECURSIVE $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst)
         |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // The extreme-scale CC twin: same clusters as q65 via alternating
    // large-star/small-star rounds (O(log^2 n) rounds vs graph diameter) —
    // the algorithm to run when dup chains are deep. Same oracle as q65.
    Q("q79_cc_star", (s, dir) => {
      val d = Tables.documents(s, dir)
      val pairs = Dedup.lshCandidatePairs(d, "doc_id", "text").select("id_a", "id_b")
      Dedup.connectedComponentsStar(d.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
        .orderBy("doc_id")
    }, Oracle(
      // Same clusters, different distributed algorithm on the Spark side
      // (large-star/small-star) — the oracle is the q65 reachability CTE.
      s"""WITH RECURSIVE $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst)
         |SELECT id AS doc_id, CAST(min(m) AS BIGINT) AS cluster
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // C4 span-level dedup: corpus-wide 3-line-span duplicate stats over
    // the SAME synthesized line structure as q88 (duplicate TEXTS in the
    // corpus make their spans corpus-wide dups).
    Q("q91_span_dedup", (s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      Dedup.spanDupStats(lined, "doc_id", "text", 3).orderBy("doc_id")
    }, Oracle(
      s"""WITH ${dLineSynth(withPunct = false)},
         |sp AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    ${dhash("array_to_string(ln[i:i+2], chr(10))")} AS h
         |  FROM t1, unnest(range(1, len(ln) - 1)) AS r(i)),
         |j AS (SELECT doc_id, pos, h,
         |  count(*) OVER (PARTITION BY h) AS n_occ,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sp)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |  CAST(sum(CASE WHEN n_occ > 1 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // The composite pretraining filter — the user-story endpoint chaining
    // four independently-oracled stages into one per-doc verdict: Gopher
    // quality rules AND repetition rules AND char-LM score above -0.78
    // (6-dp-rounded compare; the corpus's closest score sits 1e-5 off the
    // boundary at every SF) AND exact-dup keep-first. Docs too short to
    // emit a trigram fail the LM gate via the null coalesce.
    Q("q103_pretrain_filter", (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val gq = TextAnalysis.gopherQualityFlags(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("g_keep"))
      val rep = TextAnalysis.repetitionStats(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("r_keep"))
      val lm = TextAnalysis.charTrigramLogProb(docs, "doc_id", "text")
        .select(col("doc_id"), col("avg_logp"))
      val firsts = Dedup.dedupKeepFirst(docs, Seq("text"), Seq("doc_id"))
        .select(col("doc_id"), lit(true).as("_first"))
      docs.select("doc_id")
        .join(gq, "doc_id").join(rep, "doc_id")
        .join(lm, Seq("doc_id"), "left")
        .join(firsts, Seq("doc_id"), "left")
        .withColumn("lm_keep", coalesce(col("avg_logp") > lit(-0.78), lit(false)))
        .withColumn("dup_keep", coalesce(col("_first"), lit(false)))
        .withColumn("kept",
          col("g_keep") && col("r_keep") && col("lm_keep") && col("dup_keep"))
        .select("doc_id", "g_keep", "r_keep", "lm_keep", "dup_keep", "kept")
        .orderBy("doc_id")
    }, Oracle(
      // each stage's CTE is copied verbatim from its own green oracle
      // (q87 gopher, q83 repetition, q99 char-LM); conditions apply to the
      // same ROUNDED values the operators emit
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
        |tri AS (SELECT doc_id, substr(text, i, 3) AS g
        |  FROM documents, unnest(range(1, greatest(len(text) - 2, 0) + 1)) AS r(i)),
        |c3 AS (SELECT g, count(*) AS c FROM tri GROUP BY g),
        |c2 AS (SELECT substr(g, 1, 2) AS p, sum(c) AS cp FROM c3 GROUP BY 1),
        |vv AS (SELECT count(DISTINCT substr(g, 3, 1)) AS nv FROM c3),
        |lm AS (SELECT tr.doc_id, round(avg(ln((c3.c + 0.5) / (c2.cp + 0.5 * vv.nv))), 6) AS avg_logp
        |  FROM tri tr JOIN c3 ON tr.g = c3.g JOIN c2 ON substr(tr.g, 1, 2) = c2.p CROSS JOIN vv
        |  GROUP BY tr.doc_id),
        |d AS (SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM documents)
        |SELECT t.doc_id, g_keep, r_keep,
        |  coalesce(avg_logp > -0.78, false) AS lm_keep, (rn = 1) AS dup_keep,
        |  (g_keep AND r_keep AND coalesce(avg_logp > -0.78, false) AND rn = 1) AS kept
        |FROM t JOIN gq ON t.doc_id = gq.doc_id JOIN rep ON t.doc_id = rep.doc_id
        |LEFT JOIN lm ON t.doc_id = lm.doc_id JOIN d ON t.doc_id = d.doc_id
        |ORDER BY t.doc_id""".stripMargin)),

    // C4 span-level SCRUB: the transform twin of q91's audit — same
    // synthesized line structure, same 3-line spans and canonical-first
    // rank, but emitting the CLEANED text with covered lines deleted.
    Q("q105_span_scrub", (s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      Dedup.spanScrub(lined, "doc_id", "text", 3).orderBy("doc_id")
    }, Oracle(
      // q91's span CTEs verbatim (same hash, same canonical-first rank),
      // then: removed spans expand to covered 1-based line indices, lines
      // rebuild positionally, and the cleaned text re-joins with chr(10).
      // Docs with no removals (incl. shorter-than-3-lines) pass through.
      s"""WITH ${dLineSynth(withPunct = false)},
         |sp AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    ${dhash("array_to_string(ln[i:i+2], chr(10))")} AS h
         |  FROM t1, unnest(range(1, len(ln) - 1)) AS r(i)),
         |j AS (SELECT doc_id, pos,
         |  count(*) OVER (PARTITION BY h) AS n_occ,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sp),
         |rm AS (SELECT DISTINCT doc_id, pos + k AS ri
         |  FROM j, unnest(range(0, 3)) AS t(k) WHERE n_occ > 1 AND rn > 1),
         |u AS (SELECT doc_id, CAST(i AS INTEGER) AS li, ln[i] AS line
         |  FROM t1, unnest(range(1, len(ln) + 1)) AS r(i)),
         |kept AS (SELECT u.doc_id,
         |    array_to_string(list(u.line ORDER BY u.li), chr(10)) AS ct
         |  FROM u LEFT JOIN rm ON u.doc_id = rm.doc_id AND u.li = rm.ri
         |  WHERE rm.ri IS NULL GROUP BY u.doc_id),
         |nr AS (SELECT doc_id, count(*) AS n_rm FROM rm GROUP BY doc_id)
         |SELECT t1.doc_id, CAST(len(ln) AS BIGINT) AS n_lines,
         |  CAST(coalesce(nr.n_rm, 0) AS BIGINT) AS n_removed_lines,
         |  coalesce(kept.ct, '') AS clean_text
         |FROM t1 LEFT JOIN kept ON t1.doc_id = kept.doc_id
         |LEFT JOIN nr ON t1.doc_id = nr.doc_id
         |ORDER BY t1.doc_id""".stripMargin)),

    // IMAGE near-dup dedup end-to-end — the multimodal arm of the dedup
    // ladder as a driver query: 64 deterministic synthetic images (16
    // patterns x 4 renderings; renderings alternate PNG/JPEG, so each
    // pattern's cluster holds exact byte-dups AND true re-encode
    // near-dups) -> perceptual dHash (Media.imageDHashes: bytes never
    // shuffle, the hash is computed where the row lives) -> Manku-banded
    // Hamming pairs (never all-pairs). The images are synthesized because
    // the container ships no image corpora; the generator is seeded by
    // construction (Media.syntheticImage), so the PAIR STRUCTURE is the
    // oracle: ids pair iff they share a pattern (id % 16), which plain SQL
    // can state without decoding anything. MediaSpec pins the distance
    // margins (within-pattern <= 3 bits, cross-pattern far) that make the
    // equivalence hold.
    Q("q192_image_neardup", (s, dir) => {
      import s.implicits._
      val entries = s.range(64).as[Long].map { k =>
        val fmt = if ((k / 16) % 2 == 0) "png" else "jpg"
        Media.ZipEntryRow("synth", f"img_$k%03d.$fmt",
          Media.syntheticImage((k % 16).toInt, fmt))
      }
      val hashes = Media.imageDHashes(entries)
        .select(regexp_extract(col("entry"), "img_(\\d+)", 1)
          .cast("long").as("img_id"), col("dhash"))
      Dedup.hammingNearDupPairs64(hashes, "img_id", "dhash", maxHamming = 3)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }, Oracle(
      """WITH k AS (SELECT range AS k FROM range(0, 64))
        |SELECT a.k AS id_a, b.k AS id_b
        |FROM k a JOIN k b ON a.k % 16 = b.k % 16 AND a.k < b.k
        |ORDER BY id_a, id_b""".stripMargin)),

    // AUDIO near-dup dedup end-to-end — q192's construction on the third
    // modality: 64 deterministic synthetic recordings (16 patterns x 4
    // renderings at different sample rates AND gains — the two edits a
    // re-encoded copy actually has) -> WAV decode + energy-contour hash
    // (Sound.audioAudit: bytes never shuffle) -> the SAME Manku-banded
    // Hamming pair machinery. Near-dup structure is a pure function of the
    // id (renderings pair iff same pattern), so the check is a full hash
    // match; SoundSpec pins the rate/gain-invariance and cross-pattern
    // margins the equivalence rests on.
    Q("q194_audio_neardup", (s, dir) => {
      import s.implicits._
      val renders = Seq((8000, 1.0), (16000, 1.0), (8000, 0.5), (11025, 0.8))
      val files = s.range(64).as[Long].map { k =>
        val (rate, gain) = renders((k / 16).toInt)
        (f"rec_$k%03d.wav", Sound.syntheticWav((k % 16).toInt, rate, gain))
      }.toDF("path", "content")
      val hashes = Sound.audioAudit(files)
        .select(regexp_extract(col("path"), "rec_(\\d+)", 1)
          .cast("long").as("rec_id"), col("ehash"))
      Dedup.hammingNearDupPairs64(hashes, "rec_id", "ehash", maxHamming = 3)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }, Oracle(
      // Same id-arithmetic relation as q192 (see the query comment): the
      // energy-contour hash cannot be computed in SQL, but the pairing it
      // must produce can.
      """WITH k AS (SELECT range AS k FROM range(0, 64))
        |SELECT a.k AS id_a, b.k AS id_b
        |FROM k a JOIN k b ON a.k % 16 = b.k % 16 AND a.k < b.k
        |ORDER BY id_a, id_b""".stripMargin)),

    // Fuzzy-dedup SCRUB: the transform twin of q65's cluster audit — keep
    // exactly one document (the smallest-id member) per MinHash-LSH
    // near-dup cluster and hand back the deduplicated corpus.
    Q("q108_fuzzy_scrub", (s, dir) => {
      Dedup.fuzzyDedupKeepFirst(Tables.documents(s, dir), "doc_id", "text")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }, Oracle(
      // q65's cluster CTEs verbatim; kept = docs that ARE their cluster's
      // min label (the canonical member fuzzyDedupKeepFirst retains)
      s"""WITH RECURSIVE $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst),
         |kept AS (SELECT id FROM reach GROUP BY id HAVING min(m) = id)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d JOIN kept k ON d.doc_id = k.id
         |ORDER BY d.doc_id""".stripMargin)),

    // Quality-aware fuzzy dedup: q108's clusters, but keep the LONGEST
    // member per near-dup cluster (ties by smallest id) — the canonical
    // selection production pipelines run. At sf0.01, 11 of 24 multi-member
    // clusters pick a different survivor than keep-first.
    Q("q110_fuzzy_keep_best", (s, dir) => {
      Dedup.fuzzyDedupKeepBest(Tables.documents(s, dir), "doc_id", "text",
        col("n_chars"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }, Oracle(
      // q108's cluster CTEs verbatim; survivor = row_number 1 per
      // component under (n_chars DESC, doc_id ASC) — fuzzyDedupKeepBest's
      // quality-then-id rank
      s"""WITH RECURSIVE $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst),
         |comp AS (SELECT id, min(m) AS component FROM reach GROUP BY id),
         |ranked AS (SELECT c.id,
         |  row_number() OVER (PARTITION BY c.component ORDER BY d.n_chars DESC, d.doc_id) AS rk
         |  FROM comp c JOIN documents d ON d.doc_id = c.id)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d JOIN ranked r ON d.doc_id = r.id AND r.rk = 1
         |ORDER BY d.doc_id""".stripMargin)),

    // Intra-document repeated-line scrub on the lined corpus, salted by
    // appending each doc's first two lines (trailing repeated boilerplate
    // — the nav-bar/footer shape). Zero-shuffle: one codegen'd projection.
    Q("q111_line_dedup", (s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      val salted = lined.select(col("doc_id"),
        concat_ws("\n", col("text"),
          concat_ws("\n", slice(split(col("text"), "\n", -1), 1, 2))).as("text"))
      Dedup.lineDedupInDoc(salted, "doc_id", "text").orderBy("doc_id")
    }, Oracle(
      // the q105 lined corpus, salted with each doc's first two lines
      // appended; keep = first occurrence per (doc, line), text rebuilds
      // positionally from kept lines
      s"""WITH ${dLineSynth(withPunct = false)},
         |s AS (SELECT doc_id, list_concat(ln, ln[1:2]) AS ln FROM t1),
         |u AS (SELECT doc_id, CAST(i AS INTEGER) AS li, ln[i] AS line
         |  FROM s, unnest(range(1, len(ln) + 1)) AS r(i)),
         |k AS (SELECT doc_id, li, line,
         |  row_number() OVER (PARTITION BY doc_id, line ORDER BY li) AS rn FROM u)
         |SELECT doc_id, count(*) AS n_lines,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed_lines,
         |  array_to_string(list(line ORDER BY li) FILTER (WHERE rn = 1), chr(10)) AS clean_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Incremental ingest dedup: even-id docs are the already-ingested
    // corpus (fingerprint index); the new batch = odd docs (genuinely
    // new) + re-crawled copies of every 6th even doc (must drop: seen
    // fingerprint) + re-issued copies of every 10th odd doc (intra-batch
    // dup: keep-first retains the smaller original id). Survivors are
    // exactly the odd docs under their original ids.
    Q("q112_incremental_dedup", (s, dir) => {
      val d = Tables.documents(s, dir)
      val seen = Dedup.fingerprints(d.where(col("doc_id") % 2 === 0), "text")
      val batch = d.where(col("doc_id") % 2 === 1)
        .unionByName(d.where(col("doc_id") % 6 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
        .unionByName(d.where(col("doc_id") % 10 === 1)
          .withColumn("doc_id", col("doc_id") + 2000000L))
      Dedup.incrementalDedupKeepFirst(batch, "doc_id", "text", seen)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }, Oracle(
      // seen = fingerprints of even docs; batch = odd + re-crawls of every
      // 6th even (+1000000) + re-issues of every 10th odd (+2000000);
      // anti-join on the fingerprint, then keep-first within the batch
      s"""WITH seen AS (SELECT DISTINCT ${dhash("text")} AS h
         |  FROM documents WHERE doc_id % 2 = 0),
         |batch AS (
         |  SELECT doc_id, text, lang, n_chars FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id + 1000000, text, lang, n_chars FROM documents WHERE doc_id % 6 = 0
         |  UNION ALL SELECT doc_id + 2000000, text, lang, n_chars FROM documents WHERE doc_id % 10 = 1),
         |hashed AS (SELECT doc_id, lang, n_chars, ${dhash("text")} AS h FROM batch),
         |fresh AS (SELECT * FROM hashed WHERE h NOT IN (SELECT h FROM seen)),
         |k AS (SELECT doc_id, lang, n_chars,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM fresh)
         |SELECT doc_id, lang, n_chars FROM k WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Boilerplate-line scrub: lines of the lined corpus appearing in >2
    // distinct documents are nav/footer-class boilerplate — every
    // occurrence deleted (no canonical survivor, unlike q105's span
    // scrub). DF aggregates over int64 line hashes only.
    Q("q116_boilerplate_scrub", (s, dir) => {
      val lined = synthesizeLines(Tables.documents(s, dir), withPunct = false)
      Dedup.boilerplateLineScrub(lined, "doc_id", "text", maxDocFreq = 2)
        .orderBy("doc_id")
    }, Oracle(
      // Line document-frequency over per-doc DISTINCT line hashes (a line
      // repeated within one doc counts once), DF > 2 lines deleted from
      // every document — no canonical survivor.
      s"""WITH ${dLineSynth(withPunct = false)},
         |u AS (SELECT doc_id, CAST(i AS INTEGER) AS li, ln[i] AS line,
         |    ${dhash("ln[i]")} AS h
         |  FROM t1, unnest(range(1, len(ln) + 1)) AS r(i)),
         |df AS (SELECT h, count(DISTINCT doc_id) AS df FROM u GROUP BY h),
         |bad AS (SELECT h FROM df WHERE df > 2),
         |rm AS (SELECT DISTINCT u.doc_id, u.li FROM u JOIN bad ON u.h = bad.h),
         |kept AS (SELECT u.doc_id,
         |    array_to_string(list(u.line ORDER BY u.li), chr(10)) AS ct
         |  FROM u LEFT JOIN rm ON u.doc_id = rm.doc_id AND u.li = rm.li
         |  WHERE rm.li IS NULL GROUP BY u.doc_id),
         |nr AS (SELECT doc_id, count(*) AS n_rm FROM rm GROUP BY doc_id)
         |SELECT t1.doc_id, CAST(len(ln) AS BIGINT) AS n_lines,
         |  CAST(coalesce(nr.n_rm, 0) AS BIGINT) AS n_removed_lines,
         |  coalesce(kept.ct, '') AS clean_text
         |FROM t1 LEFT JOIN kept ON t1.doc_id = kept.doc_id
         |LEFT JOIN nr ON t1.doc_id = nr.doc_id
         |ORDER BY t1.doc_id""".stripMargin)),

    // ExactSubstr dedup (Lee et al. 2021) at 10-token windows over the
    // RAW corpus text: every token covered by a non-canonical duplicated
    // window is deleted; overlapping windows merge via the covered-index
    // union (969 duplicated 10-token windows exist at sf0.01).
    Q("q117_token_span_scrub", (s, dir) => {
      Dedup.tokenSpanScrub(Tables.documents(s, dir), "doc_id", "text", 10)
        .orderBy("doc_id")
    }, Oracle(
      // q105's span CTEs re-expressed over whitespace TOKENS with 10-token
      // windows and ' ' rebuild — same hash, same canonical-first rank,
      // same covered-index interval merge.
      s"""WITH t0 AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         |sp AS (SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    ${dhash("array_to_string(tk[i:i+9], ' ')")} AS h
         |  FROM t0, unnest(range(1, len(tk) - 8)) AS r(i)),
         |j AS (SELECT doc_id, pos,
         |  count(*) OVER (PARTITION BY h) AS n_occ,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sp),
         |rm AS (SELECT DISTINCT doc_id, pos + k AS ri
         |  FROM j, unnest(range(0, 10)) AS t(k) WHERE n_occ > 1 AND rn > 1),
         |u AS (SELECT doc_id, CAST(i AS INTEGER) AS ti, tk[i] AS tok
         |  FROM t0, unnest(range(1, len(tk) + 1)) AS r(i)),
         |kept AS (SELECT u.doc_id,
         |    array_to_string(list(u.tok ORDER BY u.ti), ' ') AS ct
         |  FROM u LEFT JOIN rm ON u.doc_id = rm.doc_id AND u.ti = rm.ri
         |  WHERE rm.ri IS NULL GROUP BY u.doc_id),
         |nr AS (SELECT doc_id, count(*) AS n_rm FROM rm GROUP BY doc_id)
         |SELECT t0.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(nr.n_rm, 0) AS BIGINT) AS n_removed_tokens,
         |  coalesce(kept.ct, '') AS clean_text
         |FROM t0 LEFT JOIN kept ON t0.doc_id = kept.doc_id
         |LEFT JOIN nr ON t0.doc_id = nr.doc_id
         |ORDER BY t0.doc_id""".stripMargin)),

    // tau-VERIFIED fuzzy scrub: q108's pipeline with the estimated-Jaccard
    // >= 0.8 gate between LSH banding and CC. At corpus scale a 4-slot band
    // key WILL collide for dissimilar documents, and an unverified edge
    // merges unrelated dup families into one cluster (silently deleting
    // live docs); the gate re-reads only the int64 signatures already on
    // the candidate pair — no text, the verify arm stays fixed-width.
    Q("q121_fuzzy_scrub_tau", (s, dir) => {
      Dedup.fuzzyDedupKeepFirst(Tables.documents(s, dir), "doc_id", "text",
        tau = Some(0.8))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }, Oracle(
      // q108's cluster CTEs with the est-Jaccard >= 0.8 verification gate
      // on the candidate pairs (fraction of equal signature slots, computed
      // from the same sg signatures the banding used)
      s"""WITH RECURSIVE $dBandedCtes,
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |WHERE len(list_filter(range(1, 17),
         |  i -> a.sig[CAST(i AS INTEGER)] = b.sig[CAST(i AS INTEGER)])) / 16.0 >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst),
         |kept AS (SELECT id FROM reach GROUP BY id HAVING min(m) = id)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d JOIN kept k ON d.doc_id = k.id
         |ORDER BY d.doc_id""".stripMargin)),

    // TWO-GENERATION incremental dedup — the production contract across
    // ingest waves: %3==0 docs are the initial corpus (index gen 0); wave 1
    // = %3==1 docs + re-crawls of %9==0 (drop: gen-0 fingerprint); the
    // index then GROWS by wave 1's survivors; wave 2 = %3==2 docs +
    // re-crawls of %9==4 content (in the index ONLY via wave-1 growth —
    // the second-generation drop q112 never exercised) + re-crawls of
    // %9==0 again (gen-0 fingerprints still held). Output: survivors of
    // both waves, wave-tagged.
    Q("q122_incremental_two_waves", (s, dir) => {
      val d = Tables.documents(s, dir)
      val seen0 = Dedup.fingerprints(d.where(col("doc_id") % 3 === 0), "text")
      val wave1 = d.where(col("doc_id") % 3 === 1)
        .unionByName(d.where(col("doc_id") % 9 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      // detached: s1 feeds BOTH the output union and the grown index —
      // without severing, the wave-1 anti-join subtree plans twice
      val s1 = Relational.detach(
        Dedup.incrementalDedupKeepFirst(wave1, "doc_id", "text", seen0))
      val seen1 = Dedup.growFingerprints(seen0, s1, "text")
      val wave2 = d.where(col("doc_id") % 3 === 2)
        .unionByName(d.where(col("doc_id") % 9 === 4)
          .withColumn("doc_id", col("doc_id") + 3000000L))
        .unionByName(d.where(col("doc_id") % 9 === 0)
          .withColumn("doc_id", col("doc_id") + 4000000L))
      val s2 = Dedup.incrementalDedupKeepFirst(wave2, "doc_id", "text", seen1)
      s1.select(lit(1L).as("wave"), col("doc_id"), col("lang"), col("n_chars"))
        .unionByName(
          s2.select(lit(2L).as("wave"), col("doc_id"), col("lang"), col("n_chars")))
        .orderBy("wave", "doc_id")
    }, Oracle(
      // q112's anti-join + keep-first arithmetic, run twice with the index
      // grown by wave 1's survivors in between (fp1 = fp0 UNION s1 hashes)
      s"""WITH fp0 AS (SELECT DISTINCT ${dhash("text")} AS h
         |  FROM documents WHERE doc_id % 3 = 0),
         |w1 AS (
         |  SELECT doc_id, lang, n_chars, ${dhash("text")} AS h FROM documents WHERE doc_id % 3 = 1
         |  UNION ALL SELECT doc_id + 1000000, lang, n_chars, ${dhash("text")} AS h FROM documents WHERE doc_id % 9 = 0),
         |s1 AS (SELECT doc_id, lang, n_chars, h FROM (
         |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
         |  FROM w1 WHERE h NOT IN (SELECT h FROM fp0)) WHERE rn = 1),
         |fp1 AS (SELECT h FROM fp0 UNION SELECT h FROM s1),
         |w2 AS (
         |  SELECT doc_id, lang, n_chars, ${dhash("text")} AS h FROM documents WHERE doc_id % 3 = 2
         |  UNION ALL SELECT doc_id + 3000000, lang, n_chars, ${dhash("text")} AS h FROM documents WHERE doc_id % 9 = 4
         |  UNION ALL SELECT doc_id + 4000000, lang, n_chars, ${dhash("text")} AS h FROM documents WHERE doc_id % 9 = 0),
         |s2 AS (SELECT doc_id, lang, n_chars FROM (
         |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
         |  FROM w2 WHERE h NOT IN (SELECT h FROM fp1)) WHERE rn = 1)
         |SELECT CAST(1 AS BIGINT) AS wave, doc_id, lang, n_chars FROM s1
         |UNION ALL SELECT CAST(2 AS BIGINT) AS wave, doc_id, lang, n_chars FROM s2
         |ORDER BY wave, doc_id""".stripMargin)),

    // SimHash Hamming-ball near-dup pairs (Manku banding): candidates from
    // 4 equi-joins on 4-bit fingerprint blocks (pigeonhole covers hamming
    // <= 1 exactly — never all-pairs), then the exact bit_count verify.
    Q("q124_simhash_neardup", (s, dir) => {
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 1)
        .orderBy("id_a", "id_b")
    }, Oracle(
      // q25's simhash CTE verbatim, then Manku banding: 4-bit blocks via
      // shift+mask, candidates share a block, exact bit_count(xor) verify
      s"""WITH th AS (SELECT doc_id, list_transform(string_split(text, ' '), s -> ${dhash("s")}) AS hs FROM documents),
         |sh AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 16),
         |b -> CASE WHEN list_sum(list_transform(hs,
         |h -> CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
         |THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash FROM th),
         |banded AS (SELECT doc_id, simhash, b.band AS band,
         |  (simhash >> (b.band * 4)) & 15 AS bkey
         |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 1
         |ORDER BY id_a, id_b""".stripMargin)),

    // Corpus snapshot diff (corpus versioning): old = %4 in {0,1,2}, new
    // = %4 in {1,2,3} with %4==1 re-rendered — so 0->removed, 1->changed,
    // 2->unchanged, 3->added. Only added+changed re-enter the expensive
    // clean/dedup/embed stages; removed ids evict from indexes.
    Q("q126_corpus_diff", (s, dir) => {
      val d = Tables.documents(s, dir)
      val oldGen = d.where(col("doc_id") % 4 =!= 3)
      val newGen = d.where(col("doc_id") % 4 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 4 === 1, concat(col("text"), lit(" updated")))
            .otherwise(col("text")))
      Dedup.corpusDiff(oldGen, newGen, "doc_id", "text")
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_id"))
        .orderBy("status")
    }, Oracle(
      // full outer join on the id; changed = dhash(text) differs
      s"""WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 != 3),
         |n AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 1 THEN text || ' updated' ELSE text END AS text
         |  FROM documents WHERE doc_id % 4 != 0),
         |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       WHEN ${dhash("o.text")} = ${dhash("n.text")} THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT status, count(*) AS n_docs, min(doc_id) AS first_id
         |FROM d GROUP BY status ORDER BY status""".stripMargin)),

    // Normalized exact dedup: every 6th doc re-enters as a SHOUTING
    // re-render (upper-case + '!!!' + doubled spaces). Raw fingerprints
    // miss these; dedup on the normalized form collapses them — survivors
    // are exactly the original corpus. The Dolma/RefinedWeb pre-dedup
    // normalization demonstrated end-to-end.
    Q("q127_normalized_dedup", (s, dir) => {
      val d = Tables.documents(s, dir)
      val shouting = d.where(col("doc_id") % 6 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", concat(upper(col("text")), lit("!!!  ")))
      val corpus = d.unionByName(shouting)
        .withColumn("_norm", TextAnalysis.normalizeForDedup(col("text")))
      Dedup.dedupKeepFirst(corpus, Seq("_norm"), Seq("doc_id"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }, Oracle(
      // same shouting re-renders; normalization term-for-term with
      // TextAnalysis.normalizeForDedup (DuckDB regexp_replace needs 'g')
      """WITH c AS (
        |  SELECT doc_id, lang, n_chars, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, lang, n_chars, upper(text) || '!!!  '
        |  FROM documents WHERE doc_id % 6 = 0),
        |n AS (SELECT doc_id, lang, n_chars,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g'), ' +', ' ', 'g')) AS norm FROM c),
        |k AS (SELECT doc_id, lang, n_chars,
        |  row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn FROM n)
        |SELECT doc_id, lang, n_chars FROM k WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Shingle containment (quote/excerpt detection): every 8th doc spawns
    // a 12-token excerpt at the adjacent id; containment flags it at 1.0
    // where Jaccard (~10/|full|) never would. Asymmetric near-dup — the
    // report symmetric dedup is blind to.
    Q("q128_containment", (s, dir) => {
      val d = Tables.documents(s, dir)
      val base = d.select((col("doc_id") * 10).as("doc_id"), col("text"))
      val quotes = d.where(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 10 + 1).as("doc_id"),
          concat_ws(" ", slice(split(col("text"), " "), 1, 12)).as("text"))
      Dedup.containmentWithinGap(base.unionByName(quotes), "doc_id", "text", 1L)
        .where(col("cont_a_in_b") >= 0.9 || col("cont_b_in_a") >= 0.9)
        .orderBy("id_a", "id_b")
    }, Oracle(
      // q26's intersect arithmetic over the same quote-seeded corpus;
      // containment divides by each side's own shingle count
      s"""WITH base AS (
         |  SELECT doc_id * 10 AS doc_id, text FROM documents
         |  UNION ALL SELECT doc_id * 10 + 1,
         |    array_to_string((string_split(text, ' '))[1:12], ' ')
         |  FROM documents WHERE doc_id % 8 = 0),
         |hs AS (SELECT doc_id, ${dShingleHashes("text")} AS hashes FROM base),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(CAST(len(list_filter(a.hashes, h -> list_contains(b.hashes, h))) AS DOUBLE) /
         |    CAST(len(a.hashes) AS DOUBLE), 6) AS cont_a_in_b,
         |  round(CAST(len(list_filter(a.hashes, h -> list_contains(b.hashes, h))) AS DOUBLE) /
         |    CAST(len(b.hashes) AS DOUBLE), 6) AS cont_b_in_a
         |  FROM hs a JOIN hs b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 1)
         |SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM p
         |WHERE cont_a_in_b >= 0.9 OR cont_b_in_a >= 0.9
         |ORDER BY id_a, id_b""".stripMargin)),

    // Near-dup-aware corpus diff: q126's versioning primitive with the
    // `changed` class split by simhash distance — %4==1 docs get a
    // trivial re-render (one appended token), %4==2 a from-scratch
    // rewrite. Only added+rewritten re-enter the expensive stages;
    // re-rendered ids just refresh stored text. Per-doc statuses (not
    // just counts) so every doc's hamming classification is hash-checked.
    Q("q132_neardiff", (s, dir) => {
      val d = Tables.documents(s, dir)
      val oldGen = d.where(col("doc_id") % 4 =!= 3)
      val newGen = d.where(col("doc_id") % 4 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 4 === 1, concat(col("text"), lit(" updated")))
            .when(col("doc_id") % 4 === 2,
              concat(lit("totally different content about "),
                col("doc_id").cast("string"),
                lit(" rewritten from scratch with new vocabulary")))
            .otherwise(col("text")))
      Dedup.corpusDiff(oldGen, newGen, "doc_id", "text", nearHamming = Some(3))
        .orderBy("doc_id")
    }, Oracle {
      // q126's full-outer diff + q124's simhash CTE on each side; the
      // changed split is bit_count(xor) <= 3 on the 16-bit fingerprints
      def dsim(src: String) =
        s"""${src}h AS (SELECT doc_id, ${dhash("text")} AS h,
           |  list_transform(string_split(text, ' '), s -> ${dhash("s")}) AS hs FROM $src),
           |${src}s AS (SELECT doc_id, h, CAST(list_sum(list_transform(range(0, 16),
           |  b -> CASE WHEN list_sum(list_transform(hs,
           |  t -> CASE WHEN (t // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
           |  THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sh FROM ${src}h)""".stripMargin
      s"""WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 != 3),
         |n AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 1 THEN text || ' updated'
         |       WHEN doc_id % 4 = 2 THEN 'totally different content about ' ||
         |         CAST(doc_id AS VARCHAR) || ' rewritten from scratch with new vocabulary'
         |       ELSE text END AS text
         |  FROM documents WHERE doc_id % 4 != 0),
         |${dsim("o")},
         |${dsim("n")}
         |SELECT coalesce(os.doc_id, ns.doc_id) AS doc_id,
         |  CASE WHEN os.doc_id IS NULL THEN 'added'
         |       WHEN ns.doc_id IS NULL THEN 'removed'
         |       WHEN os.h = ns.h THEN 'unchanged'
         |       WHEN bit_count(xor(os.sh, ns.sh)) <= 3 THEN 're-rendered'
         |       ELSE 'rewritten' END AS status
         |FROM os FULL OUTER JOIN ns ON os.doc_id = ns.doc_id
         |ORDER BY doc_id""".stripMargin
    }),

    // Incremental NEAR-dup dedup — the fuzzy twin of q112/q122's exact
    // incremental contract: %3==0 docs are the accepted corpus (persisted
    // LSH index); the wave = %3!=0 docs + near-dup re-crawls of indexed
    // content (%9==0, 3-token footer appended -> drop via the index) +
    // within-batch near-dup clones (%15==1, one-token variant ->
    // keep-first in the batch cluster). Survivors only; tau = 0.8 means
    // >= 13/16 signature slots agree (exact binary boundary).
    Q("q133_incremental_fuzzy", (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val index = Dedup.lshIndex(d.where(col("doc_id") % 3 === 0), "doc_id", "text")
      val wave = d.where(col("doc_id") % 3 =!= 0)
        .unionByName(d.where(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" extra recrawl footer")).as("text")))
        .unionByName(d.where(col("doc_id") % 15 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" variant")).as("text")))
      Dedup.incrementalFuzzyDedupKeepFirst(wave, "doc_id", "text", index, tau = 0.8)
        .select("doc_id")
        .orderBy("doc_id")
    }, Oracle {
      // q24/q65's signature+banding arithmetic (dBandedCtes' formulas) over
      // the accepted corpus AND the wave; index hits + within-batch
      // reachability clusters; a cluster containing any hit drops entirely
      def bands(src: String) =
        s"""${src}hs AS (SELECT doc_id, ${dShingleHashes("text")} AS hashes FROM $src),
           |${src}sg AS (SELECT doc_id, list_transform(range(0, 16),
           |  i -> list_min(list_transform(hashes, h -> ((2*i+3)*h + (7*i+1)) % $Mod))) AS sig FROM ${src}hs),
           |${src}bd AS (SELECT doc_id, sig, b.band AS band,
           |  array_to_string(sig[b.band*4+1 : b.band*4+4], '-') AS bkey
           |  FROM ${src}sg CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin
      def est(a: String, b: String) =
        s"list_sum(list_transform(range(1, 17), i -> CASE WHEN $a.sig[i] = $b.sig[i] THEN 1 ELSE 0 END)) / 16.0"
      s"""WITH RECURSIVE old AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         |wave AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
         |  UNION ALL SELECT doc_id + 1000000, text || ' extra recrawl footer'
         |  FROM documents WHERE doc_id % 9 = 0
         |  UNION ALL SELECT doc_id + 2000000, text || ' variant'
         |  FROM documents WHERE doc_id % 15 = 1),
         |${bands("old")},
         |${bands("wave")},
         |hits AS (SELECT DISTINCT n.doc_id FROM wavebd n
         |  JOIN oldbd o ON n.band = o.band AND n.bkey = o.bkey
         |  WHERE ${est("n", "o")} >= 0.8),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM wavebd a JOIN wavebd b ON a.band = b.band AND a.bkey = b.bkey
         |    AND a.doc_id < b.doc_id
         |  WHERE ${est("a", "b")} >= 0.8),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, m) AS (
         |  SELECT doc_id, doc_id FROM wave
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.id = e.dst),
         |comp AS (SELECT id, min(m) AS component FROM reach GROUP BY id),
         |tainted AS (SELECT DISTINCT c.component FROM comp c JOIN hits h ON c.id = h.doc_id)
         |SELECT id AS doc_id FROM comp
         |WHERE id = component AND component NOT IN (SELECT component FROM tainted)
         |ORDER BY doc_id""".stripMargin
    }),

    // Fuzzy decontamination: the near-dup net behind q82's exact n-gram
    // probe. Eval set = re-rendered copies of %7==3 docs (3-token footer —
    // est-Jaccard above tau, the leak exact matching misses) + genuinely
    // fresh benchmark items from %11==5 ids (must NOT flag). Flagged train
    // docs with hit counts and the max estimated Jaccard.
    Q("q139_neardup_decontam", (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val evalSet = d.where(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" eval suite footer")).as("text"))
        .unionByName(d.where(col("doc_id") % 11 === 5)
          .select((col("doc_id") + 4000000L).as("doc_id"),
            concat(lit("benchmark question about topic "),
              col("doc_id").cast("string"),
              lit(" with entirely fresh phrasing")).as("text")))
      Dedup.nearContaminationHits(d, evalSet, "doc_id", "text", tau = 0.8)
        .orderBy("doc_id")
    }, Oracle {
      // q133's signature+banding CTEs over the train corpus and the seeded
      // eval set; hits = band-join pairs with est >= 0.8, aggregated per
      // train doc (est is slots-equal/16 — exact binary fractions)
      def bands(src: String) =
        s"""${src}hs AS (SELECT doc_id, ${dShingleHashes("text")} AS hashes FROM $src),
           |${src}sg AS (SELECT doc_id, list_transform(range(0, 16),
           |  i -> list_min(list_transform(hashes, h -> ((2*i+3)*h + (7*i+1)) % $Mod))) AS sig FROM ${src}hs),
           |${src}bd AS (SELECT doc_id, sig, b.band AS band,
           |  array_to_string(sig[b.band*4+1 : b.band*4+4], '-') AS bkey
           |  FROM ${src}sg CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin
      val est =
        "list_sum(list_transform(range(1, 17), i -> CASE WHEN t.sig[i] = e.sig[i] THEN 1 ELSE 0 END)) / 16.0"
      s"""WITH tr AS (SELECT doc_id, text FROM documents),
         |ev AS (SELECT doc_id + 3000000 AS doc_id, text || ' eval suite footer' AS text
         |  FROM documents WHERE doc_id % 7 = 3
         |  UNION ALL SELECT doc_id + 4000000, 'benchmark question about topic ' ||
         |    CAST(doc_id AS VARCHAR) || ' with entirely fresh phrasing'
         |  FROM documents WHERE doc_id % 11 = 5),
         |${bands("tr")},
         |${bands("ev")},
         |pe AS (SELECT DISTINCT t.doc_id, e.doc_id AS eid, $est AS ej
         |  FROM trbd t JOIN evbd e ON t.band = e.band AND t.bkey = e.bkey)
         |SELECT doc_id, count(DISTINCT eid) AS n_eval_hits,
         |  max(ej) AS max_est_jaccard
         |FROM pe WHERE ej >= 0.8 GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }),

    // Corpus-wide paragraph-level dedup SCRUB (the Dolma/RefinedWeb
    // paragraph stage): every blank-line-delimited paragraph occurring
    // more than once corpus-wide is deleted from all but its canonical
    // (min (id, pos)) occurrence; docs rebuild from survivors. The
    // granularity between q116's frequency-thresholded line scrub and
    // q21's whole-document keep-first.
    Q("q141_paragraph_scrub", (s, dir) => {
      val pared = synthesizeParagraphs(Tables.documents(s, dir))
      Dedup.paragraphScrub(pared, "doc_id", "text").orderBy("doc_id")
    }, Oracle(
      // q105's scrub CTE shapes at n = 1 over 2-line paragraphs: t0/t1
      // are dLineSynth verbatim, t2 regroups pairs of lines with chr(10),
      // paragraphs join with chr(10)||chr(10); same hash + canonical rank
      s"""WITH ${dLineSynth(withPunct = false)},
         |t2 AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(ln) / 2.0) AS BIGINT)),
         |    j -> array_to_string(ln[j*2+1 : j*2+2], chr(10))) AS pr FROM t1),
         |sp AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, ${dhash("pr[i]")} AS h
         |  FROM t2, unnest(range(1, len(pr) + 1)) AS r(i)),
         |j AS (SELECT doc_id, pos,
         |  count(*) OVER (PARTITION BY h) AS n_occ,
         |  row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM sp),
         |rm AS (SELECT doc_id, pos AS ri FROM j WHERE n_occ > 1 AND rn > 1),
         |u AS (SELECT doc_id, CAST(i AS INTEGER) AS pi, pr[i] AS par
         |  FROM t2, unnest(range(1, len(pr) + 1)) AS r(i)),
         |kept AS (SELECT u.doc_id,
         |    array_to_string(list(u.par ORDER BY u.pi), chr(10) || chr(10)) AS ct
         |  FROM u LEFT JOIN rm ON u.doc_id = rm.doc_id AND u.pi = rm.ri
         |  WHERE rm.ri IS NULL GROUP BY u.doc_id),
         |nr AS (SELECT doc_id, count(*) AS n_rm FROM rm GROUP BY doc_id)
         |SELECT t2.doc_id, CAST(len(pr) AS BIGINT) AS n_paragraphs,
         |  CAST(coalesce(nr.n_rm, 0) AS BIGINT) AS n_removed_paragraphs,
         |  coalesce(kept.ct, '') AS clean_text
         |FROM t2 LEFT JOIN kept ON t2.doc_id = kept.doc_id
         |LEFT JOIN nr ON t2.doc_id = nr.doc_id
         |ORDER BY t2.doc_id""".stripMargin)),

    // End-to-end curation FUNNEL datasheet — the RefinedWeb/Dolma release
    // report: the corpus through URL dedup (q123) -> normalized exact
    // dedup (q127) -> Gopher quality (q87) -> eval-set decontamination
    // (q82), each stage over the PREVIOUS stage's survivors (ordering
    // changes keep-first canonicals, so composition is load-bearing),
    // rolled up per language with after-stage doc counts and surviving
    // token volume — the numbers every dataset card publishes. Stage
    // keys here are the oracle-parity canonical strings; production runs
    // the same chain on urlDedupKeepFirst/fingerprints(wide = true).
    Q("q143_curation_funnel", (s, dir) => {
      val d = Tables.documents(s, dir).withColumn("url", crawlUrl)
      val s1 = Dedup.dedupKeepFirst(
        d.withColumn("_canon", TextAnalysis.canonicalizeUrl(col("url"))),
        Seq("_canon"), Seq("doc_id")).drop("_canon")
      val s2 = Dedup.dedupKeepFirst(
        s1.withColumn("_norm", TextAnalysis.normalizeForDedup(col("text"))),
        Seq("_norm"), Seq("doc_id")).drop("_norm")
      val s3 = s2.join(
        TextAnalysis.gopherQualityFlags(s2, "doc_id", "text")
          .where(col("keep")).select("doc_id"), Seq("doc_id"))
      val hits = TextAnalysis.contaminationHits(d, "doc_id", "text",
        col("source") === "src0", n = 5)
      val s4 = s3.where(col("source") =!= "src0")
        .join(hits.select("doc_id"), Seq("doc_id"), "left_anti")
      def flag(sv: DataFrame, name: String) =
        sv.select(col("doc_id"), lit(true).as(name))
      d.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("_nt"))
        .join(flag(s1, "_f1"), Seq("doc_id"), "left")
        .join(flag(s2, "_f2"), Seq("doc_id"), "left")
        .join(flag(s3, "_f3"), Seq("doc_id"), "left")
        .join(flag(s4, "_f4"), Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_raw"),
          count(col("_f1")).as("n_after_url"),
          count(col("_f2")).as("n_after_dedup"),
          count(col("_f3")).as("n_after_quality"),
          count(col("_f4")).as("n_final"),
          coalesce(sum(when(col("_f4"), col("_nt"))), lit(0L)).as("n_tokens_final"))
        .orderBy("lang")
    }, Oracle(
      // each stage's CTE verbatim from its own green oracle (q123 URL
      // canon via dUrlCanon, q127 normalization, q87/q103 gopher, q82
      // 5-gram contamination), chained on the PREVIOUS stage's
      // survivors; the datasheet is the per-lang left-join rollup
      s"""WITH $dUrlCanon,
         |c1 AS (SELECT doc_id FROM (SELECT doc_id,
         |    row_number() OVER (PARTITION BY url_canon ORDER BY doc_id) AS rn FROM s5)
         |  WHERE rn = 1),
         |nrm AS (SELECT d.doc_id,
         |    trim(regexp_replace(regexp_replace(lower(text), '[^\\p{L}\\p{N}]+', ' ', 'g'), ' +', ' ', 'g')) AS norm
         |  FROM documents d JOIN c1 USING (doc_id)),
         |c2 AS (SELECT doc_id FROM (SELECT doc_id,
         |    row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn FROM nrm)
         |  WHERE rn = 1),
         |t AS (SELECT doc_id, source, lang, text, string_split(text, ' ') AS tk,
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
         |c3 AS (SELECT c2.doc_id FROM c2 JOIN gq ON c2.doc_id = gq.doc_id WHERE g_keep),
         |gg AS (SELECT doc_id, source, unnest(CASE WHEN len(tk) < 5 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(tk) - 3), i -> array_to_string(tk[i:i+4], ' ')) END) AS gram FROM t),
         |hh AS (SELECT doc_id, source, ${dhash("gram")} AS gh FROM gg),
         |bench AS (SELECT DISTINCT gh FROM hh WHERE source = 'src0'),
         |hits AS (SELECT DISTINCT hh.doc_id FROM hh JOIN bench USING (gh) WHERE source <> 'src0'),
         |c4 AS (SELECT c3.doc_id FROM c3 JOIN t USING (doc_id)
         |  WHERE t.source <> 'src0' AND c3.doc_id NOT IN (SELECT doc_id FROM hits))
         |SELECT t.lang, count(*) AS n_raw,
         |  count(c1.doc_id) AS n_after_url,
         |  count(c2.doc_id) AS n_after_dedup,
         |  count(c3.doc_id) AS n_after_quality,
         |  count(c4.doc_id) AS n_final,
         |  CAST(coalesce(sum(CASE WHEN c4.doc_id IS NOT NULL THEN len(tk) END), 0) AS BIGINT) AS n_tokens_final
         |FROM t LEFT JOIN c1 ON t.doc_id = c1.doc_id
         |LEFT JOIN c2 ON t.doc_id = c2.doc_id
         |LEFT JOIN c3 ON t.doc_id = c3.doc_id
         |LEFT JOIN c4 ON t.doc_id = c4.doc_id
         |GROUP BY t.lang ORDER BY t.lang""".stripMargin)),

    // Winnowed (MOSS) match pairs: per-window min-hash selection samples
    // gram fingerprints at density ~2/(w+1) while GUARANTEEING any
    // shared run of >= w+k-1 tokens still pairs — the index-size lever
    // over q22's full gram inventory. Pairs with >= 2 shared prints.
    Q("q144_winnow_pairs", (s, dir) => {
      Dedup.winnowedMatchPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 3, w = 4, minShared = 2)
        .orderBy("id_a", "id_b")
    }, Oracle(
      // same 3-gram poly-31 hashes; windows of 4, leftmost-min selection
      // (list_position finds the first match), distinct (doc, h), then
      // the fingerprint-keyed pair count with the >= 2 evidence bar
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN CAST([] AS BIGINT[])
         |  ELSE list_transform(range(1, len(tk) - 1), i -> ${dhash("array_to_string(tk[i:i+2], ' ')")}) END AS gh FROM t),
         |wd AS (SELECT doc_id, CASE WHEN len(gh) < 4 THEN CAST([] AS BIGINT[])
         |  ELSE list_transform(range(1, len(gh) - 2), j -> list_min(gh[j:j+3])) END AS sel FROM g),
         |fp AS (SELECT DISTINCT doc_id, h FROM wd, unnest(sel) AS u(h))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin)),

    // SOFT dedup (data-constrained training): %4==0 docs get a re-crawl
    // clone; every copy stays but carries weight 1/n_copies, so a
    // weighted sampler sees each distinct text with equal total mass.
    // The one-pass twin of q21's hard keep-first.
    Q("q151_soft_dedup", (s, dir) => {
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = d.unionByName(d.where(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.softDedupWeights(corpus, "doc_id", "text").orderBy("doc_id")
    }, Oracle(
      // same seeded clones; the window keys on text where the operator
      // keys on its fingerprint (q21/q127's green pairing)
      """WITH c AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0),
        |g AS (SELECT doc_id, count(*) OVER (PARTITION BY text) AS n,
        |  row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM c)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_copies,
        |  round(1.0 / n, 6) AS sample_weight, rn = 1 AS is_canonical
        |FROM g ORDER BY doc_id""".stripMargin)),
  )
}
