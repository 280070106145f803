package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Deduplication operators for LLM-data pipelines (north-star extension):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Design notes for 100 TB:
  *  - Exact dedup is a hash-partition-by-key window (no global sort).
  *  - MinHash/SimHash signatures are per-row higher-order-function
  *    expressions (codegen'd, no UDF); LSH candidate generation is an
  *    explode-on-band + self-equi-join on (band, hash) — the join key is the
  *    band bucket, so the shuffle carries only (doc_id, band) pairs, never
  *    document text.
  *  - The base hash is a portable polynomial fold (same fold as
  *    [[graft.functions.RollingHash]]) rather than murmur3, so every
  *    signature is reproducible in the DuckDB oracle bit-for-bit.
  */
object Dedup {

  final val Mod = 1000000007L
  final val MinhashK = 16
  final val LshBands = 4 // 4 bands x 4 rows

  /** Spark-SQL fragment: portable string hash of `s` (poly-31 fold).
    * Uses the native [[graft.functions.RollingHash]] kernel — same value as
    * [[sqlHashFrag]] by construction (see its scaladoc), ~30x faster than
    * the interpreted per-char HOF fold. Callers must have run
    * `GraftFunctions.registerAll` (the table builders below do). */
  def hashFrag(s: String): String = s"rolling_hash($s)"

  /** Pure-SQL form of the same fold — kept for tests proving the native
    * kernel and the HOF fold agree (the DuckDB oracle mirrors this shape). */
  def sqlHashFrag(s: String): String =
    s"aggregate(split($s, ''), CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + ascii(c)) % $Mod)"

  /** Spark-SQL fragment: distinct hashed word 3-shingles, given a TOKEN
    * ARRAY expression `toks` and the raw text `t`.
    *
    * `toks` MUST be a plain column reference when this runs over real data:
    * it is referenced 3x inside the shingle lambda, and Spark re-evaluates
    * lambda-body subexpressions once per array element — an inline
    * `split(text,' ')` here re-splits the whole document ~3x per shingle
    * (measured 5s -> 0.5s on 5k docs when bound to a column). */
  def shingleHashesOverToks(toks: String, t: String): String =
    s"array_distinct(${shingleHashesRawOverToks(toks, t)})"

  /** Non-distinct form of [[shingleHashesOverToks]] — keeps one hash per
    * shingle OCCURRENCE, for term-frequency features (TF-IDF) where
    * multiplicity matters; set semantics (Jaccard/MinHash) use the distinct
    * wrapper above. */
  def shingleHashesRawOverToks(toks: String, t: String): String = {
    val shingles =
      s"CASE WHEN size($toks) < 3 THEN array($t) " +
        s"ELSE transform(sequence(0, size($toks) - 3), " +
        s"i -> concat_ws(' ', $toks[i], $toks[i+1], $toks[i+2])) END"
    s"transform($shingles, s -> ${hashFrag("s")})"
  }

  /** Convenience form binding `toks` inline — only for tiny/test inputs. */
  def shingleHashesFrag(t: String): String =
    shingleHashesOverToks(s"split($t, ' ')", t)

  /** Spark-SQL fragment: k=16 MinHash signature array over shingle hashes
    * `hs` — permutation i is the affine map h -> ((2i+3)h + 7i+1) mod p. */
  def minhashFrag(hs: String): String =
    s"transform(sequence(0, ${MinhashK - 1}), " +
      s"i -> array_min(transform($hs, h -> ((2*i+3)*h + (7*i+1)) % $Mod)))"

  /** Spark-SQL fragment: 16-bit SimHash over an array-of-token-hashes
    * expression `hs` — keep `hs` a plain column reference (see
    * [[shingleHashTable]] doc on lambda re-evaluation). */
  def simhashFrag(hs: String): String =
    s"aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, b) -> acc + " +
      s"IF(aggregate($hs, CAST(0 AS BIGINT), " +
      s"(a2, h) -> a2 + IF((h div CAST(pow(2, b) AS BIGINT)) % 2 = 1, 1, -1)) >= 0, " +
      s"CAST(pow(2, b) AS BIGINT), CAST(0 AS BIGINT)))"

  /** Materialized (non-distinct) token-hash table: (idCol, hs array<long>).
    * Handed back lineage-severed with NO cacheManager entry (computed once,
    * reusable across both sides of a self-join) — see
    * [[Relational.detach]] for the durability contract. */
  def tokenHashTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    Relational.detach(df.select(col(idCol),
      expr(s"transform(split($textCol, ' '), s -> ${hashFrag("s")})").as("hs")))
  }

  /** Exact dedup keeping the first row per key under `orderCols` — the
    * deterministic form of `dropDuplicates` (which keeps an arbitrary row).
    * Hash-partitioned by key: scales without a global sort. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(col): _*)
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** 128-bit fingerprint of a string column: two independent xxhash64
    * folds (seed-split by a golden-ratio salt) packed as a struct — the
    * SCALE-PATH key for every exact-dedup operator here. The oracle-parity
    * poly-31 fold ([[hashFrag]]) lives mod 1e9+7, ~30 usable bits: by the
    * birthday bound collisions hit ~50% at sqrt(1e9) ≈ 38k distinct keys,
    * so at corpus scale two DISTINCT documents share a hash and one is
    * silently deleted. 128 bits pushes the 50% point past 1.8e19 keys
    * (~10^-18 collision odds at 10^10 docs) — safe at any real corpus.
    * Struct keys join/distinct/window like scalars; the wide arm carries
    * 16 bytes instead of 8, never the text. Not DuckDB-reproducible
    * (xxhash64): the narrow fold stays the oracle-parity mode. */
  def wideFingerprint(c: Column): Column =
    struct(xxhash64(c).as("h1"), xxhash64(c, lit(0x9E3779B97F4A7CL)).as("h2"))

  /** Exact-fingerprint table of a corpus: one distinct fingerprint `h` per
    * document text — the persisted state [[incrementalDedupKeepFirst]]
    * dedups against. Parquet-persist this between ingest batches and
    * union+distinct the batch's fresh fingerprints back in: the index
    * grows with DISTINCT documents, not ingested volume.
    *
    * `wide = false` (default): int64 poly-31 fold, DuckDB-reproducible but
    * ~30 usable bits — ORACLE-PARITY ONLY (50% collision odds at ~38k
    * distinct texts). `wide = true`: the 128-bit [[wideFingerprint]]
    * struct — the production key at corpus scale. */
  def fingerprints(docs: DataFrame, textCol: String, wide: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    val fp = if (wide) wideFingerprint(col(textCol)) else expr(hashFrag(textCol))
    docs.select(fp.as("h")).distinct()
  }

  /** The between-waves step of the incremental-ingest contract:
    * `index_{t+1} = index_t ∪ fingerprints(survivors_t)`. Parquet-persist
    * the result between ingest batches; it grows with distinct documents,
    * not ingested volume. The distinct is hash-keyed on the int64 `h` —
    * text never enters this arm. `wide` must match the mode `seen` was
    * built with ([[fingerprints]]' collision caveat applies: narrow is
    * oracle-parity only, wide is the corpus-scale key). */
  def growFingerprints(seen: DataFrame, kept: DataFrame, textCol: String,
                       wide: Boolean = false): DataFrame =
    seen.select("h").unionByName(fingerprints(kept, textCol, wide)).distinct()

  /** Incremental exact dedup for append-only ingest — the daily-crawl
    * production shape: drop every new document whose text fingerprint is
    * already in `seen` (the [[fingerprints]] of all previously ingested
    * corpus), then keep-first WITHIN the batch (smallest id per
    * fingerprint), so re-crawled pages never re-enter and an intra-batch
    * dup lands exactly once. Batch mode of the same contract
    * [[graft.streaming.EventStreams.semanticDedupStream]] holds in
    * transformWithState: state = seen set, new keys pass, seen keys drop.
    *
    * Scale shape: the anti join and the keep-first window both key on the
    * fingerprint — text never shuffles (the fingerprint is computed
    * map-side); `seen` is a one-column fingerprint table, broadcast by AQE
    * when small, plain shuffle join when the index outgrows the threshold.
    * `wide = true` keys on the 128-bit [[wideFingerprint]] (the corpus-
    * scale mode; `seen` must be built with the same flag) — the narrow
    * int64 default is oracle-parity only (see [[fingerprints]]).
    *
    * `bloomBits = Some(bits)`: bloom-split the anti join
    * ([[Relational.bloomAntiJoin]]'s shape) — the index fingerprints
    * aggregate into one `bits`-wide bloom filter (for wide mode, over the
    * h1^h2 64-bit reduction; reductions preserve no-false-negatives), and
    * wave rows the bloom rejects are DEFINITELY fresh, bypassing the
    * wave-vs-index join entirely. Only probable re-crawls plus the FP
    * rate pay the exact anti join (still on the FULL fingerprint, so a
    * 64-bit reduction collision can never delete a fresh doc). A daily
    * wave is mostly fresh, so this shrinks the join's wave side to
    * (re-crawl + FP) of the batch; size at ~10 bits per index key for
    * <1% FP, and when the index outgrows a driver-collectable filter
    * (≳10^9 keys) fall back to the bucketed-index layout (BASELINE.md
    * `bucket`). Result-identical to `bloomBits = None`. */
  def incrementalDedupKeepFirst(newDocs: DataFrame, idCol: String, textCol: String,
                                seen: DataFrame, wide: Boolean = false,
                                bloomBits: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.registerAll(newDocs.sparkSession)
    val fp = if (wide) wideFingerprint(col(textCol)) else expr(hashFrag(textCol))
    val hashed = newDocs.withColumn("_h", fp)
    val seenH = seen.select(col("h").as("_h"))
    val fresh = bloomBits match {
      case None => hashed.join(seenH, Seq("_h"), "left_anti")
      case Some(bits) =>
        import graft.functions.GraftFunctions
        val toLong: Column => Column =
          if (wide) c => c.getField("h1").bitwiseXOR(c.getField("h2"))
          else c => c
        val bytes = seenH
          .agg(GraftFunctions.bloom_agg(toLong(col("_h")), bits, 6).as("_b"))
          .head().getAs[Array[Byte]](0)
        // null can't occur (fingerprints are non-null) but keep the
        // bloomAntiJoin convention: unmatched nulls count as fresh
        val mc = coalesce(
          GraftFunctions.bloom_might_contain(toLong(col("_h")), bytes, 6),
          lit(false))
        // detach before splitting: both arms off the raw frame would
        // re-scan the wave and re-compute the (2-pass wide) fingerprint
        // per arm — one materialized scan, probe computed once
        val marked = Relational.detach(hashed.withColumn("_mc", mc))
        marked.where(!col("_mc")).drop("_mc")
          .unionByName(marked.where(col("_mc")).drop("_mc")
            .join(seenH, Seq("_h"), "left_anti"))
    }
    dedupKeepFirst(fresh, Seq("_h"), Seq(idCol)).drop("_h")
  }

  /** URL-level dedup: keep the smallest-id document per canonical URL
    * ([[graft.operators.TextAnalysis.canonicalizeUrl]]) — the stage web
    * pipelines run BEFORE any text dedup (RefinedWeb §3.2's exact-URL
    * pass): recrawls of one page under scheme/www/tracking-param variants
    * collapse without touching document text at all.
    *
    * Scale shape: one keep-first window keyed on the canonical string's
    * fingerprint — the exchange carries (hash, id), never the URL or the
    * text. `wide = true` (the production mode) keys on the 128-bit
    * [[wideFingerprint]]; the narrow int64 default is oracle-parity only —
    * at ~38k distinct canonical URLs the poly-31 fold hits 50% collision
    * odds and a live page would be silently deleted (see
    * [[fingerprints]]). */
  def urlDedupKeepFirst(docs: DataFrame, idCol: String, urlCol: String,
                        wide: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    val canon = docs.withColumn("_canon",
      graft.operators.TextAnalysis.canonicalizeUrl(col(urlCol)))
    val fp = if (wide) wideFingerprint(col("_canon")) else expr(hashFrag("_canon"))
    val hashed = canon.withColumn("_uh", fp).drop("_canon")
    dedupKeepFirst(hashed, Seq("_uh"), Seq(idCol)).drop("_uh")
  }

  /** Corpus snapshot diff — the corpus-versioning primitive: given two
    * generations of a document table, classify every id as `added`
    * (new only), `removed` (old only), `changed` (both, text fingerprint
    * differs — a re-crawl that actually re-rendered), or `unchanged`.
    * Training-data pipelines gate re-processing on exactly this: only
    * `added`+`changed` flow into the (expensive) clean/dedup/embed stages,
    * `removed` ids flow to index eviction.
    *
    * `nearHamming = Some(k)` splits `changed` by the 16-bit [[simhash]]
    * distance of the two generations: `re-rendered` (hamming <= k — a
    * trivial re-render: date stamp, counter, appended footer) vs
    * `rewritten` (actually new content). Without the split every trivial
    * re-render re-enters the expensive stages; with it only `added` +
    * `rewritten` need full re-processing while `re-rendered` ids can
    * just refresh their stored text.
    *
    * Scale shape: both sides reduce to (id, int64 fingerprint[, int64
    * simhash]) map-side — text never shuffles — then ONE full outer
    * equi-join on the id; the near test is a codegen'd bit_count on the
    * joined row (same discipline as [[simhashNearDupPairs]]'s verify).
    * Output: (id, status). */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String,
                 nearHamming: Option[Int] = None): DataFrame = {
    nearHamming.foreach(k => require(k >= 0 && k < 16,
      s"nearHamming must be in [0, 16) for the 16-bit fingerprint, got $k"))
    graft.functions.GraftFunctions.registerAll(oldDocs.sparkSession)
    def fp(d: DataFrame, side: String) =
      d.select(Seq(col(idCol).as(s"_id_$side"),
        expr(hashFrag(textCol)).as(s"_h_$side")) ++
        nearHamming.map(_ => graft.functions.GraftFunctions
          .simhash16(col(textCol)).as(s"_sh_$side")): _*)
    val changed = nearHamming match {
      case None => lit("changed")
      case Some(k) =>
        when(hamming(col("_sh_old"), col("_sh_new")) <= k, lit("re-rendered"))
          .otherwise(lit("rewritten"))
    }
    fp(oldDocs, "old").join(fp(newDocs, "new"),
        col("_id_old") === col("_id_new"), "full_outer")
      .select(
        coalesce(col("_id_old"), col("_id_new")).as(idCol),
        when(col("_id_old").isNull, lit("added"))
          .when(col("_id_new").isNull, lit("removed"))
          .when(col("_h_old") === col("_h_new"), lit("unchanged"))
          .otherwise(changed).as("status"))
  }

  /** Exact-duplicate cluster stats by an arbitrary fingerprint column. */
  def duplicateStats(df: DataFrame, fp: Column, out: String = "fingerprint"): DataFrame =
    df.groupBy(fp.as(out)).agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > 1)

  /** C4-style SPAN-level dedup stats: corpus-wide exact dedup of sliding
    * `n`-unit spans, units = newline-separated lines/sentences (Raffel et
    * al. 2020 §2.2 discard every occurrence of a 3-sentence span but the
    * first). Document-level dedup ([[dedupKeepFirst]], MinHash) cannot see
    * these PARTIAL overlaps — two documents sharing one boilerplate
    * paragraph dedup at span granularity only. Emits one row per document
    * that has >= 1 span: `(id, n_spans, n_dup_spans, n_removed)` —
    * spans whose hash occurs anywhere else in the corpus, and occurrences
    * that are not the corpus-wide canonical first (min (id, pos)), i.e.
    * the rows a scrub pass deletes. Documents shorter than `n` units have
    * no spans and don't appear.
    *
    * Scale shape: documents explode to `(id, pos, span_hash)` — the
    * shuffle carries int64 hashes, never span text (the
    * [[lshCandidatePairs]] discipline); occurrence counts + canonical rank
    * ride ONE hash-keyed window exchange; the per-document rollup is a
    * second map-side-combined aggregation. */
  def spanDupStats(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    import graft.functions.GraftFunctions.rolling_hash
    val units = col("_u")
    val spans = when(size(units) >= n,
      transform(sequence(lit(1), size(units) - n + 1),
        i => struct(i.as("pos"),
          rolling_hash(concat_ws("\n", slice(units, i, lit(n)))).as("h"))))
      .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))
    val ex = docs
      .select(col(idCol), split(col(textCol), "\n", -1).as("_u"))
      .select(col(idCol), explode(spans).as("_s"))
      .select(col(idCol), col("_s.pos").as("pos"), col("_s.h").as("h"))
    val wH = Window.partitionBy("h")
    val wHo = wH.orderBy(col(idCol).asc, col("pos").asc)
    ex.withColumn("n_occ", count(lit(1)).over(wH))
      .withColumn("rn", row_number().over(wHo))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_spans"),
        sum(when(col("n_occ") > 1 && col("rn") > 1, 1L).otherwise(0L)).as("n_removed"))
  }

  /** C4-style span-level SCRUB — the TRANSFORM behind [[spanDupStats]]'
    * audit: delete every line covered by a non-canonical occurrence of a
    * corpus-wide duplicated `n`-line span (Raffel et al. 2020 §2.2 keep
    * only the first occurrence of any 3-sentence span) and emit the
    * CLEANED text. Canonical occurrence = corpus-wide min `(id, pos)`,
    * identical to [[spanDupStats]]' rank, so `n_removed_lines` here and
    * `n_removed` there audit the same scrub decision at line vs span
    * granularity (overlapping removed spans share covered lines, so the
    * counts differ when duplicated spans overlap within one document).
    * Documents shorter than `n` units have no spans and pass through
    * unchanged; a document whose every line is covered emits an empty
    * `clean_text`. Output: `(id, n_lines, n_removed_lines, clean_text)`,
    * one row per input document.
    *
    * Scale shape: the duplicate-detection arm is [[spanDupStats]]' —
    * `(id, pos, int64 hash)` explode, ONE hash-keyed window exchange,
    * never span text; removed spans expand to covered line indices and
    * collapse to one `(id, array<int>)` row per affected document (the
    * shuffle carries ints, bounded by the document's line count). Only
    * the final join-back touches text: the corpus re-shuffles ONCE on id
    * against the (typically far smaller) removed-lines side, and the
    * cleaned text is rebuilt in a single codegen'd projection — an
    * index-aware array filter — not a per-line re-aggregation. */
  def spanScrub(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 3, wide: Boolean = false): DataFrame =
    unitSpanScrub(docs, idCol, textCol, n, "\n", "n_lines", "n_removed_lines",
      wide)

  /** Token-window exact-substring SCRUB — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better", ExactSubstr)
    * dedup pass at whitespace-token granularity: delete every token covered
    * by a non-canonical occurrence of a corpus-wide duplicated `n`-token
    * window and emit the cleaned text. The paper dedups substrings of >= 50
    * tokens via a suffix array; the distributed re-expression is the sliding
    * `n`-token window — every duplicated substring of length >= n is a run
    * of duplicated windows, and OVERLAPPING duplicated windows merge through
    * the covered-index set union (the interval-merge the suffix array gets
    * for free), so a 60-token duplicated run deletes 60 tokens, not
    * 11 x 50. Canonical occurrence = corpus-wide min `(id, pos)`, matching
    * [[spanScrub]]'s rank. Output: `(id, n_tokens, n_removed_tokens,
    * clean_text)`, one row per input document.
    *
    * Scale shape identical to [[spanScrub]]: int64 window hashes ride ONE
    * hash-keyed window exchange, covered indices collapse to one array row
    * per affected document, and text re-shuffles once on id for the
    * join-back rebuild. */
  def tokenSpanScrub(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 50, wide: Boolean = false): DataFrame =
    unitSpanScrub(docs, idCol, textCol, n, " ", "n_tokens", "n_removed_tokens",
      wide)

  /** Corpus-wide PARAGRAPH-level exact dedup SCRUB — the Dolma /
    * RefinedWeb paragraph-dedup stage: every blank-line-delimited
    * (`\n\n`) paragraph that occurs more than once corpus-wide is deleted
    * from all but its canonical occurrence (corpus-wide min `(id, pos)`,
    * the same rank as [[spanScrub]]), and each document is rebuilt from
    * its surviving paragraphs in order. Granularity sits between
    * [[boilerplateLineScrub]] (single lines, frequency-thresholded) and
    * document-exact [[dedupKeepFirst]] — the unit is the paragraph and
    * the decision is global keep-first, so shared footers, license
    * blocks, and syndicated passages vanish while their first source
    * survives. Output: `(id, n_paragraphs, n_removed_paragraphs,
    * clean_text)`, one row per document.
    *
    * Scale shape is [[spanScrub]]'s with n = 1: paragraph hashes ride ONE
    * hash-keyed window exchange (never paragraph text), removals collapse
    * to one index-array row per affected doc, and the corpus re-shuffles
    * once on id for the rebuild. `wide = true` keys on the 128-bit
    * [[wideFingerprint]] — the corpus-scale mode per [[fingerprints]]'
    * collision caveat; the narrow int64 default is oracle-parity only. */
  def paragraphScrub(docs: DataFrame, idCol: String, textCol: String,
                     wide: Boolean = false): DataFrame =
    unitSpanScrub(docs, idCol, textCol, n = 1, sep = "\n\n",
      "n_paragraphs", "n_removed_paragraphs", wide)

  /** Shared scrub body of [[spanScrub]] (units = lines, sep = `\n`),
    * [[tokenSpanScrub]] (units = whitespace tokens, sep = `" "`), and
    * [[paragraphScrub]] (units = paragraphs, sep = `\n\n`, n = 1): hash
    * every `n`-unit window, rank occurrences corpus-wide canonical-first,
    * expand non-canonical occurrences to covered 1-based unit indices, and
    * rebuild each affected document without the covered units. `wide`
    * swaps the int64 poly-31 window key for the 128-bit
    * [[wideFingerprint]] struct (collision caveat on [[fingerprints]]). */
  private def unitSpanScrub(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, sep: String,
                            nUnitsCol: String, nRemovedCol: String,
                            wide: Boolean = false): DataFrame = {
    require(n >= 1, s"span scrub needs window n >= 1, got $n")
    import graft.functions.GraftFunctions.rolling_hash
    val units = col("_u")
    val hashOf: Column => Column =
      if (wide) wideFingerprint else (c: Column) => rolling_hash(c)
    val emptySpanType =
      if (wide) "array<struct<pos:int,h:struct<h1:bigint,h2:bigint>>>"
      else "array<struct<pos:int,h:bigint>>"
    val spans = when(size(units) >= n,
      transform(sequence(lit(1), size(units) - n + 1),
        i => struct(i.as("pos"),
          hashOf(concat_ws(sep, slice(units, i, lit(n)))).as("h"))))
      .otherwise(array().cast(emptySpanType))
    val lined = docs.select(col(idCol), col(textCol), split(col(textCol), sep, -1).as("_u"))
    val ex = lined
      .select(col(idCol), explode(spans).as("_s"))
      .select(col(idCol), col("_s.pos").as("pos"), col("_s.h").as("h"))
    val wH = Window.partitionBy("h")
    val wHo = wH.orderBy(col(idCol).asc, col("pos").asc)
    val removed = ex
      .withColumn("n_occ", count(lit(1)).over(wH))
      .withColumn("rn", row_number().over(wHo))
      .where(col("n_occ") > 1 && col("rn") > 1)
      // a span at pos covers 1-based units [pos, pos + n - 1]
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + n - 1)).as("_ri"))
      .groupBy(idCol).agg(collect_set("_ri").as("_rm"))
    lined.join(removed, Seq(idCol), "left")
      .select(col(idCol),
        size(units).cast("long").as(nUnitsCol),
        coalesce(size(col("_rm")), lit(0)).cast("long").as(nRemovedCol),
        when(col("_rm").isNull, col(textCol))
          .otherwise(concat_ws(sep,
            filter(units, (l, i) => !array_contains(col("_rm"), i + 1))))
          .as("clean_text"))
  }

  /** Boilerplate-line SCRUB — corpus-document-frequency line removal (the
    * RefinedWeb/CCNet-style pass that kills nav menus, cookie banners and
    * footers): a line appearing in MORE than `maxDocFreq` distinct
    * documents is boilerplate, and every occurrence is deleted — including
    * the first (unlike [[spanScrub]], which keeps a canonical copy:
    * duplicated *content* keeps one occurrence, *boilerplate* keeps zero).
    * Output: `(id, n_lines, n_removed_lines, clean_text)`, one row per
    * input document.
    *
    * Scale shape: document frequency aggregates over per-document DISTINCT
    * line hashes (int64 — text never shuffles; `array_distinct` runs
    * map-side so a line repeated within one doc counts once), the
    * bad-hash set is typically tiny but joins back by shuffle (not
    * broadcast — corpus-fit artifacts are unbounded at 100 TB, the
    * [[graft.operators.TextAnalysis.contaminationHits]] lesson), and the
    * corpus re-shuffles ONCE on id to collapse removed line indices and
    * rebuild text in a codegen'd index-aware filter. */
  def boilerplateLineScrub(docs: DataFrame, idCol: String, textCol: String,
                           maxDocFreq: Int = 2): DataFrame = {
    require(maxDocFreq >= 1, s"boilerplateLineScrub needs maxDocFreq >= 1, got $maxDocFreq")
    import graft.functions.GraftFunctions.rolling_hash
    val units = col("_u")
    val lined = docs.select(col(idCol), col(textCol), split(col(textCol), "\n", -1).as("_u"))
    val docLineHashes = lined.select(col(idCol),
      explode(array_distinct(transform(units, u => rolling_hash(u)))).as("h"))
    val bad = docLineHashes.groupBy("h").agg(count(lit(1)).as("_df"))
      .where(col("_df") > maxDocFreq).select("h")
    val removed = lined
      .select(col(idCol),
        explode(transform(units, (u, i) =>
          struct((i + 1).as("li"), rolling_hash(u).as("h")))).as("_l"))
      .select(col(idCol), col("_l.li").as("li"), col("_l.h").as("h"))
      .join(bad, Seq("h"))
      .groupBy(idCol).agg(collect_set("li").as("_rm"))
    lined.join(removed, Seq(idCol), "left")
      .select(col(idCol),
        size(units).cast("long").as("n_lines"),
        coalesce(size(col("_rm")), lit(0)).cast("long").as("n_removed_lines"),
        when(col("_rm").isNull, col(textCol))
          .otherwise(concat_ws("\n",
            filter(units, (l, i) => !array_contains(col("_rm"), i + 1))))
          .as("clean_text"))
  }

  /** Fuzzy-dedup TRANSFORM: keep exactly ONE document per near-duplicate
    * cluster — the standard MinHash-LSH dedup pass a pretraining pipeline
    * runs (candidate pairs from [[lshCandidatePairs]], clusters from
    * [[connectedComponents]], canonical member = smallest id, i.e. the
    * cluster label itself). The transform twin of
    * the q65 cluster AUDIT, the way [[spanScrub]] is [[spanDupStats]]'
    * transform twin and [[dedupKeepFirst]] is the exact-hash one: callers
    * get back the deduplicated corpus, original schema intact.
    *
    * Scale shape: the pair/cluster arm carries only int64 ids (LSH bands
    * hash-bucket candidates — no all-pairs stage; CC collects id pairs);
    * the kept-id set joins back as a LEFT SEMI join on the id, so document
    * text crosses the wire once and rows never duplicate. Past
    * [[MaxDriverEdges]] candidate pairs CC runs [[connectedComponentsStar]]
    * — same labels, O(log^2 n) rounds.
    *
    * `tau`: optional similarity verification. LSH banding is a RECALL
    * device — at 100 TB a band's 4-slot key WILL collide for dissimilar
    * documents (birthday pressure across ~10^11 docs), and an unverified
    * candidate edge merges two unrelated dup families into one cluster,
    * silently deleting live documents. With `tau = Some(t)` a candidate
    * pair becomes an edge only when its estimated Jaccard (fraction of
    * equal MinHash slots, already computed by [[lshCandidatePairs]] from
    * the int64 signatures — no text re-read, the verify arm stays
    * fixed-width) is >= t. None preserves the historical
    * every-candidate-is-an-edge behavior (q108/q110). */
  def fuzzyDedupKeepFirst(docs: DataFrame, idCol: String, textCol: String,
                          tau: Option[Double] = None): DataFrame = {
    val kept = connectedComponents(docs.select(col(idCol).as("id")),
        verifiedPairs(docs, idCol, textCol, tau))
      .where(col("id") === col("component"))
      .select(col("id").as(idCol))
    docs.join(kept, Seq(idCol), "left_semi")
  }

  /** LSH candidate pairs reduced to CC edges, with the optional
    * estimated-Jaccard >= tau verification gate (see [[fuzzyDedupKeepFirst]]). */
  private def verifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                            tau: Option[Double]): DataFrame = {
    val cand = lshCandidatePairs(docs, idCol, textCol)
    tau.fold(cand)(t => cand.where(col("est_jaccard") >= t))
      .select("id_a", "id_b")
  }

  /** Quality-aware fuzzy dedup: keep the HIGHEST-`quality` document per
    * MinHash-LSH near-dup cluster (ties broken by smallest id), instead of
    * [[fuzzyDedupKeepFirst]]'s smallest-id canonical. This is the selection
    * production pipelines actually run — near-dup clusters mix a full page
    * with its truncated or boilerplate-wrapped variants, and keeping the
    * longest / highest-scoring member retains strictly more signal than
    * keeping whichever happened to get the smallest id (CCNet keeps by
    * quality bucket; SemDeDup keeps the most-central — same principle).
    * `quality` is any Column evaluable against `docs` (e.g.
    * `col("n_chars")`, a Gopher score, a char-LM logprob).
    *
    * Scale shape: identical to [[fuzzyDedupKeepFirst]] except the
    * canonical-selection arm carries (id, component, quality) — still
    * fixed-width, never text. Selection is one row_number window
    * partitioned by component (clusters are near-dup cliques: tiny, no
    * skew concern — a pathological mega-cluster means the corpus is one
    * giant dup family and dedup output is a handful of rows anyway);
    * the kept-id set left-semi-joins back, so text crosses the wire once. */
  def fuzzyDedupKeepBest(docs: DataFrame, idCol: String, textCol: String,
                         quality: Column, tau: Option[Double] = None): DataFrame = {
    val labels = connectedComponents(
      docs.select(col(idCol).as("id")),
      verifiedPairs(docs, idCol, textCol, tau))
    val scored = docs.select(col(idCol).as("id"), quality.as("_q")).join(labels, "id")
    val w = Window.partitionBy("component").orderBy(col("_q").desc, col("id").asc)
    val kept = scored.withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .select(col("id").as(idCol))
    docs.join(kept, Seq(idCol), "left_semi")
  }

  /** Intra-document repeated-line scrub: within each document, drop every
    * repeat of an already-seen line (first occurrence kept, order
    * preserved) and emit the cleaned text — the per-document half of
    * repetition removal (Rae et al. 2021 §A1.1 measures it as dup-line
    * fraction; this is the transform that removes what
    * [[graft.operators.TextAnalysis.repetitionStats]] counts). Corpus-wide
    * span dedup ([[spanScrub]]) catches cross-document boilerplate; this
    * catches the navigation bars, cookie banners, and chorus lines that
    * repeat INSIDE one page. Output mirrors [[spanScrub]]:
    * `(id, n_lines, n_removed_lines, clean_text)`, one row per document.
    *
    * Scale shape: ZERO shuffle — the whole operator is one codegen'd
    * projection (split → index-aware array filter keeping line i iff its
    * first occurrence index is i). The per-row filter is O(L^2) in the
    * document's line count via `array_position`; lines per document are
    * bounded (a 10k-line page is 10^8 char-compares worst case, still
    * microseconds), and no alternative shape beats a map-only operator at
    * 100 TB — any sort- or window-based dedup would shuffle the corpus. */
  def lineDedupInDoc(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val units = split(col(textCol), "\n", -1)
    val keptArr = filter(units, (l, i) => array_position(units, l) === (i + 1).cast("long"))
    docs.select(col(idCol),
      size(units).cast("long").as("n_lines"),
      (size(units) - size(keptArr)).cast("long").as("n_removed_lines"),
      concat_ws("\n", keptArr).as("clean_text"))
  }

  /** Materialized shingle-hash table: (idCol, hashes array<long>).
    *
    * Materialized deliberately: the char-level hash fold is the expensive
    * leaf of the whole dedup pipeline, and Spark re-evaluates expressions
    * nested inside higher-order-function lambdas once PER LAMBDA ELEMENT —
    * leaving this inline under the 16-slot MinHash transform (× 4 bands × 2
    * join sides) re-hashed every document ~128 times. A materialized hash
    * column is also the honest 100-TB design: signature/hash tables are
    * reusable artifacts, computed once per corpus snapshot.
    *
    * Handed back via [[Relational.detach]] (computed once, lineage severed,
    * no cacheManager entry) rather than `persist` — a persisted handback
    * would orphan a storage block no caller ever unpersists.
    */
  def shingleHashTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    Relational.detach(
      df.select(col(idCol), col(textCol), split(col(textCol), " ").as("_toks"))
        .select(col(idCol), expr(shingleHashesOverToks("_toks", textCol)).as("hashes")))
  }

  /** MinHash signatures: (idCol, sig array<long>) via the fused native
    * kernel ([[graft.functions.MinHashSig]] — one pass over the text, no
    * intermediate shingle/hash arrays). Values equal the SQL composition
    * `minhashFrag(shingle hashes)` exactly; min over the shingle multiset
    * equals min over the distinct set, so no dedup is needed. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), graft.functions.GraftFunctions.minhash_sig(col(textCol)).as("sig"))

  /** Banded MinHash signatures: one row per (band, bucket) membership,
    * carrying the full signature for estimated-Jaccard verification.
    * Detached (eager localCheckpoint) — every caller feeds it to a
    * multi-arm join. */
  /** `detached = true` (the self-join mode): the signature table feeds
    * both join sides, so detach it — not persist; a persisted handback
    * would leak a cacheManager block (see Relational.detach). Pass
    * `detached = false` when the signatures feed exactly ONE consumer
    * (e.g. the train stream of [[nearContaminationHits]], [[lshIndex]]'s
    * persist): eagerly materializing a corpus-sized frame for a single
    * downstream join contradicts the "only corpus-sized work is the
    * equi-join" cost model. */
  private def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                               detached: Boolean = true): DataFrame = {
    val rows = MinhashK / LshBands
    val raw = minhashSignatures(df, idCol, textCol)
    val sigs = if (detached) Relational.detach(raw) else raw
    sigs.select(
      col(idCol), col("sig"),
      explode(expr(
        s"transform(sequence(0, ${LshBands - 1}), " +
          s"b -> struct(b AS band, concat_ws('-', slice(sig, b * $rows + 1, $rows)) AS bkey))"))
        .as("bb"))
      .select(col(idCol), col("sig"), col("bb.band"), col("bb.bkey"))
  }

  /** Estimated Jaccard of two MinHash signatures: fraction of equal slots.
    * Values are multiples of 1/16 (exact binary fractions), so threshold
    * comparisons are engine-reproducible with no float-boundary risk. */
  private def estJaccardCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(MinhashK.toDouble)

  /** LSH candidate pairs: docs sharing at least one signature band, with the
    * estimated Jaccard = fraction of equal signature positions. Left id <
    * right id; each pair reported once. */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val banded = bandedSignatures(df, idCol, textCol)
    val l = banded.select(col(idCol).as("id_a"), col("sig").as("sig_a"), col("band"), col("bkey"))
    val r = banded.select(col(idCol).as("id_b"), col("sig").as("sig_b"), col("band"), col("bkey"))
    l.join(r, Seq("band", "bkey"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr(s"aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (a, v) -> a + v) / CAST($MinhashK AS DOUBLE)")
          .as("est_jaccard"))
      .distinct()
  }

  /** Persisted MinHash-LSH index of an ACCEPTED corpus — the near-dup
    * counterpart of [[fingerprints]]' exact index: one row per (band,
    * bucket) membership carrying the member's full signature, so future
    * waves can both FIND candidates (band equi-join) and VERIFY them
    * (est-Jaccard over the carried signatures) without ever touching the
    * accepted corpus's text again. Parquet-persist between waves; grows
    * with accepted documents x `LshBands`, not ingested volume.
    * Columns: (band, bkey, id, sig). */
  def lshIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bandedSignatures(docs, idCol, textCol, detached = false)
      .select(col("band"), col("bkey"), col(idCol).as("id"), col("sig"))

  /** The between-waves step of the incremental NEAR-dup contract:
    * `index_{t+1} = index_t ∪ lshIndex(survivors_t)` — the fuzzy twin of
    * [[growFingerprints]]. */
  def growLshIndex(index: DataFrame, kept: DataFrame,
                   idCol: String, textCol: String): DataFrame =
    index.unionByName(lshIndex(kept, idCol, textCol)).distinct()

  /** Incremental NEAR-dup dedup for append-only ingest — the fuzzy
    * counterpart of [[incrementalDedupKeepFirst]], completing the
    * production ladder's incremental column (exact incremental shipped in
    * rounds 9-10; near-dup waves previously required re-running the full
    * batch LSH over old ∪ new): drop every new document whose estimated
    * Jaccard against ANY indexed (accepted) document reaches `tau`, then
    * tau-verified fuzzy keep-first WITHIN the batch.
    *
    * Batch-parity contract: within-batch clusters are built over ALL new
    * docs (index-dropped ones included), and any cluster containing an
    * index hit drops ENTIRELY — exactly what a full old∪new
    * [[fuzzyDedupKeepFirst]] does when old docs are canonical (an
    * accepted doc always wins its cluster, and two new clusters bridged
    * by one accepted doc both drop: both are tainted here too).
    *
    * Scale shape: candidates vs the index are a (band, bkey) equi-join —
    * never all-pairs, never index text (signatures only, 16 int64s); the
    * within-batch arm is the same banded self-join as
    * [[lshCandidatePairs]] + [[connectedComponents]]' one edge collect.
    * New-wave text crosses the wire exactly once (the final semi join). */
  def incrementalFuzzyDedupKeepFirst(newDocs: DataFrame, idCol: String, textCol: String,
                                     index: DataFrame, tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    val nb = bandedSignatures(newDocs, idCol, textCol)
    val hits = nb.join(
        index.select(col("band"), col("bkey"), col("sig").as("_sig_old")),
        Seq("band", "bkey"))
      .where(estJaccardCol(col("sig"), col("_sig_old")) >= tau)
      .select(col(idCol).as("id")).distinct()
    val l = nb.select(col(idCol).as("id_a"), col("sig").as("sig_a"), col("band"), col("bkey"))
    val r = nb.select(col(idCol).as("id_b"), col("sig").as("sig_b"), col("band"), col("bkey"))
    val edges = l.join(r, Seq("band", "bkey"))
      .where(col("id_a") < col("id_b"))
      .where(estJaccardCol(col("sig_a"), col("sig_b")) >= tau)
      .select("id_a", "id_b").distinct()
    val comps = connectedComponents(newDocs.select(col(idCol).as("id")), edges)
    val tainted = comps.join(hits, Seq("id"))
      .select(col("component").as("_tc")).distinct()
    val kept = comps.where(col("id") === col("component"))
      .join(tainted, col("component") === col("_tc"), "left_anti")
      .select(col("id").as(idCol))
    newDocs.join(kept, Seq(idCol), "left_semi")
  }

  /** Cross-corpus NEAR-dup contamination — the fuzzy counterpart of
    * [[TextAnalysis.contaminationHits]]' exact n-gram probe (q82): flag
    * every training document whose estimated Jaccard against ANY
    * eval/benchmark document reaches `tau`. Exact decontamination misses
    * trivially re-rendered eval items (appended header, tweaked phrasing);
    * this is the near-dup net behind it (the GPT-3/PaLM-style fuzzy
    * decontamination stage). Output: flagged train docs as
    * (idCol, n_eval_hits, max_est_jaccard) — est values are multiples of
    * 1/16 (exact binary fractions), so the tau boundary, the max, and the
    * hit counts are all engine-reproducible.
    *
    * Scale shape: both sides reduce to banded MinHash signatures; the only
    * corpus-sized work is the (band, bkey) equi-join of the train stream
    * against the [[lshIndex]]-shaped eval side — never all-pairs, and eval
    * sets are tiny vs the corpus, so the index side broadcasts under AQE.
    * The pair-dedup and per-doc aggregate carry (id, eval_id, est) only —
    * fixed-width rows, no text past the signature fit. The eval index is
    * [[lshIndex]]'s persistable shape: fit it once per benchmark release
    * and reuse across corpus snapshots. */
  def nearContaminationHits(train: DataFrame, evalDocs: DataFrame,
                            idCol: String, textCol: String, tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    // non-detached: the corpus-sized train signatures feed exactly one
    // join — eager materialization here would cost a corpus-sized
    // checkpoint for zero reuse
    val tb = bandedSignatures(train, idCol, textCol, detached = false)
    val idx = lshIndex(evalDocs, idCol, textCol)
    tb.join(
        idx.select(col("band"), col("bkey"), col("id").as("_eid"), col("sig").as("_esig")),
        Seq("band", "bkey"))
      .select(col(idCol), col("_eid"),
        estJaccardCol(col("sig"), col("_esig")).as("_ej"))
      .distinct()
      .where(col("_ej") >= tau)
      .groupBy(col(idCol))
      .agg(countDistinct(col("_eid")).as("n_eval_hits"),
        max(col("_ej")).as("max_est_jaccard"))
  }

  /** True n-gram (word 3-shingle) Jaccard for candidate pairs — the
    * verification stage after LSH banding. `pairs` must expose text for both
    * sides as `text_a`/`text_b`. */
  def jaccard(textA: String, textB: String): Column = {
    val (ha, hb) = (shingleHashesFrag(textA), shingleHashesFrag(textB))
    expr(s"size(array_intersect($ha, $hb)) / CAST(size(array_union($ha, $hb)) AS DOUBLE)")
  }

  /** n-gram Jaccard for all pairs within an id gap, computed off the
    * materialized hash table so each document is shingle-hashed once, not
    * once per pair side. The id-gap range condition is bucketed into an
    * equi-join (floor(id/gap) + successor-bucket replication) — a bare
    * range join plans as a nested loop over all |n|^2 pairs. */
  def jaccardWithinGap(df: DataFrame, idCol: String, textCol: String,
                       maxGap: Long): DataFrame = {
    val hs = shingleHashTable(df, idCol, textCol)
    val a = hs.select(col(idCol).as("id_a"), col("hashes").as("h_a"),
      floor(col(idCol) / maxGap).as("bk"))
    val b = hs.select(col(idCol).as("id_b"), col("hashes").as("h_b"),
      explode(array(floor(col(idCol) / maxGap), floor(col(idCol) / maxGap) - 1)).as("bk"))
    a.join(b, "bk")
      .where(col("id_b") > col("id_a") && col("id_b") <= col("id_a") + maxGap)
      .select(col("id_a"), col("id_b"),
        round(expr("size(array_intersect(h_a, h_b)) / CAST(size(array_union(h_a, h_b)) AS DOUBLE)"), 6)
          .as("jaccard"))
  }

  /** Shingle CONTAINMENT for candidate pairs within an id gap — the
    * asymmetric companion to [[jaccardWithinGap]]: containment(a in b) =
    * |shingles(a) ∩ shingles(b)| / |shingles(a)|. Quote/excerpt detection
    * runs on this, not Jaccard — a 12-token excerpt embedded in a 500-token
    * page has containment 1.0 but Jaccard ~0.02, so symmetric dedup never
    * sees it (Broder 1997 distinguishes resemblance from containment for
    * exactly this case). Emits both directions per pair.
    *
    * Scale shape: identical to [[jaccardWithinGap]] — the materialized
    * hash table feeds a bucketed equi-join on floor(id/gap) with
    * successor-bucket replication (never a nested-loop range join), and
    * the pair arm carries int64 hash arrays, not text. */
  def containmentWithinGap(df: DataFrame, idCol: String, textCol: String,
                           maxGap: Long): DataFrame = {
    val hs = shingleHashTable(df, idCol, textCol)
    val a = hs.select(col(idCol).as("id_a"), col("hashes").as("h_a"),
      floor(col(idCol) / maxGap).as("bk"))
    val b = hs.select(col(idCol).as("id_b"), col("hashes").as("h_b"),
      explode(array(floor(col(idCol) / maxGap), floor(col(idCol) / maxGap) - 1)).as("bk"))
    a.join(b, "bk")
      .where(col("id_b") > col("id_a") && col("id_b") <= col("id_a") + maxGap)
      .select(col("id_a"), col("id_b"),
        round(expr("size(array_intersect(h_a, h_b)) / CAST(size(h_a) AS DOUBLE)"), 6)
          .as("cont_a_in_b"),
        round(expr("size(array_intersect(h_a, h_b)) / CAST(size(h_b) AS DOUBLE)"), 6)
          .as("cont_b_in_a"))
  }

  /** Fuzzy near-duplicate pairs by bounded edit distance, with TWO-PASS
    * prefix blocking as the candidate generator: documents are compared when
    * they share their first `prefixLen` characters OR the first `prefixLen`
    * characters of their REVERSED text (i.e. their suffix), and are within
    * `maxDist` of each other's length — the classic blocking scheme for
    * typo-level dedup (LSH/MinHash catches reordered content; edit distance
    * catches character-level corruption LSH's token shingles miss). The
    * reversed pass closes the single-prefix recall hole: an edit inside the
    * first `prefixLen` chars breaks the forward block but leaves the suffix
    * block intact. A true pair escapes only when edits land in BOTH the
    * first and last `prefixLen` chars.
    *
    * Scale shape: each pass is an equi-join bucketed by its prefix — never
    * all-pairs — and the passes union + dedup on the id pair BEFORE the
    * verify stage, so no pair runs the DP twice. The verify stage uses
    * Spark's THRESHOLDED levenshtein (banded DP, O(len x maxDist) per pair
    * instead of O(len^2), early-abandons above the bound).
    *
    * Returns (id_a, id_b, edit_dist), id_a < id_b, edit_dist <= maxDist. */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
                 maxDist: Int, prefixLen: Int = 16): DataFrame = {
    val t = df.select(col(idCol), col(textCol),
      substring(col(textCol), 1, prefixLen).as("_pfx_f"),
      substring(reverse(col(textCol)), 1, prefixLen).as("_pfx_r"),
      length(col(textCol)).as("_ln"))
    def block(pfx: String): DataFrame = {
      val a = t.select(col(idCol).as("id_a"), col(textCol).as("text_a"),
        col(pfx).as("_pfx"), col("_ln").as("ln_a"))
      val b = t.select(col(idCol).as("id_b"), col(textCol).as("text_b"),
        col(pfx).as("_pfx"), col("_ln").as("ln_b"))
      a.join(b, "_pfx")
        // |len_a - len_b| is a levenshtein lower bound: free pre-prune
        // before the DP runs.
        .where(col("id_a") < col("id_b") && abs(col("ln_a") - col("ln_b")) <= maxDist)
        .select(col("id_a"), col("id_b"), col("text_a"), col("text_b"))
    }
    // distinct on (ids, texts) = distinct on ids (texts are functionally
    // determined), so pairs found by both blocks verify once.
    block("_pfx_f").unionByName(block("_pfx_r")).distinct()
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b"), maxDist).as("edit_dist"))
      .where(col("edit_dist") >= 0) // thresholded form returns -1 above maxDist
  }

  /** SimHash values per document (fused native kernel,
    * [[graft.functions.SimHash]]; equals `simhashFrag` over token hashes). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), graft.functions.GraftFunctions.simhash16(col(textCol)).as("simhash"))

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs by Hamming-ball banding (Manku et al.
    * 2007 §3: split the fingerprint into `nBands` blocks; any pair within
    * Hamming distance `maxHamming < nBands` must agree EXACTLY on at least
    * one block by pigeonhole, so candidates come from `nBands` equi-joins
    * on (band, block-key) — never an all-pairs scan — and the exact
    * [[hamming]] check then discards the block collisions).
    *
    * Fingerprint width: [[simhash]] is 16-bit (4x4 banding) for bit-exact
    * DuckDB-oracle parity — at 100 TB swap in a 64-bit fingerprint with
    * 16-bit blocks (`bitsPerBand = 16`): the plan shape below is width-
    * independent, only the block-key selectivity changes (2^16 values per
    * block instead of 2^4).
    *
    * Scale shape: the banded self-join carries (id, simhash int64, band,
    * bkey) — fixed-width, no text; the exact verify is a codegen'd
    * bit_count on the joined row. Same discipline as
    * [[lshCandidatePairs]]. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 1, bitsPerBand: Int = 4,
                          nBands: Int = 4): DataFrame =
    bandedHammingPairs(Relational.detach(simhash(df, idCol, textCol)),
      idCol, maxHamming, bitsPerBand, nBands, fingerprintBits = 16)

  /** [[simhashNearDupPairs]] on the full-width 64-bit fingerprint
    * ([[graft.functions.SimHash64]]) with 16-bit blocks — the 100-TB
    * variant: a 16-bit block key has 65536 values, so band buckets stay
    * small where the oracle-parity 4-bit blocks (16 values) would funnel
    * the corpus into a handful of quadratic buckets. Not oracle-
    * reproducible (wrapping-long token hash); pinned by the unit suite
    * against brute-force ground truth instead. */
  def simhashNearDupPairs64(df: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3): DataFrame = {
    val sh = Relational.detach(df.select(col(idCol),
      graft.functions.GraftFunctions.simhash64(col(textCol)).as("simhash")))
    bandedHammingPairs(sh, idCol, maxHamming, bitsPerBand = 16, nBands = 4,
      fingerprintBits = 64)
  }

  /** Manku banding over ANY precomputed 64-bit fingerprint column — the
    * modality-agnostic entry: the text ladder arrives via
    * [[simhashNearDupPairs64]]'s token simhash, the IMAGE ladder via
    * [[graft.operators.Media.imageDHashes]]' perceptual dHash, and any
    * future modality (audio chroma hash, …) plugs in the same way. Exact
    * within the radius by the pigeonhole argument (maxHamming < nBands);
    * pairs as (id_a, id_b, hamming). The frame is detached — it feeds
    * both self-join sides. */
  def hammingNearDupPairs64(df: DataFrame, idCol: String, hashCol: String,
                            maxHamming: Int = 3): DataFrame = {
    val sh = Relational.detach(
      df.select(col(idCol), col(hashCol).cast("long").as("simhash")))
    bandedHammingPairs(sh, idCol, maxHamming, bitsPerBand = 16, nBands = 4,
      fingerprintBits = 64)
  }

  /** Shared Manku banding over a precomputed (idCol, simhash) frame.
    * `fingerprintBits` is the fingerprint's actual width: the bands must
    * TILE it (`nBands * bitsPerBand >= fingerprintBits`), else high bits
    * are never banded and pairs differing only there are silently lost —
    * violating the documented pigeonhole exactness. */
  /** Explode a (idCol, simhash) frame into its band rows:
    * (idCol, simhash, band, bkey). Shared by the self-join pair stage and
    * the incremental wave-vs-index join. */
  private def bandExplode(sh: DataFrame, idCol: String,
                          bitsPerBand: Int, nBands: Int): DataFrame = {
    val mask = (1L << bitsPerBand) - 1
    sh.select(col(idCol), col("simhash"),
      explode(expr(
        s"transform(sequence(0, ${nBands - 1}), " +
          s"b -> struct(b AS band, shiftright(simhash, b * $bitsPerBand) & $mask AS bkey))"))
        .as("bb"))
      .select(col(idCol), col("simhash"), col("bb.band"), col("bb.bkey"))
  }

  /** Persisted banded index of ACCEPTED 64-bit perceptual fingerprints —
    * the hamming twin of [[lshIndex]]: one row per (band, bucket)
    * membership carrying the full fingerprint, so future waves both FIND
    * candidates (band equi-join) and VERIFY them (exact bit_count)
    * without touching accepted bytes again. Parquet-persist between
    * waves; grow with `index.unionByName(hammingIndex64(survivors))`.
    * Columns: (band, bkey, id, h). */
  def hammingIndex64(df: DataFrame, idCol: String, hashCol: String): DataFrame =
    bandExplode(df.select(col(idCol), col(hashCol).cast("long").as("simhash")),
      idCol, bitsPerBand = 16, nBands = 4)
      .select(col("band"), col("bkey"), col(idCol).as("id"),
        col("simhash").as("h"))

  /** Incremental perceptual dedup for append-only media ingest — the
    * image/audio twin of [[incrementalFuzzyDedupKeepFirst]]: drop every
    * new item within `maxHamming` of ANY fingerprint in the persisted
    * [[hammingIndex64]], then keep-first within the wave (smallest id per
    * connected near-dup component). The daily-crawl contract: re-posted
    * images (recompressed, resized) and re-encoded audio never re-enter;
    * an intra-wave dup cluster lands exactly once.
    *
    * Scale shape: the wave-vs-index probe is a (band, bkey) equi-join —
    * never all-pairs, never media bytes (fingerprints only); the
    * within-wave arm is the [[hammingNearDupPairs64]] self-join + one
    * [[connectedComponents]] edge collect. Exact within the radius
    * (pigeonhole: maxHamming < 4 bands of 16 bits). */
  def incrementalHammingDedupKeepFirst(newItems: DataFrame, idCol: String,
                                       hashCol: String, index: DataFrame,
                                       maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"pigeonhole needs maxHamming in [0, 3], got $maxHamming")
    val sh = Relational.detach(
      newItems.select(col(idCol), col(hashCol).cast("long").as("simhash")))
    val nb = bandExplode(sh, idCol, bitsPerBand = 16, nBands = 4)
    val hits = nb.join(
        index.select(col("band"), col("bkey"), col("h").as("_ih")),
        Seq("band", "bkey"))
      .where(hamming(col("simhash"), col("_ih")) <= maxHamming)
      .select(col(idCol).as("id")).distinct()
    val edges = bandedHammingPairs(sh, idCol, maxHamming,
      bitsPerBand = 16, nBands = 4, fingerprintBits = 64)
      .select("id_a", "id_b")
    val comps = connectedComponents(newItems.select(col(idCol).as("id")), edges)
    val tainted = comps.join(hits, Seq("id"))
      .select(col("component").as("_tc")).distinct()
    val kept = comps.where(col("id") === col("component"))
      .join(tainted, col("component") === col("_tc"), "left_anti")
      .select(col("id").as(idCol))
    newItems.join(kept, Seq(idCol), "left_semi")
  }

  private def bandedHammingPairs(sh: DataFrame, idCol: String, maxHamming: Int,
                                 bitsPerBand: Int, nBands: Int,
                                 fingerprintBits: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nBands,
      s"pigeonhole needs maxHamming < nBands, got $maxHamming >= $nBands")
    require(nBands * bitsPerBand >= fingerprintBits,
      s"bands must cover the $fingerprintBits-bit fingerprint: " +
        s"$nBands bands x $bitsPerBand bits = ${nBands * bitsPerBand} " +
        s"< $fingerprintBits leaves high bits unbanded (pairs lost)")
    val banded = bandExplode(sh, idCol, bitsPerBand, nBands)
    val l = banded.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
      col("band"), col("bkey"))
    val r = banded.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
      col("band"), col("bkey"))
    l.join(r, Seq("band", "bkey"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Most edges [[connectedComponents]] unions on the driver; a graph with
    * more runs [[connectedComponentsStar]]. Driver heap at long ids is
    * about 240 bytes per edge while the call runs: the collected row
    * (~120 B), the union-find map entries of its endpoints (~60 B) and the
    * member arrays of the handback (~60 B); measured 119 MiB at the cap
    * with 1.5 distinct endpoints per edge. The broadcast handback is at
    * most 2·cap `(id, label)` long pairs, 16 MiB at the cap. */
  final val MaxDriverEdges: Int = 1 << 19

  /** Connected components over near-dup candidate pairs — turns pairwise
    * matches into dedup clusters (component id = smallest member id, the
    * canonical representative to keep).
    *
    * One bounded collect of the non-null edges (at most [[MaxDriverEdges]]
    * + 1 rows: the edge plan's own jobs, nothing per hop), then union-find
    * with path compression on the driver, keyed by the id values
    * themselves, so any id type works (long doc ids, string media ids).
    * The components go back as a local frame of member arrays; Spark's own
    * `array_min` names each one, so the label follows Spark's ordering of
    * the id type, and the exploded `(id, label)` rows left-join into
    * `nodes` under a broadcast. A node with no edge labels itself. Nothing
    * is persisted or detached, no shuffle is added, and a chain of any
    * length costs the same one collect. A graph with more edges than the
    * cap runs [[connectedComponentsStar]] instead (O(log^2 n) rounds).
    *
    * `nodes`: one column `id`; `edges`: columns `id_a`, `id_b`
    * (undirected, cast to the type of `id`; an edge with a null endpoint is
    * dropped, and an endpoint outside `nodes` still links the nodes it
    * touches). Output: (id, component), one row per `nodes` row and none
    * for an endpoint outside it. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val idType = nodes.schema("id").dataType
    val pairs = edges
      .select(col("id_a").cast(idType).as("a"), col("id_b").cast(idType).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .limit(MaxDriverEdges + 1).collect()
    if (pairs.length > MaxDriverEdges) connectedComponentsStar(nodes, edges)
    else {
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var root = x
        var up = parent.get(root)
        while (up != null && up != root) { root = up; up = parent.get(root) }
        var y = x
        while (y != root) y = parent.put(y, root)
        root
      }
      pairs.foreach { r =>
        val (a, b) = (find(r.get(0)), find(r.get(1)))
        parent.put(a, b)
        parent.putIfAbsent(b, b)
      }
      val members = parent.keySet.toArray.groupBy(find).values.map(m => Row(m.toSeq))
      val labels = nodes.sparkSession.createDataFrame(
          java.util.Arrays.asList(members.toSeq: _*),
          StructType(Seq(StructField("_m", ArrayType(idType, containsNull = false)))))
        .select(explode(col("_m")).as("id"), array_min(col("_m")).as("_label"))
      nodes.select(col("id")).join(broadcast(labels), Seq("id"), "left")
        .select(col("id"), coalesce(col("_label"), col("id")).as("component"))
    }
  }

  /** Star rounds [[connectedComponentsStar]] runs before it fails: ~log^2
    * of the largest component, so 25 covers a 10^6-hop chain (~20 rounds)
    * with margin. */
  private final val StarMaxRounds = 25

  /** Connected components by alternating large-star / small-star rounds —
    * the extreme-scale twin of [[connectedComponents]] (same contract, same
    * output), for edge sets too large to union on the driver: past
    * [[MaxDriverEdges]] [[connectedComponents]] runs this itself. Public
    * algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    * "Connected Components in MapReduce and Beyond" (SoCC 2014) — converges
    * in O(log^2 n) rounds on ANY graph shape (a 10^6-hop near-dup chain
    * takes ~20 star rounds).
    *
    * Each round is two star operations over the canonical edge set, every
    * one a single keyed shuffle (a partition-wide `min` window — no joins):
    *  - large-star: every node links its LARGER neighbors to the smallest
    *    node of its neighborhood (incl. itself) — safe in both directions,
    *    monotonically hangs heavy subtrees under small ids;
    *  - small-star: every edge is directed to its larger endpoint, then
    *    every node links its smaller neighbors (and itself) to their
    *    minimum — contracts the chains large-star leaves.
    * At fixpoint (edge-set signature stable) the edges form min-rooted
    * stars: every node is directly connected to its component's smallest
    * id, which is exactly [[connectedComponents]]'s label. Shuffle volume
    * per round is bounded by the (deduplicated, monotonically
    * non-increasing) edge set — ids only, never payloads.
    *
    * Storage/durability: every round and the handback are lineage-severed
    * via [[Relational.detach]] (set a checkpoint dir for the
    * executor-loss-safe mode), each superseded round is freed eagerly
    * through [[Relational.release]], no cacheManager entry is handed to the
    * caller, and non-convergence within [[StarMaxRounds]] fails loudly
    * rather than returning partial labels.
    *
    * `nodes`: one column `id`; `edges`: columns `id_a`, `id_b` (undirected).
    * Output: (id, component), one row per node. */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // Every round is detached ([[Relational.detach]]): each star operation
    // references its input 2-3 times, so an un-severed lineage grows the
    // logical plan ~4x PER ROUND — exponential plan trees OOM the driver
    // during plan stringification long before the data is a problem.
    // Detaching materializes the (ids-only, non-increasing) edge set once
    // per round and keeps every round's plan flat; the loop releases each
    // superseded round as soon as the next one is detached.
    // Canonical undirected edge set: (u < v), self-loops dropped.
    var e = Relational.detach(edges
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct())
    // Fixpoint detection: (edge count, order-independent content hash) —
    // bit_xor never overflows (xor, not sum: safe under ANSI mode). A
    // 64-bit collision making two DIFFERENT consecutive edge sets look
    // equal would stop a round early — at 2^-64 per round this is not a
    // practical concern, and the q79 oracle row would catch it loudly.
    def signature(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val wholePartition = Window.partitionBy(col("a"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def largeStar(ed: DataFrame): DataFrame = {
      val sym = ed.select(col("u").as("a"), col("v").as("b"))
        .unionByName(ed.select(col("v").as("a"), col("u").as("b")))
      sym.withColumn("m", least(col("a"), min(col("b")).over(wholePartition)))
        .where(col("b") > col("a")) // m <= a < b: emitted edge is (m, b)
        .select(col("m").as("u"), col("b").as("v")).distinct()
    }
    def smallStar(ed: DataFrame): DataFrame = {
      // direct every edge at its larger endpoint; all neighbors b < a
      val dir = ed.select(col("v").as("a"), col("u").as("b"))
      val withM = dir.withColumn("m", min(col("b")).over(wholePartition))
      withM.where(col("b") =!= col("m"))
        .select(col("m").as("u"), col("b").as("v"))
        .unionByName(withM.select(col("m").as("u"), col("a").as("v")))
        .distinct()
    }
    var sig = signature(e)
    var converged = sig._1 == 0L
    var iter = 0
    while (!converged && iter < StarMaxRounds) {
      val next = Relational.detach(smallStar(largeStar(e)))
      val nextSig = signature(next)
      Relational.release(e) // superseded round: free blocks/files eagerly
      e = next
      converged = nextSig == sig
      sig = nextSig
      iter += 1
    }
    // At fixpoint every edge is (component-min, member); isolated nodes are
    // their own component. The min() re-aggregation is a correctness guard
    // (a node can transiently carry two star edges) and costs one keyed
    // shuffle of ids.
    val labels = nodes.select(col("id"))
      .join(e.select(col("v").as("id"), col("u").as("_root")), Seq("id"), "left")
      .groupBy("id").agg(min(col("_root")).as("_root"))
      .select(col("id"), coalesce(col("_root"), col("id")).as("component"))
    require(converged,
      s"connectedComponentsStar did not converge within $StarMaxRounds rounds " +
        "(rounds needed are ~log^2 of the largest component)")
    val result = Relational.detach(labels) // materializes: e no longer needed
    Relational.release(e)
    result
  }

  /** SOFT dedup — the sampler-side alternative to hard removal
    * (data-constrained training per Muennighoff et al. 2023: repeated
    * data has diminishing but NONZERO value, so keep every copy and
    * downweight instead of deleting): each document gets its exact-
    * duplicate cluster size and `sample_weight = 1/n_copies`, making a
    * weight-proportional sampler see every distinct text with equal
    * total mass. `is_canonical` (min-id member) lets the same output
    * drive hard dedup when the budget decision flips — one pass, both
    * policies. Output: (id, n_copies, sample_weight, is_canonical).
    *
    * Scale shape: identical to [[dedupKeepFirst]] — ONE window exchange
    * keyed on the text fingerprint carrying (id, hash); `wide = true`
    * keys 128-bit ([[fingerprints]]' collision caveat; narrow int64 is
    * oracle-parity only). */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String,
                       wide: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    val fp = if (wide) wideFingerprint(col(textCol)) else expr(hashFrag(textCol))
    val w = Window.partitionBy("_h")
    val wo = w.orderBy(col(idCol).asc)
    docs.withColumn("_h", fp)
      .withColumn("n_copies", count(lit(1)).over(w).cast("long"))
      .withColumn("sample_weight",
        round(lit(1.0) / col("n_copies"), 6))
      .withColumn("is_canonical", row_number().over(wo) === 1)
      .select(col(idCol), col("n_copies"), col("sample_weight"),
        col("is_canonical"))
  }

  /** Winnowed document fingerprints (Schleimer–Wilkerson–Aiken 2003 — the
    * MOSS local-fingerprinting algorithm): hash every `k`-token gram
    * (poly-31, [[spanDupStats]]' hash), slide a `w`-hash window, and
    * select each window's MINIMUM hash; consecutive windows sharing a
    * minimum select it once (the distinct), and ties pick the LEFTMOST
    * minimal hash (deterministic; the paper's rightmost rule only shifts
    * which of equal hashes is stored — the guarantee is unchanged).
    *
    * GUARANTEE (the paper's Theorem): any run of >= w+k-1 consecutive
    * shared tokens between two documents shares at least one SELECTED
    * fingerprint, while the expected selected density is 2/(w+1) of all
    * gram hashes. That ratio is the 100-TB lever: a corpus-wide match
    * index stores ~2/(w+1) of the grams ([[spanDupStats]] stores every
    * one) with a hard floor on the match length it can miss. Documents
    * with fewer than w grams select nothing — below the guarantee's
    * detectable length by construction.
    *
    * Scale shape: pure per-document array work in one codegen'd
    * projection (no window exchange — the sliding window is over the
    * doc's own gram array), then one distinct keyed on (id, pos, h).
    * Output: (id, pos, h), pos = the selected gram's 1-based position. */
  def winnowedFingerprints(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, w: Int = 4,
                           wide: Boolean = false): DataFrame = {
    require(k >= 1, s"gram size k must be >= 1, got $k")
    require(w >= 1, s"window size w must be >= 1, got $w")
    // wide = true: xxhash64 gram keys — the corpus-scale mode. The
    // oracle-parity poly-31 fold has ~30 usable bits, so at corpus scale
    // DISTINCT grams share fingerprints and the pair stage inflates with
    // phantom candidates (same starvation as [[fingerprints]]; the
    // min-selection itself is hash-agnostic, so the density and the
    // w+k-1 guarantee hold under either key).
    //
    // One fused kernel per doc (gram hash + window min + tie rule +
    // per-position dedup, see functions/WinnowFingerprints) — the
    // per-(pos, h) dedup is doc-local by the winnowing tie rule, so the
    // corpus-wide .distinct() exchange of the declarative form is gone.
    docs.select(col(idCol),
        explode(graft.functions.GraftFunctions
          .winnow_fingerprints(col(textCol), k, w, wide)).as("_s"))
      .select(col(idCol), col("_s.pos").as("pos"), col("_s.h").as("h"))
  }

  /** Winnowed match-pair candidates: document pairs sharing at least
    * `minShared` distinct winnowed fingerprints — the MOSS match report.
    * By [[winnowedFingerprints]]' guarantee a shared run of >= w+k-1
    * tokens ALWAYS pairs (with >= 1 shared fingerprint); `minShared`
    * raises the evidence bar against single-gram coincidences.
    *
    * Scale shape: one fingerprint-keyed equi self-join (bucket join,
    * never all-pairs — [[simhashNearDupPairs]]' discipline) over a table
    * ~2/(w+1) the size of a full gram index, then a pair-keyed count.
    * A stopword-heavy gram can still hot-bucket; the levers are raising
    * `k` (rarer grams) or salting the join ([[Relational.saltedJoin]]). */
  def winnowedMatchPairs(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4,
                         minShared: Int = 2,
                         wide: Boolean = false): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fp = winnowedFingerprints(docs, idCol, textCol, k, w, wide)
    val a = fp.select(col(idCol).as("id_a"), col("h"))
    val b = fp.select(col(idCol).as("id_b"), col("h"))
    a.join(b, Seq("h")).where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(countDistinct("h").as("n_shared"))
      .where(col("n_shared") >= minShared)
  }
}
