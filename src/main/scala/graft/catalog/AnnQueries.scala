package graft
package catalog

import SparkEntry._
import graft.meta.Tables
import graft.operators._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Vector similarity over the embeddings table: exact and IVF top-k,
  * product quantization (flat, IVF, OPQ, balanced) and the exact-gated
  * point-mass twins of the Lloyd-fit family. */
private[graft] object AnnQueries {
  val entries: Seq[Q] = Seq(

    // Brute-force cosine top-k (exact ANN baseline; native fused kernel).
    Q("q27_cosine_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rank")
    }, Oracle(
      """WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |sc AS (SELECT probe_id, neighbor_id,
        |list_dot_product(pv, cv) / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |FROM p JOIN c ON neighbor_id != probe_id),
        |r AS (SELECT probe_id, neighbor_id, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine
        |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),

    // IVF-bucketed ANN (the 100-TB scale path).
    Q("q28_ann_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8),
        emb.where(col("vec_id") >= 10 && col("vec_id") < 20), 3)
        .orderBy("probe_id", "rank")
    }, Oracle(
      """WITH cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |asg AS (SELECT vec_id, v, cell_id FROM (
        |  SELECT corp.vec_id, corp.v, cent.cell_id,
        |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
        |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
        |    cent.cell_id) AS rr
        |  FROM corp CROSS JOIN cent) WHERE rr = 1),
        |probes AS (SELECT vec_id AS probe_id, v AS pv, cell_id FROM asg WHERE vec_id >= 10 AND vec_id < 20),
        |cands AS (SELECT a.vec_id AS neighbor_id, a.v AS cv, a.cell_id FROM asg a),
        |sc AS (SELECT p.probe_id, c.neighbor_id,
        |list_dot_product(p.pv, c.cv) / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
        |FROM probes p JOIN cands c ON p.cell_id = c.cell_id AND c.neighbor_id != p.probe_id),
        |r AS (SELECT probe_id, neighbor_id, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine
        |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin)),

    // Multi-probe IVF: each probe searches its 2 closest cells — the recall
    // lever for probes near a cell boundary; corpus work scales with nprobe,
    // never with corpus size.
    Q("q74_ann_multiprobe", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8),
        emb.where(col("vec_id") >= 10 && col("vec_id") < 20), 3, nprobe = 2)
        .orderBy("probe_id", "rank")
    }, Oracle(
      // Same assignment arithmetic as q28; the probe side keeps rr <= 2 cells.
      """WITH cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ranked AS (SELECT corp.vec_id, corp.v, cent.cell_id,
        |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
        |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
        |    cent.cell_id) AS rr
        |  FROM corp CROSS JOIN cent),
        |asg AS (SELECT vec_id, v, cell_id FROM ranked WHERE rr = 1),
        |probes AS (SELECT vec_id AS probe_id, v AS pv, cell_id FROM ranked
        |  WHERE rr <= 2 AND vec_id >= 10 AND vec_id < 20),
        |sc AS (SELECT p.probe_id, a.vec_id AS neighbor_id,
        |list_dot_product(p.pv, a.v) / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(a.v, a.v))) AS cos
        |FROM probes p JOIN asg a ON p.cell_id = a.cell_id AND a.vec_id != p.probe_id),
        |r AS (SELECT probe_id, neighbor_id, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine
        |FROM r WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin)),

    // Embedding near-duplicate pairs above cosine threshold.
    Q("q29_embed_neardup", (s, dir) => {
      Similarity.nearDupPairs(Tables.embeddings(s, dir), 0.2, 20)
        .orderBy("id_a", "id_b")
    }, Oracle(
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |round(list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
        |FROM v a JOIN v b ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 20
        |WHERE list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) > 0.2
        |ORDER BY id_a, id_b""".stripMargin)),

    // Hyperplane-LSH cosine bucketing (the ANN candidate generator).
    Q("q37_lsh_cosine", (s, dir) => {
      Similarity.hyperplaneBuckets(Tables.embeddings(s, dir))
        .groupBy("bucket").agg(count(lit(1)).as("n"),
          min("vec_id").as("min_id"), max("vec_id").as("max_id"))
        .orderBy("bucket")
    }, Oracle {
      val dot = (p: Int) =>
        s"list_dot_product(CAST(embedding AS DOUBLE[]), " +
          s"list_transform(range(1, len(embedding) + 1), d -> CAST((d * 131 + $p + 7) * (d * 137 + $p * 149 + 11) % 1009 % 3 - 1 AS DOUBLE)))"
      val bits = (0 until 8)
        .map(p => s"CASE WHEN ${dot(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""SELECT $bits AS bucket, count(*) AS n,
         |min(vec_id) AS min_id, max(vec_id) AS max_id
         |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // Per-bucket embedding centroids via the native VectorAvg aggregate
    // (map-side-combined double[dims] buffers — shuffle bytes independent of
    // corpus size), exploded to (bucket, dim, value) for the oracle compare.
    Q("q53_centroids", (s, dir) => {
      Tables.embeddings(s, dir)
        .groupBy((col("vec_id") % 8).as("bucket"))
        .agg(graft.functions.GraftFunctions.vector_avg(col("embedding")).as("centroid"),
          count(lit(1)).as("n_vecs"))
        .select(col("bucket"), col("n_vecs"), posexplode(col("centroid")))
        .select(col("bucket"), col("n_vecs"),
          (col("pos") + 1).as("dim"), round(col("col"), 6).as("c"))
        .orderBy("bucket", "dim")
    }, Oracle(
      """WITH x AS (SELECT vec_id % 8 AS bucket,
        |unnest(CAST(embedding AS DOUBLE[])) AS v,
        |unnest(range(1, len(embedding) + 1)) AS dim FROM embeddings),
        |nv AS (SELECT vec_id % 8 AS bucket, count(*) AS n_vecs FROM embeddings GROUP BY 1)
        |SELECT x.bucket AS bucket, nv.n_vecs, CAST(dim AS INTEGER) AS dim, round(avg(v), 6) AS c
        |FROM x JOIN nv ON x.bucket = nv.bucket
        |GROUP BY x.bucket, nv.n_vecs, dim ORDER BY x.bucket, dim""".stripMargin)),

    // Embedding-space diversity subsample: IVF-quantize to 8 cells, keep
    // the 10 most-central vectors per cell — cluster-balanced corpus
    // subsetting (takePerStratum's embedding twin).
    Q("q90_diversity_sample", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.diversitySample(emb, emb.where(col("vec_id") < 8), 10)
        .orderBy("cell_id", "rank")
    }, Oracle(
      """WITH cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |asg AS (SELECT vec_id, cell_id, cos FROM (
        |  SELECT corp.vec_id, cent.cell_id,
        |  list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) AS cos,
        |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
        |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
        |    cent.cell_id) AS rr
        |  FROM corp CROSS JOIN cent) WHERE rr = 1),
        |r AS (SELECT cell_id, vec_id, round(cos, 6) AS centrality,
        |  row_number() OVER (PARTITION BY cell_id ORDER BY round(cos, 6) DESC, vec_id) AS rank FROM asg)
        |SELECT cell_id, CAST(rank AS BIGINT) AS rank, vec_id, centrality
        |FROM r WHERE rank <= 10 ORDER BY cell_id, rank""".stripMargin)),

    // Product-quantization ANN end-to-end: fit 8x16 codebooks (the test
    // tables are already fit-sample-sized; at 100 TB the fit input is a
    // bounded sample, see fitPqCodebooks scaladoc), compress the corpus to
    // 8 codes/vector — the 32x-smaller index a 100-TB store persists
    // instead of raw floats — then ADC top-10 for 8 probes over CODES
    // only. Rows-only: Lloyd's float averages are engine-specific, same
    // contract as the sketch queries.
    // q93_pq_ann is rows-only by design (Lloyd-fit codebooks are float
    // aggregates with engine-specific summation order — same contract as
    // the HLL++/GK sketch queries; see SketchParitySpec's PQ recall
    // anchor). q221_pq_ann_twin is its exact hash gate: a point-mass
    // fixture where the fit is closed-form and ADC ordering is forced.
    Q("q93_pq_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val books = Similarity.fitPqCodebooks(emb, m = 8, ksub = 16, iterations = 3)
      val codes = Similarity.pqEncode(emb, books)
      Similarity.pqTopK(codes, books, emb.where(col("vec_id") < 8), 10)
        .orderBy("probe_id", "rank")
    }, RowsOnly.LloydFit),

    // SemDeDup-shaped semantic dedup: drop any vector with an earlier
    // same-LSH-bucket neighbor above cosine 0.35 (keep-first), MEAN-
    // CENTERED — buckets and cosines both run on v - mu (the measured
    // concentration fix; BASELINE.md "Round-19: mean-centering closes the
    // LSH concentration hole"). The
    // deterministic hyperplane buckets (q37's) plus the 6-dp-rounded mean
    // (fitMeanVector's cross-engine constant) keep the oracle exact.
    Q("q94_sem_dedup", (s, dir) => {
      Similarity.semanticDedup(Tables.embeddings(s, dir), threshold = 0.35,
          center = true)
        .orderBy("vec_id")
    }, Oracle {
      // Same deterministic hyperplane rebuild as the q37 oracle, on MEAN-
      // CENTERED vectors: mu is the per-dim corpus avg rounded to 6 dp
      // (both engines' decimal HALF_UP, so the constant — and hence every
      // downstream double — is bit-identical; see fitMeanVector). Pairs
      // and anti-join mirror Similarity.semanticDedup exactly (unrounded
      // centered cosine strictly > threshold, keep-first on vec_id).
      val dot = (p: Int) =>
        s"list_dot_product(e, " +
          s"list_transform(range(1, len(e) + 1), d -> CAST((d * 131 + $p + 7) * (d * 137 + $p * 149 + 11) % 1009 % 3 - 1 AS DOUBLE)))"
      val bits = (0 until 8)
        .map(p => s"CASE WHEN ${dot(p)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0 FROM embeddings),
         |mu AS (SELECT LIST(m ORDER BY i) AS mu FROM (
         |  SELECT i, round(avg(e0[i]), 6) AS m
         |  FROM raw, unnest(range(1, len(e0) + 1)) AS r(i) GROUP BY i)),
         |c AS (SELECT vec_id, list_transform(range(1, len(e0) + 1), i -> e0[i] - mu[i]) AS e
         |  FROM raw CROSS JOIN mu),
         |v AS (SELECT vec_id, e, $bits AS bucket FROM c),
         |d AS (SELECT DISTINCT b.vec_id FROM v a JOIN v b ON a.bucket = b.bucket AND b.vec_id > a.vec_id
         |WHERE list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) > 0.35)
         |SELECT vec_id, bucket FROM v WHERE vec_id NOT IN (SELECT vec_id FROM d) ORDER BY vec_id""".stripMargin
    }),

    // INT8 scalar quantization: exact per-dimension [min,max] fit, 8-bit
    // codes, per-vector reconstruction-error summary. sum(codes) is a
    // whole-vector checksum, so a single mis-encoded element fails the
    // hash compare.
    Q("q96_int8_quant", (s, dir) => {
      Similarity.scalarQuantize(Tables.embeddings(s, dir))
        .select(col("vec_id"),
          aggregate(col("qcodes"), lit(0L), (acc, c) => acc + c).as("sum_codes"),
          col("max_abs_err"))
        .orderBy("vec_id")
    }, Oracle(
      // floor(r + 0.5), not round(r): half-up vs half-even rounding differs
      // across engines; the formula text mirrors Similarity.scalarQuantize
      // exactly so the doubles tie out bit-for-bit
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |u AS (SELECT vec_id, e[i] AS x, i FROM v, unnest(range(1, len(e) + 1)) AS r(i)),
        |s AS (SELECT i, min(x) AS mn, max(x) AS mx FROM u GROUP BY i),
        |c AS (SELECT vec_id, x, mn, mx,
        |CASE WHEN mx = mn THEN 0 ELSE least(CAST(floor((x - mn) / ((mx - mn) / 255.0) + 0.5) AS BIGINT), 255) END AS code
        |FROM u JOIN s USING (i)),
        |q AS (SELECT vec_id, code, abs(x - (mn + code * ((mx - mn) / 255.0))) AS err FROM c)
        |SELECT vec_id, CAST(sum(code) AS BIGINT) AS sum_codes, round(max(err), 6) AS max_abs_err
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // IVF-PQ ANN (Faiss composition): 8 coarse cells + 8x16 PQ on cell
    // residuals, multi-probe nprobe=2 ADC search over codes only — finer
    // than flat PQ at the same code budget (residuals are centered), and
    // corpus rows outside probed cells are never read. Rows-only like the
    // other Lloyd-fit queries; recall anchor in SketchParitySpec.
    Q("q100_ivfpq_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainCentroids(emb, 8, 3)
      val books = Similarity.fitIvfPqCodebooks(emb, cents, m = 8, ksub = 16,
        iterations = 3)
      val enc = Similarity.ivfPqEncode(emb, cents, books)
      Similarity.ivfPqTopK(enc, cents, books, emb.where(col("vec_id") < 8),
        10, nprobe = 2)
        .orderBy("probe_id", "rank")
    }, RowsOnly.LloydFit),

    // Binary sign quantization + Hamming top-k: the cheapest ANN tier
    // (8 bytes/vector, bit_count(xor) per candidate). Training-free and
    // fully deterministic, so unlike the Lloyd-fit indexes the whole
    // pipeline gets an exact oracle.
    Q("q101_binary_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hammingTopK(emb, emb.where(col("vec_id") < 8), 10)
        .orderBy("probe_id", "rank")
    }, Oracle {
      // the same sign-bit packing as Similarity.binarySignPack, rebuilt in
      // SQL; ties on hamming resolve by neighbor id in both engines
      def word(r: Range, base: Int) = r.map(d =>
        s"CASE WHEN len(e) >= $d AND e[$d] >= 0 THEN CAST(${1L << (d - base)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |b AS (SELECT vec_id, ${word(1 to 32, 1)} AS lo, ${word(33 to 64, 33)} AS hi FROM v),
         |p AS (SELECT vec_id AS probe_id, lo AS plo, hi AS phi FROM b WHERE vec_id < 8),
         |s AS (SELECT p.probe_id, b.vec_id AS neighbor_id,
         |bit_count(xor(b.lo, p.plo)) + bit_count(xor(b.hi, p.phi)) AS hamming
         |FROM b, p WHERE b.vec_id <> p.probe_id),
         |r AS (SELECT probe_id, neighbor_id, hamming,
         |row_number() OVER (PARTITION BY probe_id ORDER BY hamming, neighbor_id) AS rank FROM s)
         |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, CAST(hamming AS INTEGER) AS hamming
         |FROM r WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin
    }),

    // Two-stage retrieval: 50-wide binary shortlist, exact cosine re-rank
    // to top-10 — the production ANN shape (cheap filter, exact finisher),
    // deterministic end-to-end so the whole pipeline has an exact oracle.
    Q("q102_rerank_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.rerankTopK(emb, emb.where(col("vec_id") < 8),
        shortlist = 50, k = 10)
        .orderBy("probe_id", "rank")
    }, Oracle {
      // stage 1 = q101's hamming shortlist at width 50; stage 2 = q27's
      // exact cosine rank over only the shortlisted pairs
      def word(r: Range, base: Int) = r.map(d =>
        s"CASE WHEN len(e) >= $d AND e[$d] >= 0 THEN CAST(${1L << (d - base)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |b AS (SELECT vec_id, ${word(1 to 32, 1)} AS lo, ${word(33 to 64, 33)} AS hi FROM v),
         |p AS (SELECT vec_id AS probe_id, lo AS plo, hi AS phi FROM b WHERE vec_id < 8),
         |h AS (SELECT p.probe_id, b.vec_id AS neighbor_id,
         |row_number() OVER (PARTITION BY p.probe_id
         |  ORDER BY bit_count(xor(b.lo, p.plo)) + bit_count(xor(b.hi, p.phi)), b.vec_id) AS hrank
         |FROM b, p WHERE b.vec_id <> p.probe_id),
         |sc AS (SELECT h.probe_id, h.neighbor_id,
         |list_dot_product(pv.e, cv.e) / (sqrt(list_dot_product(pv.e, pv.e)) * sqrt(list_dot_product(cv.e, cv.e))) AS cos
         |FROM h JOIN v pv ON h.probe_id = pv.vec_id JOIN v cv ON h.neighbor_id = cv.vec_id
         |WHERE h.hrank <= 50),
         |r AS (SELECT probe_id, neighbor_id, cos,
         |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
         |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine
         |FROM r WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin
    }),

    // IVF-PQ fit-once/probe-many: q100's search served from a PERSISTED
    // index (Similarity.saveIvfPqIndex parquet convention) — the
    // production ANN shape. The fit+encode runs at most once per (sf dir,
    // JVM-independent cache on disk); the query body itself is load +
    // probe, so its cost is the probed cells' codes, not two Lloyd fits.
    // Rows-only like every Lloyd-fit query; round-trip identity is pinned
    // by DedupSimilaritySpec.
    Q("q106_ivfpq_prefit", (s, dir) => {
      val idx = prefitIvfPqIndex(s, dir)
      Similarity.ivfPqTopK(idx.encoded, idx.centroids, idx.codebooks,
        Tables.embeddings(s, dir).where(col("vec_id") < 8), 10, nprobe = 2)
        .orderBy("probe_id", "rank")
    }, RowsOnly.LloydFit),

    // Corpus-vs-corpus IVF-PQ retrieval (the bitext-mining / whole-corpus
    // nearest-neighbor shape): EVERY vector in the embeddings table probes
    // the persisted index. The probe set is a plain DataFrame side of the
    // cell-id equi-join (`broadcastProbes = false`) — per-probe lookup
    // tables are built by the narrow PqLut kernel on the probe side, so
    // nothing probe-sized is ever collected to the driver or broadcast:
    // the shape that scales to millions of probes. Rows-only like the
    // other Lloyd-fit queries; distributed-vs-broadcast path identity is
    // pinned in DedupSimilaritySpec.
    Q("q191_pq_bigprobe", (s, dir) => {
      val idx = prefitIvfPqIndex(s, dir)
      Similarity.ivfPqTopK(idx.encoded, idx.centroids, idx.codebooks,
        Tables.embeddings(s, dir), 3, nprobe = 2, broadcastProbes = false)
        .orderBy("probe_id", "rank")
    }, RowsOnly.LloydFit),

    // Cluster-quality report for the ANN family: centroid-based
    // silhouette (the O(n*k) production form — full silhouette is O(n^2))
    // over q28's centroid convention (vec_id < 8), cosine distance.
    Q("q146_silhouette", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.centroidSilhouette(emb, emb.where(col("vec_id") < 8))
        .orderBy("cell_id")
    }, Oracle(
      // q28's double-cast cosine CTEs; distance = 1 - cos, top-2 by
      // (dist, cell_id), s = (b-a)/max(a,b) with the both-zero guard
      """WITH cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (SELECT corp.vec_id, cent.cell_id,
        |  1.0 - list_dot_product(v, cv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))) AS dist
        |  FROM corp CROSS JOIN cent),
        |r AS (SELECT vec_id, cell_id, dist,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rn FROM d),
        |ab AS (SELECT vec_id, max(CASE WHEN rn = 1 THEN cell_id END) AS cell_id,
        |  max(CASE WHEN rn = 1 THEN dist END) AS a, max(CASE WHEN rn = 2 THEN dist END) AS b
        |  FROM r WHERE rn <= 2 GROUP BY vec_id),
        |s AS (SELECT cell_id, CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s FROM ab)
        |SELECT cell_id, count(*) AS n_vecs, round(avg(s), 6) AS mean_silhouette,
        |  round(min(s), 6) AS min_silhouette
        |FROM s GROUP BY cell_id ORDER BY cell_id""".stripMargin)),

    // Hard-negative mining (DPR/Contriever): per probe, the top-5 most-
    // similar vectors of a DIFFERENT label — contrastive training's
    // gradient-dense negatives. q27's probe set; brute tier (q28's IVF
    // candidates are the scale swap, per the operator scaladoc).
    Q("q147_hard_negatives", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 10), 5)
        .orderBy("probe_id", "rank")
    }, Oracle(
      // q27's double-cast cosine CTEs plus the different-label filter
      """WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv, label AS pl FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS cl FROM embeddings),
        |sc AS (SELECT probe_id, neighbor_id, cl,
        |list_dot_product(pv, cv) / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |FROM p JOIN c ON neighbor_id != probe_id AND cl != pl),
        |r AS (SELECT probe_id, neighbor_id, cl, cos,
        |row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
        |  round(cos, 6) AS cosine, cl AS neighbor_label
        |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),

    // k-NN label-noise detection: majority label disagreement among the
    // 5 nearest cell-local neighbors flags likely mislabeled vectors —
    // the dataset-QA gate before a labeled set trains anything. Cell-
    // bounded candidates (q28's assignment), never all-pairs.
    Q("q148_label_noise", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnLabelNoise(emb, emb.where(col("vec_id") < 8), 5)
        .orderBy("probe_id")
    }, Oracle(
      // q28's assignment CTE (cos DESC, cell_id tie), cell-local self-
      // join, top-5 by (cos DESC, neighbor id), majority-disagree verdict
      """WITH cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |asg AS (SELECT vec_id, v, label, cell_id FROM (
        |  SELECT corp.vec_id, corp.v, corp.label, cent.cell_id,
        |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
        |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
        |    cent.cell_id) AS rr
        |  FROM corp CROSS JOIN cent) WHERE rr = 1),
        |sc AS (SELECT a.vec_id AS probe_id, a.label AS probe_label,
        |  b.vec_id AS nid, b.label AS nl,
        |  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id != b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, nid) AS rn FROM sc)
        |SELECT probe_id, probe_label, count(*) AS n_neighbors,
        |  CAST(sum(CASE WHEN nl != probe_label THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
        |  round(sum(CASE WHEN nl != probe_label THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS disagree_frac,
        |  round(sum(CASE WHEN nl != probe_label THEN 1 ELSE 0 END) * 1.0 / count(*), 6) > 0.5 AS suspect
        |FROM r WHERE rn <= 5 GROUP BY 1, 2 ORDER BY probe_id""".stripMargin)),

    // Matryoshka truncation recall: top-5 overlap between the full 64-d
    // index and a 16-d prefix index (4x smaller) — the keep-or-re-embed
    // decision metric. q27's probe set.
    Q("q160_mrl_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.truncatedRecall(emb, emb.where(col("vec_id") < 10),
          k = 5, dims = 16)
        .orderBy("probe_id")
    }, Oracle(
      // q27's ranking twice (full vs 16-d prefix slice), top-5 sets,
      // per-probe intersection
      s"""WITH ${dBruteRank("f", "CAST(embedding AS DOUBLE[])")},
         |${dBruteRank("t", "list_slice(CAST(embedding AS DOUBLE[]), 1, 16)")},
         |fo AS (SELECT probe_id, neighbor_id FROM fr WHERE rank <= 5),
         |tt AS (SELECT probe_id, neighbor_id FROM tr WHERE rank <= 5),
         |ov AS (SELECT fo.probe_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM fo JOIN tt USING (probe_id, neighbor_id) GROUP BY 1)
         |SELECT p.vec_id AS probe_id,
         |  coalesce(n_overlap, 0) AS n_overlap,
         |  round(coalesce(n_overlap, 0) / CAST(5 AS DOUBLE), 6) AS recall
         |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) p
         |LEFT JOIN ov ON p.vec_id = ov.probe_id
         |ORDER BY probe_id""".stripMargin)),

    // Reciprocal-rank fusion of the full-width brute arm and the cheap
    // 16-d truncated arm — rank-only ensembling, no score calibration.
    Q("q161_rrf_fuse", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 10)
      val full = Similarity.bruteForceTopK(emb, probes, 5)
      val sliced = (df: DataFrame) =>
        df.withColumn("embedding", slice(col("embedding"), 1, 16))
      val cheap = Similarity.bruteForceTopK(sliced(emb), sliced(probes), 5)
      Similarity.rrfFuse(full, cheap, k = 5)
        .orderBy("probe_id", "rank")
    }, Oracle(
      // the same two arms; score = 1/(60+rank) per arm, absent arm = 0,
      // fused top-5 by (score DESC, neighbor)
      s"""WITH ${dBruteRank("f", "CAST(embedding AS DOUBLE[])")},
         |${dBruteRank("t", "list_slice(CAST(embedding AS DOUBLE[]), 1, 16)")},
         |fa AS (SELECT probe_id, neighbor_id, 1.0 / (60 + rank) AS sa FROM fr WHERE rank <= 5),
         |fb AS (SELECT probe_id, neighbor_id, 1.0 / (60 + rank) AS sb FROM tr WHERE rank <= 5),
         |u AS (SELECT coalesce(fa.probe_id, fb.probe_id) AS probe_id,
         |  coalesce(fa.neighbor_id, fb.neighbor_id) AS neighbor_id,
         |  coalesce(sa, 0) + coalesce(sb, 0) AS rrf
         |  FROM fa FULL OUTER JOIN fb
         |  ON fa.probe_id = fb.probe_id AND fa.neighbor_id = fb.neighbor_id),
         |rr AS (SELECT probe_id, neighbor_id, rrf,
         |  row_number() OVER (PARTITION BY probe_id ORDER BY rrf DESC, neighbor_id) AS rank FROM u)
         |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
         |  round(rrf, 6) AS rrf_score
         |FROM rr WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin)),

    // IVF recall vs exact ground truth: the contract metric behind the
    // approximate tiers, measured as a QUERY on q28's exact setup (8
    // cells, probes 10..20, k=3) instead of only a spec assert.
    Q("q164_ivf_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") >= 10 && col("vec_id") < 20)
      val truth = Similarity.bruteForceTopK(emb, probes, 3)
      val approx = Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8),
        probes, 3)
      Similarity.rankingRecall(truth, approx, 3).orderBy("probe_id")
    }, Oracle(
      // truth = dBruteRank over probes 10..20; approx = q28's IVF CTE
      // chain verbatim (same assignment tie rule); recall = overlap/3
      s"""WITH ${dBruteRank("b", "CAST(embedding AS DOUBLE[])", "vec_id >= 10 AND vec_id < 20")},
         |cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
         |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |asg AS (SELECT vec_id, v, cell_id FROM (
         |  SELECT corp.vec_id, corp.v, cent.cell_id,
         |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
         |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
         |    cent.cell_id) AS rr
         |  FROM corp CROSS JOIN cent) WHERE rr = 1),
         |iprobes AS (SELECT vec_id AS probe_id, v AS pv, cell_id FROM asg WHERE vec_id >= 10 AND vec_id < 20),
         |isc AS (SELECT p.probe_id, c.vec_id AS neighbor_id,
         |  list_dot_product(p.pv, c.v) / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
         |  FROM iprobes p JOIN asg c ON p.cell_id = c.cell_id AND c.vec_id != p.probe_id),
         |ir AS (SELECT probe_id, neighbor_id,
         |  row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM isc),
         |tt AS (SELECT probe_id, neighbor_id FROM br WHERE rank <= 3),
         |aa AS (SELECT probe_id, neighbor_id FROM ir WHERE rank <= 3),
         |ov AS (SELECT tt.probe_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM tt JOIN aa USING (probe_id, neighbor_id) GROUP BY 1)
         |SELECT p.probe_id, coalesce(n_overlap, 0) AS n_overlap,
         |  round(coalesce(n_overlap, 0) / CAST(3 AS DOUBLE), 6) AS recall
         |FROM (SELECT DISTINCT probe_id FROM tt) p
         |LEFT JOIN ov ON p.probe_id = ov.probe_id ORDER BY p.probe_id""".stripMargin)),

    // Embedding ingest audit: %97==0 vectors zeroed, %89==3 poisoned
    // with a NaN — per label: defect counts + healthy-norm stats, the
    // QA gate before a vector batch reaches any ANN tier.
    Q("q165_embedding_audit", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val seeded = emb.withColumn("embedding",
        when(col("vec_id") % 97 === 0,
          array_repeat(lit(0.0f), 64))
          .when(col("vec_id") % 89 === 3,
            concat(array(lit(Float.NaN)), slice(col("embedding"), 2, 63)))
          .otherwise(col("embedding")))
      Similarity.embeddingAudit(seeded).orderBy("grp")
    }, Oracle(
      // same seeded defects; norm2 via list_dot_product (the same
      // sequential element walk as the Spark fold); healthy = NOT nan
      """WITH s AS (SELECT label,
        |  CASE WHEN vec_id % 97 = 0 THEN CAST(list_transform(range(0, 64), i -> 0.0) AS DOUBLE[])
        |       WHEN vec_id % 89 = 3 THEN list_concat(['NaN'::DOUBLE], CAST(embedding AS DOUBLE[])[2:64])
        |       ELSE CAST(embedding AS DOUBLE[]) END AS v
        |  FROM embeddings),
        |m AS (SELECT label, list_dot_product(v, v) AS n2,
        |  len(list_filter(v, x -> isnan(x))) > 0 AS has_nan FROM s)
        |SELECT label AS grp, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN NOT has_nan AND n2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        |  round(avg(CASE WHEN NOT has_nan THEN sqrt(n2) END), 6) AS mean_norm,
        |  round(min(CASE WHEN NOT has_nan THEN sqrt(n2) END), 6) AS min_norm,
        |  round(max(CASE WHEN NOT has_nan THEN sqrt(n2) END), 6) AS max_norm
        |FROM m GROUP BY label ORDER BY grp""".stripMargin)),

    // Margin-based bitext mining (CCMatrix/NLLB): even vecs play the
    // source language, odd vecs the target; each source's top-4 targets
    // are margin-scored (ratio margin = hubness-corrected cosine) and
    // gated at 1.02. Source probes capped at vec_id < 400 to bound the
    // oracle's cross join (q27's probe-set discipline).
    Q("q168_bitext_mine", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.marginTranslationPairs(
          emb.where(col("vec_id") % 2 === 0 && col("vec_id") < 400),
          emb.where(col("vec_id") % 2 === 1),
          k = 4, tau = 1.02)
        .orderBy("src_id", "tgt_id")
    }, Oracle(
      // full cross join on the bounded sides, both directions' rank
      // windows, top-4 neighborhood means over the ROUNDED cosines (the
      // frame the Spark margin stage consumes), ratio margin rounded to
      // 6 dp before the tau gate — term-for-term with marginFromRankings
      """WITH s AS (SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 400),
        |t AS (SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 2 = 1),
        |sc AS (SELECT src_id, tgt_id,
        |  list_dot_product(s.v, t.v) / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(t.v, t.v))) AS cos
        |  FROM s CROSS JOIN t),
        |f AS (SELECT src_id, tgt_id, round(cos, 6) AS cosine,
        |  row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rf FROM sc),
        |b AS (SELECT src_id, tgt_id, round(cos, 6) AS cosine,
        |  row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS rb FROM sc),
        |af AS (SELECT src_id, avg(cosine) AS a_src FROM f WHERE rf <= 4 GROUP BY 1),
        |ab AS (SELECT tgt_id, avg(cosine) AS a_tgt FROM b WHERE rb <= 4 GROUP BY 1),
        |m AS (SELECT f.src_id, f.tgt_id, f.cosine,
        |  round(f.cosine / ((a_src + a_tgt) / 2), 6) AS margin
        |  FROM f JOIN af USING (src_id) JOIN ab USING (tgt_id)
        |  WHERE rf <= 4 AND (a_src + a_tgt) > 0)
        |SELECT src_id, tgt_id, cosine, margin FROM m WHERE margin >= 1.02
        |ORDER BY src_id, tgt_id""".stripMargin)),

    // NDCG@3 of the IVF arm against brute-force truth — q164's recall
    // with position discounts: an index that surfaces the right
    // neighbors out of order scores below one preserving the order.
    Q("q171_ivf_ndcg", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") >= 10 && col("vec_id") < 20)
      val truth = Similarity.bruteForceTopK(emb, probes, 3)
      val approx = Similarity.ivfTopK(emb, emb.where(col("vec_id") < 8),
        probes, 3)
      Similarity.ndcgAtK(truth, approx, 3).orderBy("probe_id")
    }, Oracle(
      // q164's truth + IVF CTE chain verbatim; hits weighted by the
      // approx arm's position, ideal = all 3 truth hits at the head
      s"""WITH ${dBruteRank("b", "CAST(embedding AS DOUBLE[])", "vec_id >= 10 AND vec_id < 20")},
         |cent AS (SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvv FROM embeddings WHERE vec_id < 8),
         |corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |asg AS (SELECT vec_id, v, cell_id FROM (
         |  SELECT corp.vec_id, corp.v, cent.cell_id,
         |  row_number() OVER (PARTITION BY corp.vec_id ORDER BY
         |    list_dot_product(corp.v, cent.cvv) / (sqrt(list_dot_product(corp.v, corp.v)) * sqrt(list_dot_product(cent.cvv, cent.cvv))) DESC,
         |    cent.cell_id) AS rr
         |  FROM corp CROSS JOIN cent) WHERE rr = 1),
         |iprobes AS (SELECT vec_id AS probe_id, v AS pv, cell_id FROM asg WHERE vec_id >= 10 AND vec_id < 20),
         |isc AS (SELECT p.probe_id, c.vec_id AS neighbor_id,
         |  list_dot_product(p.pv, c.v) / (sqrt(list_dot_product(p.pv, p.pv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
         |  FROM iprobes p JOIN asg c ON p.cell_id = c.cell_id AND c.vec_id != p.probe_id),
         |ir AS (SELECT probe_id, neighbor_id,
         |  row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank FROM isc),
         |tt AS (SELECT probe_id, neighbor_id FROM br WHERE rank <= 3),
         |aa AS (SELECT probe_id, neighbor_id, rank FROM ir WHERE rank <= 3),
         |h AS (SELECT aa.probe_id, sum(1.0 / (ln(aa.rank + 1.0) / ln(2.0))) AS dcg
         |  FROM aa JOIN tt USING (probe_id, neighbor_id) GROUP BY 1),
         |i AS (SELECT 1.0 / (ln(2.0) / ln(2.0)) + 1.0 / (ln(3.0) / ln(2.0)) + 1.0 / (ln(4.0) / ln(2.0)) AS idcg)
         |SELECT p.probe_id, round(coalesce(dcg, 0), 6) AS dcg,
         |  round(coalesce(dcg, 0) / idcg, 6) AS ndcg
         |FROM (SELECT DISTINCT probe_id FROM tt) p
         |LEFT JOIN h ON p.probe_id = h.probe_id CROSS JOIN i
         |ORDER BY p.probe_id""".stripMargin)),

    // OPQ-rotated PQ retrieval (Ge et al. 2013 parametric variant) —
    // q93's pipeline with the missing Faiss-standard preprocessing rung:
    // PCA-derived orthogonal rotation with balanced eigenvalue
    // allocation across subspaces, applied to corpus and probes before
    // the PQ fit/encode/ADC scan. Rows-only like the whole Lloyd-fit PQ
    // family; the rotation's own contracts (orthogonality, EXACT cosine
    // invariance, quantization-error parity within 2% on this
    // near-isotropic synthetic fixture — the gain appears on correlated
    // real embeddings) are pinned in DedupSimilaritySpec.
    Q("q199_opq_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val r = Similarity.fitOpqRotation(emb, m = 8)
      val rot = Similarity.opqRotate(emb, r)
      val books = Similarity.fitPqCodebooks(rot, m = 8, ksub = 16, iterations = 3)
      val codes = Similarity.pqEncode(rot, books)
      Similarity.pqTopK(codes, books,
          Similarity.opqRotate(emb.where(col("vec_id") < 8), r), 10)
        .orderBy("probe_id", "rank")
    }, RowsOnly.LloydFit),

    // Round-15's fit ladder composed end-to-end: balance-constrained
    // coarse centroids (Zipf-hot cells split at fit time), a
    // non-parametric OPQ rotation (parametric init + one alternating
    // Procrustes/Lloyd round), and sample-fit residual PQ codebooks
    // (the fitSample contract), serving ADC top-k through the salted
    // distributed join. Rows-only like the whole Lloyd family; every
    // stage's own contracts are pinned in DedupSimilaritySpec
    // (balancing, MSE, orthogonality, salt identity, sample-fit band).
    Q("q207_balanced_opq_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val fitPred = Some(pmod(xxhash64(col("vec_id")), lit(2)) === 0)
      val rot = Similarity.refineOpqRotation(emb,
        Similarity.fitOpqRotation(emb, m = 8, fitSample = fitPred),
        m = 8, ksub = 16, pqIterations = 2, rounds = 1, fitSample = fitPred)
      val rotated = Relational.detach(Similarity.opqRotate(emb, rot))
      // trainBalancedCentroids returns a local (storage-free) frame
      val cents = Similarity.trainBalancedCentroids(
        rotated, 8, 2, maxCellFrac = 0.3, splitRounds = 2, fitSample = fitPred)
      val books = Similarity.fitIvfPqCodebooks(rotated, cents, m = 8,
        ksub = 16, iterations = 2, fitSample = fitPred)
      val enc = Similarity.ivfPqEncode(rotated, cents, books)
      Similarity.ivfPqTopK(enc, cents, books,
          Similarity.opqRotate(emb.where(col("vec_id") < 8), rot),
          10, nprobe = 2, broadcastProbes = false)
        .orderBy("probe_id", "rank")
    }, RowsOnly.LloydFit),

    // q94's OR-construction sibling: two independent 6-plane bands,
    // candidate = same bucket in EITHER band — the recall-recovery lever
    // BASELINE.md "Round-18 probe: the nPlanes lever" motivates (one
    // band's pair recall r becomes 1-(1-r)^2). Deterministic plane
    // arithmetic keeps the oracle exact: DuckDB rebuilds both bands and
    // ORs the join condition.
    Q("q219_sem_dedup_banded", (s, dir) => {
      Similarity.semanticDedupBanded(Tables.embeddings(s, dir),
          threshold = 0.35, nPlanes = 6, bands = 2, center = true)
        .orderBy("vec_id")
    }, Oracle {
      // q94's rebuild with BOTH plane bands and an OR'd join condition —
      // the same deterministic arithmetic (incl. the centered-space rebuild
      // and 6-dp mean), so the OR-construction stays an exact hash gate.
      // Survivor bucket = band 0's, like the Spark side.
      val dot = (p: Int) =>
        s"list_dot_product(e, " +
          s"list_transform(range(1, len(e) + 1), d -> CAST((d * 131 + $p + 7) * (d * 137 + $p * 149 + 11) % 1009 % 3 - 1 AS DOUBLE)))"
      def band(offset: Int) = (0 until 6)
        .map(j => s"CASE WHEN ${dot(offset + j)} >= 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
        .mkString(" + ")
      s"""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e0 FROM embeddings),
         |mu AS (SELECT LIST(m ORDER BY i) AS mu FROM (
         |  SELECT i, round(avg(e0[i]), 6) AS m
         |  FROM raw, unnest(range(1, len(e0) + 1)) AS r(i) GROUP BY i)),
         |ce AS (SELECT vec_id, list_transform(range(1, len(e0) + 1), i -> e0[i] - mu[i]) AS e
         |  FROM raw CROSS JOIN mu),
         |v AS (SELECT vec_id, e,
         |${band(0)} AS b0, ${band(6)} AS b1 FROM ce),
         |d AS (SELECT DISTINCT b.vec_id FROM v a JOIN v b
         |ON (a.b0 = b.b0 OR a.b1 = b.b1) AND b.vec_id > a.vec_id
         |WHERE list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) > 0.35)
         |SELECT vec_id, b0 AS bucket FROM v
         |WHERE vec_id NOT IN (SELECT vec_id FROM d) ORDER BY vec_id""".stripMargin
    }),

    // The PQ/ADC pipeline behind an exact cross-engine gate — the q216
    // degenerate-fixture trick applied to the Lloyd fit (q93 itself stays
    // rows-only: float centroid averages are engine-specific ON REAL
    // DATA). Here every cell is a point mass, so the float fit has a
    // closed form: 4 planted norm-5 subvectors per 2-dim subspace
    // ((0,5),(3,4),(4,3),(5,0) — integer coordinates, distinct dots
    // {0,3,4,5} against (1,0)); ids 0-3 are the diagonal combinations, so
    // the first-ksub-by-id seeds hit all 4 values per subspace, Lloyd
    // assignment is distance-0 stable, and every centroid update averages
    // identical integer vectors (exact in any summation order). PQ
    // encoding is then LOSSLESS, and ADC cosine = dot/(10*|q|) with dots
    // = 4-digit base-8 numbers (probe weights 8^j per subspace, digits in
    // {0,3,4,5}) — all 256 corpus dots are DISTINCT INTEGERS, norms all
    // equal, so the top-10 ordering is forced by construction margins and
    // the oracle states it literally, no float dot products anywhere.
    // Exercises the full fit -> encode -> LUT -> fused-ADC -> bounded
    // top-k path (3 Lloyd iterations run, they are just stationary).
    Q("q221_pq_ann_twin", (s, dir) => {
      import s.implicits._
      val values = Seq(Seq(0.0, 5.0), Seq(3.0, 4.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      val diag = Seq(0, 85, 170, 255) // k with c0=c1=c2=c3
      val ks = diag ++ (0 until 256).filterNot(diag.contains)
      val corpus = ks.zipWithIndex.map { case (k, id) =>
        (id.toLong, (0 until 4).flatMap(j => values((k >> (2 * j)) & 3)))
      }.toDF("vec_id", "embedding")
      val probe = Seq((999L, Seq(1.0, 0.0, 8.0, 0.0, 64.0, 0.0, 512.0, 0.0)))
        .toDF("vec_id", "embedding")
      val books = Similarity.fitPqCodebooks(corpus, m = 4, ksub = 4, iterations = 3)
      val codes = Similarity.pqEncode(corpus, books)
      Similarity.pqTopK(codes, books, probe, 10)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
        .orderBy("rank")
    }, Oracle(
      // The ADC ordering is forced by construction: corpus dots against the
      // probe are the 256 distinct base-8 integers with digits {0,3,4,5}
      // (weights 8^j per subspace), all reconstruction norms equal 10, and
      // the PQ fit is lossless on the point-mass fixture — so the top-10 is
      // this literal (the diagonal id 3 holds the all-5s digit string; ids
      // 255..247 walk the next nine base-8 values down through the k ->
      // vec_id layout in the query comment). No float dot product appears.
      """SELECT CAST(999 AS BIGINT) AS probe_id, CAST(r AS BIGINT) AS rank,
        |  CAST(n AS BIGINT) AS neighbor_id
        |FROM (VALUES (1, 3), (2, 255), (3, 254), (4, 253), (5, 252),
        |  (6, 251), (7, 250), (8, 249), (9, 248), (10, 247)) AS t(r, n)
        |ORDER BY rank""".stripMargin)),

    // q221's trick extended through the OPQ tier (q199 stays rows-only on
    // real data: PCA rotation + Lloyd are float fits). The forcing
    // argument here needs NO control of the rotation at all: with ksub =
    // |corpus| and seeds = the whole corpus, every Lloyd cell in rotated
    // space is a point mass (singleton or exact duplicates), so PQ is
    // LOSSLESS under whatever exact orthogonal R the eigen-allocation
    // picks, and ADC cosine = rotated cosine = ORIGINAL cosine (orthogonal
    // maps preserve dots and norms — the opqRotate invariance contract).
    // The fixture forces the original ordering with integer margins:
    // vector(i)[d] = (-1)^popcount(i & (d+1)) * 2^d (Walsh signs on
    // power-of-two scales — 16 distinct signed-binary dots against the
    // all-ones probe, all norms equal), so the top-10 is a literal. The
    // Walsh masks also make the covariance EXACTLY diagonal (balanced
    // sign products of exact powers of two cancel in any summation
    // order), so the Jacobi solve runs zero sweeps and R is an exact
    // permutation — belt and suspenders on top of the invariance
    // argument. Gap between adjacent cosines >= 2/(|q||v|) ~ 4.8e-3,
    // nine orders above rotation float noise.
    Q("q222_opq_ann_twin", (s, dir) => {
      import s.implicits._
      val corpus = (0 until 16).map { i =>
        (i.toLong, (0 until 8).map { d =>
          val sign = if (Integer.bitCount(i & (d + 1)) % 2 == 1) -1.0 else 1.0
          sign * (1 << d)
        })
      }.toDF("vec_id", "embedding")
      val probe = Seq((999L, Seq.fill(8)(1.0))).toDF("vec_id", "embedding")
      val r = Similarity.fitOpqRotation(corpus, m = 4)
      val rot = Similarity.opqRotate(corpus, r)
      val books = Similarity.fitPqCodebooks(rot, m = 4, ksub = 16, iterations = 3)
      val codes = Similarity.pqEncode(rot, books)
      Similarity.pqTopK(codes, books, Similarity.opqRotate(probe, r), 10)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
        .orderBy("rank")
    }, Oracle(
      // The Walsh-sign fixture's signed-binary dots, ranked: descending
      // Σ ±2^d with sign d = parity(i & (d+1)) — sixteen distinct integers,
      // equal norms, so the OPQ/ADC top-10 is forced (rotation preserves
      // cosines, point-mass cells make PQ lossless; see the query comment).
      """SELECT CAST(999 AS BIGINT) AS probe_id, CAST(r AS BIGINT) AS rank,
        |  CAST(n AS BIGINT) AS neighbor_id
        |FROM (VALUES (1, 0), (2, 6), (3, 5), (4, 3), (5, 7),
        |  (6, 1), (7, 2), (8, 4), (9, 8), (10, 14)) AS t(r, n)
        |ORDER BY rank""".stripMargin)),

    // And the trick through the full IVF-PQ composition (q100's family —
    // coarse Lloyd + residual PQ + multi-cell ADC). Forcing adds two
    // ingredients to q221/q222's: (1) DISJOINT-SUPPORT clusters (cluster
    // c owns dims 2c/2c+1, the q215 pigeonhole) make the coarse
    // assignment strict — own-cell cosine > 0, every other cell exactly
    // 0 — and the Lloyd mean ((0+3+4+5)/4 = 3 per dim) exact, so the
    // coarse fit is closed-form; (2) residuals are then exact small
    // integers-minus-3, point-mass per subspace, so the residual PQ is
    // lossless (ksub = |corpus|, q222's argument) and ADC cosine is the
    // exact original cosine. nprobe = nCells removes cell pruning from
    // the equation; per-cluster probe weights 8^c make the 12 nonzero
    // dots distinct integers (a * 8^c, a in {3,4,5}) with the four
    // zero-dot rows safely below rank 10 — the top-10 is this literal.
    Q("q223_ivfpq_ann_twin", (s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      // ids 0-3: the (3,4) member of cluster 0-3 (the Lloyd seeds, with
      // strictly positive dot against every own-cluster member); ids
      // 4+3c..6+3c: cluster c's remaining members
      val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      val probe = Seq((999L,
        Seq.tabulate(8)(d => if (d % 2 == 0) math.pow(8.0, d / 2) else 0.0)))
        .toDF("vec_id", "embedding")
      val cents = Similarity.trainCentroids(corpus, 4, 3)
      val books = Similarity.fitIvfPqCodebooks(corpus, cents, m = 4, ksub = 16,
        iterations = 3)
      val enc = Similarity.ivfPqEncode(corpus, cents, books)
      Similarity.ivfPqTopK(enc, cents, books, probe, 10, nprobe = 4)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
        .orderBy("rank")
    }, Oracle(
      // The disjoint-support IVF-PQ fixture's dots a * 8^cluster, ranked:
      // the twelve nonzero rows (a in {3,4,5}) are distinct integers, the
      // four a=0 rows sit below rank 10 — the literal follows from the id
      // layout in the query comment.
      """SELECT CAST(999 AS BIGINT) AS probe_id, CAST(r AS BIGINT) AS rank,
        |  CAST(n AS BIGINT) AS neighbor_id
        |FROM (VALUES (1, 15), (2, 14), (3, 3), (4, 12), (5, 11),
        |  (6, 2), (7, 9), (8, 8), (9, 1), (10, 6)) AS t(r, n)
        |ORDER BY rank""".stripMargin)),

    // q223's fixture through the PERSISTED index path (q106's family):
    // fit + encode + parquet save + load + serve in one call. Same
    // forced literal — which is exactly the point: the round-trip must
    // not perturb the serve (the one load-bearing ordering is the
    // collected centroid array's, which loadIvfPqIndex re-sorts by id;
    // a regression there reorders cell ids and this hash gate catches
    // it where the rows-only q106 could not).
    Q("q224_ivfpq_prefit_twin", (s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      val probe = Seq((999L,
        Seq.tabulate(8)(d => if (d % 2 == 0) math.pow(8.0, d / 2) else 0.0)))
        .toDF("vec_id", "embedding")
      val idxDir = gateTempDir("graft_q224")
      val idx = Similarity.buildIvfPqIndex(corpus, idxDir, nCells = 4, m = 4,
        ksub = 16, iterations = 3)
      Similarity.ivfPqTopK(idx.encoded, idx.centroids, idx.codebooks, probe,
          10, nprobe = 4)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
        .orderBy("rank")
    }, Oracle(
      // Identical literal through the persisted-index path: parquet
      // round-trip must not perturb the serve.
      """SELECT CAST(999 AS BIGINT) AS probe_id, CAST(r AS BIGINT) AS rank,
        |  CAST(n AS BIGINT) AS neighbor_id
        |FROM (VALUES (1, 15), (2, 14), (3, 3), (4, 12), (5, 11),
        |  (6, 2), (7, 9), (8, 8), (9, 1), (10, 6)) AS t(r, n)
        |ORDER BY rank""".stripMargin)),

    // q223's fixture through the DISTRIBUTED serve path (q191's shape):
    // probes = the whole corpus, broadcastProbes = false, and a
    // codesPerSalt low enough (2, vs 4 codes per cell) that every probed
    // cell genuinely splits across salt buckets — the skew-salted
    // corpus-vs-corpus join, end-to-end, behind an exact hash gate (the
    // bit-identical-to-broadcast contract as a DRIVER gate, not just a
    // spec). Ordering per probe: the 2-3 same-cluster peers by their
    // exact integer dots (all norms 5), then the exactly-0.0 cross-
    // cluster ties broken by id ASC — the literal below, 16 probes x 10.
    Q("q225_ivfpq_bigprobe_twin", (s, dir) => {
      import s.implicits._
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
      val enc = Similarity.ivfPqEncode(corpus, cents, books)
      Similarity.ivfPqTopK(enc, cents, books, corpus, 10, nprobe = 4,
          broadcastProbes = false, codesPerSalt = 2L, maxSalt = 4)
        .select(col("probe_id"), col("rank"), col("neighbor_id"))
        .orderBy("probe_id", "rank")
    }, Oracle(
      // Every probe's forced ordering on the q223 fixture: same-cluster
      // peers by exact integer dot, then the exactly-0.0 cross-cluster
      // ties by id ASC (the TopKByScore buffer order). 16 x 10 rows.
      """SELECT CAST(p AS BIGINT) AS probe_id, CAST(r AS BIGINT) AS rank,
        |  CAST(n AS BIGINT) AS neighbor_id
        |FROM (VALUES
        |  (0,1,5), (0,2,4), (0,3,6), (0,4,1), (0,5,2), (0,6,3), (0,7,7),
        |  (0,8,8), (0,9,9), (0,10,10), (4,1,0), (4,2,5), (4,3,1), (4,4,2),
        |  (4,5,3), (4,6,6), (4,7,7), (4,8,8), (4,9,9), (4,10,10), (5,1,0),
        |  (5,2,6), (5,3,4), (5,4,1), (5,5,2), (5,6,3), (5,7,7), (5,8,8),
        |  (5,9,9), (5,10,10), (6,1,5), (6,2,0), (6,3,1), (6,4,2), (6,5,3),
        |  (6,6,4), (6,7,7), (6,8,8), (6,9,9), (6,10,10), (1,1,8), (1,2,7),
        |  (1,3,9), (1,4,0), (1,5,2), (1,6,3), (1,7,4), (1,8,5), (1,9,6),
        |  (1,10,10), (7,1,1), (7,2,8), (7,3,0), (7,4,2), (7,5,3), (7,6,4),
        |  (7,7,5), (7,8,6), (7,9,9), (7,10,10), (8,1,1), (8,2,9), (8,3,7),
        |  (8,4,0), (8,5,2), (8,6,3), (8,7,4), (8,8,5), (8,9,6), (8,10,10),
        |  (9,1,8), (9,2,1), (9,3,0), (9,4,2), (9,5,3), (9,6,4), (9,7,5),
        |  (9,8,6), (9,9,7), (9,10,10), (2,1,11), (2,2,10), (2,3,12), (2,4,0),
        |  (2,5,1), (2,6,3), (2,7,4), (2,8,5), (2,9,6), (2,10,7), (10,1,2),
        |  (10,2,11), (10,3,0), (10,4,1), (10,5,3), (10,6,4), (10,7,5), (10,8,6),
        |  (10,9,7), (10,10,8), (11,1,2), (11,2,12), (11,3,10), (11,4,0),
        |  (11,5,1), (11,6,3), (11,7,4), (11,8,5), (11,9,6), (11,10,7),
        |  (12,1,11), (12,2,2), (12,3,0), (12,4,1), (12,5,3), (12,6,4), (12,7,5),
        |  (12,8,6), (12,9,7), (12,10,8), (3,1,14), (3,2,13), (3,3,15), (3,4,0),
        |  (3,5,1), (3,6,2), (3,7,4), (3,8,5), (3,9,6), (3,10,7), (13,1,3),
        |  (13,2,14), (13,3,0), (13,4,1), (13,5,2), (13,6,4), (13,7,5), (13,8,6),
        |  (13,9,7), (13,10,8), (14,1,3), (14,2,15), (14,3,13), (14,4,0),
        |  (14,5,1), (14,6,2), (14,7,4), (14,8,5), (14,9,6), (14,10,7),
        |  (15,1,14), (15,2,3), (15,3,0), (15,4,1), (15,5,2), (15,6,4), (15,7,5),
        |  (15,8,6), (15,9,7), (15,10,8)) AS t(p, r, n)
        |ORDER BY probe_id, rank""".stripMargin)),

    // Cross-snapshot semantic scrub behind an exact gate: q223's corpus
    // is the fitted REFERENCE index (served from codes), the new wave is
    // four exact re-crawls of reference members (ids 100-103, copies of
    // 15/9/4/0 — ADC cosine exactly 1.0 > tau, dropped) plus four fresh
    // vectors (ids 104-107, (-3,-4) on cluster c's dims: NEGATIVE dot
    // with their own cell's centroid, so nprobe=1 probes a zero-cosine
    // foreign cell deterministically — every candidate scores exactly
    // 0.0 < tau, kept). The whole verdict is forced arithmetic; the
    // oracle states the survivor ids.
    Q("q226_semantic_scrub_index_twin", (s, dir) => {
      import s.implicits._
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
      val newWave = (Seq(
        (100L, member(3, vals(3))), // re-crawl of id 15
        (101L, member(1, vals(3))), // re-crawl of id 9
        (102L, member(0, vals(1))), // re-crawl of id 4
        (103L, member(0, vals(0)))  // re-crawl of id 0
      ) ++ (0 until 4).map(c => ((104 + c).toLong, member(c, Seq(-3.0, -4.0)))))
        .toDF("vec_id", "embedding")
      Similarity.scrubAgainstIvfPqIndex(newWave, idx, threshold = 0.9,
          nprobe = 1)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }, Oracle(
      // The cross-snapshot scrub's forced verdict: re-crawls 100-103 drop
      // (ADC cosine exactly 1.0), fresh 104-107 survive (every probed
      // candidate scores exactly 0.0).
      """SELECT CAST(v AS BIGINT) AS vec_id
        |FROM (VALUES (104), (105), (106), (107)) AS t(v)
        |ORDER BY vec_id""".stripMargin)),

    // Index APPEND behind an exact gate — the cross-wave production loop
    // q226 opens (scrub wave N against the index, then GROW the index
    // with its survivors) closed with NO refit. The books fit on the full
    // 16-vector design snapshot (the fitSample production shape: books
    // anticipate the distribution, not the exact rows) while the index
    // ENCODES only the 12-vector current corpus — the (5,0) members are
    // held out as wave 1. Wave 1 survives a scrub of the un-appended
    // index (its best candidate cosine is exactly 0.8 < tau — provable:
    // lossless integer reconstructions), gets appended (residual (2,-3)
    // is EXACTLY a codebook entry, so the append encode is lossless), and
    // then wave-2 re-crawls of the appended docs (ids 200-203) score ADC
    // cosine exactly 1.0 and drop — a drop ONLY the appended codes can
    // cause, which is the gate's point. A re-crawl of original id 0
    // (id 208) drops the same way (the old snapshot still serves), and
    // the fresh (-3,-4) class (ids 204-207, q226's forced-zero argument)
    // survives — every candidate in its probed foreign cell, including
    // the appended members, has disjoint support and scores exactly 0.0.
    // The post-append balance check passes exactly at the default cap
    // (4 rows/cell of 16). Margins pinned in EntrySpec.
    Q("q227_ivfpq_append_twin", (s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      val design = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      // current corpus = design minus the (5,0) members — ids 4 + 3c + j
      // with j = 2, i.e. 6, 9, 12, 15
      val current = design.where(!col("vec_id").isin(6L, 9L, 12L, 15L))
      val cents = Similarity.trainCentroids(design, 4, 3)
      val books = Similarity.fitIvfPqCodebooks(design, cents, m = 4, ksub = 16,
        iterations = 3)
      val idx = Similarity.IvfPqIndex(cents, books,
        Similarity.ivfPqEncode(current, cents, books))
      val wave1 = (0 until 4).map(c => ((104 + c).toLong, member(c, vals(3))))
        .toDF("vec_id", "embedding")
      val survivors1 = Similarity.scrubAgainstIvfPqIndex(wave1, idx,
        threshold = 0.9, nprobe = 1)
      val grown = Similarity.appendToIvfPqIndex(idx, survivors1)
      val wave2 = ((0 until 4).map(c => ((200 + c).toLong, member(c, vals(3)))) ++
        (0 until 4).map(c => ((204 + c).toLong, member(c, Seq(-3.0, -4.0)))) :+
        (208L, member(0, vals(0))))
        .toDF("vec_id", "embedding")
      Similarity.scrubAgainstIvfPqIndex(wave2, grown, threshold = 0.9,
          nprobe = 1)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }, Oracle(
      // The append gate's forced verdict: re-crawls of the APPENDED wave
      // (200-203) drop at ADC cosine exactly 1.0 — a drop only the appended
      // codes can cause (their best pre-append candidate was exactly 0.8);
      // the original re-crawl 208 drops via the old snapshot; the fresh
      // (-3,-4) class survives on exact zeros.
      """SELECT CAST(v AS BIGINT) AS vec_id
        |FROM (VALUES (204), (205), (206), (207)) AS t(v)
        |ORDER BY vec_id""".stripMargin)),

    // The CENTERED index family end to end — buildIvfPqIndex(center =
    // true) fits, persists, and reloads the mean; scrubAgainstIvfPqIndex
    // centers its probes with it automatically, so the dedup and index
    // families share ONE similarity space (the r19 coherence note,
    // resolved). The q223/q226 fixture keeps the verdict forced in
    // centered space because every quantity is an exact dyadic: the
    // fitted mean is exactly 0.75 per dim (sum 12 over 16 rows), the
    // centered Lloyd centroids are exactly (2.25, 2.25 | -0.75...), the
    // residuals are EXACTLY q223's integers (x - 3 on owned dims, 0
    // elsewhere — centering cancels against the centroid shift), so the
    // encode is lossless and re-crawls 100-103 score ADC cosine exactly
    // 1.0 > tau (dropped) while the fresh (-3,-4) class probes its
    // deterministic foreign cell (ties at exactly 5.25 break by cell id)
    // where every candidate's centered cosine is <= 0.22 < tau (kept).
    // Margins pinned in EntrySpec; survivors = the oracle's literal.
    Q("q229_ivfpq_centered_scrub_twin", (s, dir) => {
      import s.implicits._
      val vals = Seq(Seq(3.0, 4.0), Seq(0.0, 5.0), Seq(4.0, 3.0), Seq(5.0, 0.0))
      def member(c: Int, v: Seq[Double]): Seq[Double] =
        Seq.tabulate(8)(d => if (d / 2 == c) v(d % 2) else 0.0)
      val corpus = ((0 until 4).map(c => (c.toLong, member(c, vals(0)))) ++
        (for (c <- 0 until 4; j <- 0 until 3)
          yield ((4 + 3 * c + j).toLong, member(c, vals(j + 1)))))
        .toDF("vec_id", "embedding")
      val idxDir = gateTempDir("graft_q229")
      val idx = Similarity.buildIvfPqIndex(corpus, idxDir, nCells = 4, m = 4,
        ksub = 16, iterations = 3, center = true)
      val newWave = (Seq(
        (100L, member(3, vals(3))), // re-crawl of id 15
        (101L, member(1, vals(3))), // re-crawl of id 9
        (102L, member(0, vals(1))), // re-crawl of id 4
        (103L, member(0, vals(0)))  // re-crawl of id 0
      ) ++ (0 until 4).map(c => ((104 + c).toLong, member(c, Seq(-3.0, -4.0)))))
        .toDF("vec_id", "embedding")
      Similarity.scrubAgainstIvfPqIndex(newWave, idx, threshold = 0.9,
          nprobe = 1)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }, Oracle(
      // The centered index scrub's forced verdict — q226's survivors, now
      // with fit, persist, reload, and probe-centering all in mean-centered
      // space (exact dyadics end to end; margins pinned in EntrySpec).
      """SELECT CAST(v AS BIGINT) AS vec_id
        |FROM (VALUES (104), (105), (106), (107)) AS t(v)
        |ORDER BY vec_id""".stripMargin)),

    // The STABLE-ID re-crawl case behind its own driver gate — the r19
    // ADVICE regression class: when probe and index id spaces OVERLAP
    // (a re-crawled doc keeps its id from the reference snapshot — the
    // common crawl-pipeline convention), a probe-side self-filter would
    // exclude the identically-id'd reference twin and the exact
    // duplicate would silently survive. q226 gives re-crawls fresh ids
    // and so cannot catch that; here ids 15/9/4/0 re-crawl UNDER THEIR
    // OWN IDS (exact copies, ADC cosine exactly 1.0 — dropped via
    // excludeSelfMatches = false) while the fresh (-3,-4) class keeps
    // its q226 forced-zero survival. Survivors = the fresh ids only.
    Q("q230_scrub_stable_id_twin", (s, dir) => {
      import s.implicits._
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
      val newWave = (Seq(
        (15L, member(3, vals(3))), // re-crawl KEEPING its reference id
        (9L, member(1, vals(3))),
        (4L, member(0, vals(1))),
        (0L, member(0, vals(0)))
      ) ++ (0 until 4).map(c => ((104 + c).toLong, member(c, Seq(-3.0, -4.0)))))
        .toDF("vec_id", "embedding")
      Similarity.scrubAgainstIvfPqIndex(newWave, idx, threshold = 0.9,
          nprobe = 1)
        .select(col("vec_id"))
        .orderBy("vec_id")
    }, Oracle(
      // Stable-id re-crawls (probe id == reference id) must STILL drop —
      // the self-match exclusion is off for the cross-snapshot scrub, so
      // the identically-id'd twin scores exactly 1.0; survivors are the
      // fresh class only.
      """SELECT CAST(v AS BIGINT) AS vec_id
        |FROM (VALUES (104), (105), (106), (107)) AS t(v)
        |ORDER BY vec_id""".stripMargin)),
  )
}
