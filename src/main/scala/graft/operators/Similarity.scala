package graft.operators

import graft.functions.GraftFunctions.cosine_similarity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType, IntegerType, LongType,
  ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Approximate-nearest-neighbor search over an embedding column
  * (north-star extension).
  *
  * Two tiers:
  *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) probe set
  *    against the corpus; one corpus pass, embarrassingly parallel.
  *  - [[ivfTopK]] — the scale path: coarse-quantize the corpus to its
  *    max-cosine centroid (a shuffle-free [[graft.functions.NearestCentroid]]
  *    projection over the driver-collected centroid set), then search only
  *    the probe's cell.
  *
  * Shuffle discipline (the 100-TB tells):
  *  - candidate scores are pruned to k-per-probe by the bounded-buffer
  *    [[graft.functions.TopKByScore]] aggregate's partial (map-side) pass
  *    and projected to (probe, neighbor, score) BEFORE any exchange — the
  *    embedding vectors themselves never enter a shuffle;
  *  - cell assignment is a narrow projection: zero Exchange, no join, the
  *    corpus is scanned exactly once per assignment pass.
  *
  * Distances run through [[graft.functions.CosineSimilarity]] — a fused
  * one-pass native kernel inside whole-stage codegen.
  *
  * Quantizer training (Lloyd centroids and PQ codebooks) runs on the
  * driver: ONE job collects the corpus's first k rows by id (the seeds)
  * and the first `256·k` rows in `(xxhash64(id), id)` order (FAISS's
  * `max_points_per_centroid`; a corpus that small is fit whole). Every
  * iteration is driver arithmetic through the expressions' own kernels
  * ([[graft.functions.NearestCentroid.nearest]],
  * [[graft.functions.PqEncode.encode]]). Fits are local frames: no job to
  * collect, no storage to release. Encode and serve stay distributed.
  */
object Similarity {

  /** Exact per-probe top-k over scored candidates. Input must expose
    * (probe_id, neighbor_id, cosine).
    *
    * Integral-id path: the [[graft.functions.TopKByScore]] native aggregate
    * keyed by probe_id — a bounded k-slot buffer per (probe x task) that
    * partial aggregation prunes BEFORE the exchange, so shuffle bytes are
    * |probes| x k regardless of candidate count and the whole plan stays a
    * hash aggregate inside whole-stage codegen (no RDD drop-out, no sort).
    * Its (score DESC, id ASC) buffer order is exactly the window's
    * `ORDER BY cosine DESC, neighbor_id ASC`, so results are row-identical;
    * null-scored candidates are skipped (cosine of non-null vectors is
    * never null). Non-integral neighbor ids (exotic key types the aggregate
    * doesn't cover) fall back to the authoritative rank window. */
  private def topKPerProbe(scored: DataFrame, k: Int): DataFrame = {
    val slim = scored.select(col("probe_id"), col("neighbor_id"), col("cosine"))
    slim.schema("neighbor_id").dataType match {
      case idType @ (LongType | IntegerType | ShortType | ByteType) =>
        slim.groupBy(col("probe_id"))
          .agg(graft.functions.GraftFunctions
            .topk_by_score(col("cosine"), col("neighbor_id"), k).as("_top"))
          .select(col("probe_id"), posexplode(col("_top")))
          .select(col("probe_id"), (col("pos") + 1).cast("long").as("rank"),
            col("col.id").cast(idType).as("neighbor_id"),
            round(col("col.v"), 6).as("cosine"))
      case _ =>
        val w = Window.partitionBy(col("probe_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        slim
          .withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= k)
          .select(col("probe_id"), col("rank"), col("neighbor_id"),
            round(col("cosine"), 6).as("cosine"))
    }
  }

  /** Exact top-k neighbors for each probe row. Excludes self-matches on id. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cand_vec"))
    val scored = c.crossJoin(broadcast(p))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cosine", cosine_similarity(col("probe_vec"), col("cand_vec")))
    topKPerProbe(scored, k)
  }

  /** Driver-collect a broadcast-sized centroid set with loud validation:
    * an empty set, a null id, or a null embedding would otherwise surface
    * as an opaque NPE deep inside Row accessors. */
  private def collectCentroids(centroids: DataFrame, idCol: String, vecCol: String,
                               caller: String): (Seq[Long], Seq[Seq[Double]]) = {
    val collected = centroids
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
    require(collected.nonEmpty, s"$caller: centroid set is empty")
    collected.zipWithIndex.foreach { case (r, i) =>
      require(!r.isNullAt(0),
        s"$caller: centroid row $i has a null $idCol — centroid ids must be non-null longs")
      require(!r.isNullAt(1),
        s"$caller: centroid ${r.getLong(0)} has a null $vecCol — centroid vectors must be non-null")
    }
    (collected.map(_.getLong(0)).toSeq, collected.map(_.getSeq[Double](1)).toSeq)
  }

  /** Assign each vector to its max-cosine centroid (ties -> smallest cell
    * id). Returns (idCol, vecCol, cell_id).
    *
    * The centroid set is broadcast-sized by contract, so it is collected
    * once and embedded in a [[graft.functions.NearestCentroid]] projection —
    * cell assignment is a NARROW transformation: zero Exchange, zero join,
    * and the corpus embeddings never leave their input partitions (the
    * former crossJoin+groupBy argmax shuffled one row per vector WITH its
    * embedding, violating this file's shuffle discipline). */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (ids, vecs) = collectCentroids(centroids, idCol, vecCol, "assignCells")
    corpus.select(col(idCol), col(vecCol),
      graft.functions.GraftFunctions
        .nearest_centroid(col(vecCol), ids, vecs).as("cell_id"))
  }

  /** Cluster-balanced diversity subsample: quantize the corpus to its
    * max-cosine cell, keep the `k` MOST CENTRAL vectors per cell (highest
    * cosine to the assigned centroid, 6-dp-rounded before ranking so the
    * boundary is engine-reproducible, ties by id). The embedding-space
    * counterpart of [[Stats.takePerStratum]]: a density-skewed corpus keeps
    * representation from every region of embedding space instead of being
    * dominated by its densest cluster — the standard k-means-based
    * data-diversification pass before training.
    *
    * Scale shape: cell assignment is the shuffle-free [[assignCells]]
    * projection; the centroid frame broadcasts twice (assignment kernel +
    * centrality join — both driver-bounded by the centroid count, same
    * contract as [[ivfTopK]]); the corpus shuffles ONCE on cell_id for the
    * rank window. Output: (cell_id, rank, id, centrality). */
  def diversitySample(corpus: DataFrame, centroids: DataFrame, k: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = centroids.select(col(idCol).as("cell_id"), col(vecCol).as("_cv"))
    val w = Window.partitionBy("cell_id")
      .orderBy(col("centrality").desc, col(idCol).asc)
    assignCells(corpus, centroids, idCol, vecCol)
      .join(broadcast(cents), "cell_id")
      .withColumn("centrality", round(cosine_similarity(col(vecCol), col("_cv")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("cell_id"), col("rank"), col(idCol), col("centrality"))
  }

  /** Per-cell salt factors for the distributed cell join: ONE column-pruned
    * count aggregate over the corpus side (only `cell_id` is read — at 100 TB
    * that is a metadata-cheap scan next to the scoring pass it protects),
    * `s_c = ceil(count_c / codesPerSalt)` clamped to `[1, maxSalt]`. The
    * result has at most one row per coarse cell, so it is broadcast-bounded
    * by the same contract as the centroid set itself. */
  private[graft] def cellSaltFactors(corpusSide: DataFrame, codesPerSalt: Long,
                              maxSalt: Int): DataFrame = {
    require(codesPerSalt >= 1, s"codesPerSalt must be >= 1, got $codesPerSalt")
    require(maxSalt >= 1, s"maxSalt must be >= 1, got $maxSalt")
    // null cell_id (null-embedding rows — NearestCentroid is null-in/
    // null-out) would form a null group whose getLong(0) NPEs opaquely on
    // the driver; the join below drops such rows anyway (equi-join null
    // semantics, same as the unsalted path), so exclude them from the fit.
    corpusSide.where(col("cell_id").isNotNull)
      .groupBy(col("cell_id").cast("long").as("cell_id"))
      .agg(count(lit(1)).as("_n"))
      .select(col("cell_id"),
        least(ceil(col("_n").cast("double") / codesPerSalt),
          lit(maxSalt.toDouble)).cast("int").as("_nsalt"))
  }

  /** Skew-salted distributed cell join — the 100-TB guard for the
    * corpus-vs-corpus retrieval shape. A plain `corpus JOIN probes ON
    * cell_id` concentrates a hot cell's |probes-in-cell| x |codes-in-cell|
    * scoring in ONE task: real embedding corpora cluster Zipf-ly, so at
    * scale the hottest coarse cell pins its stage while the rest of the
    * cluster idles (AQE's skew split can't help — it splits by SHUFFLE
    * BYTES, and the blow-up here is the join's output pairs, not its
    * input rows). The standard mitigation: split each cell's CORPUS rows
    * across `s_c` salt buckets (`xxhash64(neighbor_id) mod s_c` —
    * deterministic, so results are replay-identical) and replicate each
    * probe-side row across all `s_c` salts, joining on (cell_id, _salt).
    * Per-task pair volume drops to |probes_c| x codesPerSalt; the price is
    * `s_c` shuffle copies of the (bounded-width) probe rows for hot cells
    * only — cold cells fit one salt and pay nothing. `s_c` scales with the
    * cell's corpus count (the one-aggregate fit of [[cellSaltFactors]]);
    * a cell hot on the PROBE side only is already spread by the hash
    * exchange because distinct probes hash independently.
    *
    * Inner-joining the salt frame also PRUNES probe rows aimed at empty
    * cells (no codes -> no candidates) before they shuffle. The exchange
    * on (cell_id, _salt) keeps the materialize-the-LUT-at-a-shuffle
    * property the unsalted path relied on. Both inputs must expose
    * `cell_id`; the corpus side must expose `neighbor_id`.
    *
    * `codesPerSalt = Long.MaxValue` is the documented escape hatch for a
    * caller who KNOWS the cell distribution is balanced: it skips the
    * count-aggregate fit and the salt machinery entirely and runs the
    * plain cell_id equi-join (probe side repartitioned for the LUT
    * materialization). */
  private def saltedCellJoin(corpusSide: DataFrame, probeSide: DataFrame,
                             codesPerSalt: Long, maxSalt: Int): DataFrame = {
    def plain = corpusSide.join(probeSide.repartition(col("cell_id")), "cell_id")
    if (codesPerSalt == Long.MaxValue) return plain
    // the fit collects to the driver — at most one row per coarse cell,
    // the same bounded contract as the centroid set — so a corpus with NO
    // hot cells takes the plain join with zero salt machinery in the plan
    // (the detector's column-pruned count scan is the only cost), and the
    // salt frame otherwise embeds as literal rows instead of re-running
    // the aggregate lineage under each broadcast
    val saltRows = cellSaltFactors(corpusSide, codesPerSalt, maxSalt)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    if (saltRows.forall(_._2 <= 1)) return plain
    val spark = corpusSide.sparkSession
    import spark.implicits._
    val salts = broadcast(
      spark.createDataset(saltRows.toSeq).toDF("cell_id", "_nsalt"))
    val c = corpusSide.join(salts, "cell_id")
      .withColumn("_salt",
        pmod(xxhash64(col("neighbor_id")), col("_nsalt").cast("long")).cast("int"))
      .drop("_nsalt")
    val p = probeSide.join(salts, "cell_id")
      .withColumn("_salt", explode(sequence(lit(0), col("_nsalt") - 1)))
      .drop("_nsalt")
      .repartition(col("cell_id"), col("_salt"))
    c.join(p, Seq("cell_id", "_salt")).drop("_salt")
  }

  /** Assign each row its top-`nprobe` max-cosine cells, one output row per
    * (vector, cell) — the probe-side expansion of multi-probe IVF. Same
    * narrow-projection contract as [[assignCells]]; the explode multiplies
    * only the (small) probe side, never the corpus. */
  def assignCellsMulti(df: DataFrame, centroids: DataFrame, nprobe: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (ids, vecs) = collectCentroids(centroids, idCol, vecCol, "assignCellsMulti")
    df.select(col(idCol), col(vecCol),
      explode(graft.functions.GraftFunctions
        .nearest_cells(col(vecCol), ids, vecs, nprobe)).as("cell_id"))
  }

  /** IVF-style ANN: quantize the corpus to cells, search each probe's
    * `nprobe` closest cells (multi-probe — the standard recall lever for a
    * probe near a cell boundary; corpus work grows with nprobe, never with
    * corpus size). Returns (probe_id, rank, neighbor_id, cosine). A
    * neighbor lives in exactly one cell, so multi-probe candidates are
    * naturally duplicate-free.
    *
    * `broadcastProbes` mirrors [[ivfPqTopK]]: true (default) is the serve
    * shape — a small probe batch broadcast against the corpus, zero corpus
    * shuffle; false is the corpus-vs-corpus shape — the probe side
    * repartitions on cell_id and the cell join is a plain distributed
    * equi-join, so the probe set can itself be a 100-TB corpus (the probe
    * rows carry (id, vector, cell_id) through one hash exchange; there is
    * no per-row table build on this tier, so the exchange is for
    * parallelism and shuffle-shape, not for materialization). The
    * distributed join is skew-SALTED ([[saltedCellJoin]]): a Zipf-hot
    * coarse cell's scoring splits across `ceil(count_c / codesPerSalt)`
    * buckets instead of pinning one task; output is salt-invariant.
    * COST NOTE, this tier only: the corpus has no stored cell_id (unlike
    * [[ivfPqTopK]]'s persisted index, whose salt fit is a column-pruned
    * scan), so the assigned frame is DETACHED once (eager localCheckpoint /
    * reliable checkpoint per [[Relational.detach]]'s contract) and both the
    * salt fit and the join read the detached blocks — ONE assignment-kernel
    * pass, not two. The price is materializing (id, vector, cell_id) to
    * executor storage for the query's lifetime — cheaper than a second
    * ncentroids x dim flops pass per row, and exactly the frame the join
    * must shuffle anyway (BASELINE.md "Round-18 revision: rawdetach A/B
    * re-measured cache-free": 1.53x at 256 cells / 1M rows, a wash at 32
    * cells). A caller who knows the cells are balanced skips fit AND
    * detach with `codesPerSalt = Long.MaxValue`. */
  def ivfTopK(corpus: DataFrame, centroids: DataFrame, probes: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              nprobe: Int = 1, broadcastProbes: Boolean = true,
              codesPerSalt: Long = 8192L, maxSalt: Int = 64): DataFrame = {
    val cells = assignCells(corpus, centroids, idCol, vecCol)
    val p = assignCellsMulti(probes, centroids, nprobe, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"), col("cell_id"))
    val c0 = cells.select(col(idCol).as("neighbor_id"), col(vecCol).as("cand_vec"), col("cell_id"))
    // detach once on the salted path so the fit's count aggregate and the
    // join both read materialized blocks instead of each re-running the
    // assignment kernel over the corpus (see COST NOTE above); the
    // broadcast and escape-hatch paths run the kernel exactly once already
    val c =
      if (!broadcastProbes && codesPerSalt != Long.MaxValue)
        Relational.detach(c0)
      else c0
    val scored =
      (if (broadcastProbes) c.join(broadcast(p), "cell_id")
       else saltedCellJoin(c, p, codesPerSalt, maxSalt))
        .where(col("neighbor_id") =!= col("probe_id"))
        .withColumn("cosine", cosine_similarity(col("probe_vec"), col("cand_vec")))
    topKPerProbe(scored, k)
  }

  /** Binary (sign) quantization: pack each dimension's sign bit into two
    * BIGINT words (dims 1-32 -> `b_lo`, 33-64 -> `b_hi`; shorter vectors
    * zero-pad) — 8 bytes per vector at 64 dims, a 32x shrink below even
    * PQ, and the cheapest ANN tier: Hamming distance between sign
    * patterns approximates angular distance (each agreeing sign bit is a
    * hyperplane both vectors fall on the same side of). Fully
    * deterministic — no training — so unlike the Lloyd-fit indexes the
    * whole pipeline is oracle-checkable. Pure codegen'd column
    * arithmetic, zero shuffle. Output (idCol, b_lo, b_hi).
    *
    * Vectors beyond 64 dims FAIL LOUDLY (two words can only hold 64 sign
    * bits; silently ranking wide embeddings by their first 64 dims would
    * collapse recall with zero diagnostics — the pq_encode convention).
    * A null vector packs to null words, so downstream Hamming scores are
    * null and [[graft.functions.TopKByScore]] skips the row. */
  def binarySignPack(corpus: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    def word(dims: Range, base: Int) = dims
      .map(d => s"IF(size($vecCol) >= $d AND element_at($vecCol, $d) >= 0, " +
        s"CAST(${1L << (d - base)} AS BIGINT), CAST(0 AS BIGINT))")
      .mkString(" + ")
    def guarded(w: String) =
      s"IF($vecCol IS NULL, CAST(NULL AS BIGINT), " +
        s"IF(size($vecCol) > 64, raise_error(CONCAT('binarySignPack supports " +
        s"at most 64 dims, got ', CAST(size($vecCol) AS STRING))), $w))"
    corpus.select(col(idCol),
      expr(guarded(word(1 to 32, 1))).as("b_lo"),
      expr(guarded(word(33 to 64, 33))).as("b_hi"))
  }

  /** Hamming top-k over sign-packed codes: for each probe, the k corpus
    * vectors with the fewest differing sign bits (ties -> smallest id).
    * `bit_count(xor)` on the two words is 4 instructions per candidate —
    * the re-rank candidate generator for a 100-TB corpus where even PQ
    * codes are too big to scan hot. Probe codes broadcast; the
    * [[graft.functions.TopKByScore]] bounded buffer prunes to
    * |probes| x k before the only exchange. Output
    * (probe_id, rank, neighbor_id, hamming). */
  def hammingTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"hammingTopK needs k >= 1, got $k")
    val c = binarySignPack(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("b_lo"), col("b_hi"))
    val p = binarySignPack(probes, idCol, vecCol)
      .select(col(idCol).as("probe_id"), col("b_lo").as("p_lo"), col("b_hi").as("p_hi"))
    val ham = bit_count(col("b_lo").bitwiseXOR(col("p_lo"))) +
      bit_count(col("b_hi").bitwiseXOR(col("p_hi")))
    c.crossJoin(broadcast(p))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("_ham", ham.cast("double"))
      .groupBy(col("probe_id"))
      .agg(graft.functions.GraftFunctions
        .topk_by_score(-col("_ham"), col("neighbor_id"), k).as("_top"))
      .select(col("probe_id"), posexplode(col("_top")))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"), (-col("col.v")).cast("int").as("hamming"))
  }

  /** Two-stage retrieval, the production ANN shape: a cheap
    * [[hammingTopK]] sign-bit shortlist of `shortlist` candidates per
    * probe, then EXACT cosine re-ranking of only those candidates down to
    * `k`. The 100-TB contract: the full corpus is scanned only as packed
    * sign bits (8 bytes/row); raw vectors are read for just
    * |probes| x shortlist rows via a broadcast semi-pattern join — so
    * recall comes from the shortlist width while the expensive kernel
    * touches a driver-bounded candidate set. Both stages are
    * deterministic (ties: hamming/id, then cosine DESC/id), so the whole
    * pipeline is oracle-checkable. Output (probe_id, rank, neighbor_id,
    * cosine). */
  def rerankTopK(corpus: DataFrame, probes: DataFrame, shortlist: Int, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"rerankTopK shortlist ($shortlist) must be >= k ($k)")
    val cand = hammingTopK(corpus, probes, shortlist, idCol, vecCol)
      .select(col("probe_id"), col("neighbor_id"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cand_vec"))
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(p), "probe_id")
      .withColumn("cosine", cosine_similarity(col("probe_vec"), col("cand_vec")))
    topKPerProbe(scored, k)
  }

  /** Subtract each row's assigned cell centroid from its vector — the
    * residual step of IVF-PQ. One [[assignCells]] narrow pass + one
    * broadcast join to fetch the centroid + a codegen'd `zip_with`;
    * output (idCol, cell_id, vecCol = residual). */
  private def cellResiduals(corpus: DataFrame, centroids: DataFrame,
                            idCol: String, vecCol: String): DataFrame = {
    val cents = centroids.select(col(idCol).cast("long").as("cell_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    assignCells(corpus, centroids, idCol, vecCol)
      .join(broadcast(cents), "cell_id")
      .select(col(idCol), col("cell_id"),
        zip_with(col(vecCol).cast("array<double>"), col("_cv"),
          (x, c) => x - c).as(vecCol))
  }

  /** Fit IVF-PQ codebooks: PQ trained on cell RESIDUALS (vector minus its
    * coarse centroid), the Faiss IVFPQ composition — residuals are small
    * and centered, so the same code budget quantizes them far more finely
    * than raw vectors. Returns the (subspace, code, centroid) local frame
    * of [[fitPqCodebooks]], fit on the driver over the residuals of the
    * same bounded `256·ksub`-row sample. */
  def fitIvfPqCodebooks(corpus: DataFrame, centroids: DataFrame, m: Int,
                        ksub: Int, iterations: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        fitSample: Option[Column] = None): DataFrame = {
    val (ids, vecs) = collectCentroids(centroids, idCol, vecCol, "fitIvfPqCodebooks")
    val c = Cents(ids.toArray, vecs.map(_.toArray).toArray)
    val (seeds, rows) = hashSample(fitSample.fold(corpus)(corpus.where), ksub, idCol, vecCol)
    codebookFrame(corpus.sparkSession, pqFit(residuals(seeds.take(ksub), c),
      residuals(byId(rows, ksub), c), m, ksub, iterations))
  }

  /** Each row's vector minus its max-cosine centroid — [[cellResiduals]]
    * on the driver, in the rows' order. */
  private def residuals(xs: Array[FitRow], c: Cents): Array[Array[Double]] = {
    val norms = c.vecs.map(graft.functions.NearestCentroid.selfNorm)
    xs.map { case FitRow(_, x) =>
      val cv = c.vecs(graft.functions.NearestCentroid.nearest(x, c.ids, c.vecs, norms))
      Array.tabulate(x.length)(i => x(i) - cv(i))
    }
  }

  /** IVF-PQ encode: (idCol, cell_id, codes) — the cell id plus the PQ
    * codes of the residual. Narrow except the bounded centroid broadcast;
    * the persisted index is `8 + m` bytes of addressing per vector instead
    * of `4 x dims`. */
  def ivfPqEncode(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val books = collectPqCodebooks(codebooks).map(_.map(_.toSeq).toSeq).toSeq
    cellResiduals(corpus, centroids, idCol, vecCol)
      .select(col(idCol), col("cell_id"), graft.functions.GraftFunctions
        .pq_encode(col(vecCol), books).as("codes"))
  }

  /** IVF-PQ top-k: each probe searches only its `nprobe` closest cells,
    * scoring CODES with the plain [[graft.functions.PqCosine]] ADC kernel.
    *
    * No residual-specific kernel is needed: the reconstruction is
    * `cell_centroid + residual_centroid_j`, and both the dot and the
    * squared-norm of that sum decompose per subspace — so the per-(probe,
    * cell) lookup table is just the standard one built from CELL-SHIFTED
    * codebooks (`dot(q_j, c_j + cent)`, `|c_j + cent|^2`), computed BY A
    * PER-ROW KERNEL ([[graft.functions.PqLut]]) on the probe side of the
    * plan — the probe set is never collected to the driver, so probes can
    * be a corpus-sized table (bitext mining / corpus-vs-corpus retrieval).
    * Cell probing is the same [[assignCellsMulti]] narrow projection the
    * IVF tier uses (cosine DESC, cell_id ASC — the two tiers probe the
    * same cells for the same inputs), the cell centroid joins in via the
    * bounded centroid broadcast to feed the shift, and the scored join is
    * `encoded JOIN luts ON cell_id` — corpus rows outside probed cells are
    * never read, which is the IVF pruning. Shuffle bytes after the
    * bounded-buffer top-k are |probes| x k; the lut side of the cell join
    * carries 2*m*K+1+m doubles per (probe, cell) row.
    *
    * `broadcastProbes` (default true) keeps the classic serve shape — a
    * small probe batch broadcast against a huge encoded corpus, zero
    * corpus shuffle. Set it false when the probe set is itself
    * corpus-sized: the join becomes a distributed equi-join on cell_id,
    * BOTH sides shuffle once, and the join is skew-SALTED
    * ([[saltedCellJoin]]) — a Zipf-hot coarse cell's
    * |LUTs-in-cell| x |codes-in-cell| scoring splits across
    * `ceil(count_c / codesPerSalt)` salt buckets (capped at `maxSalt`)
    * instead of pinning one task, at the price of that many shuffle
    * copies of the cell's LUT rows (2*m*K+1+m doubles each). Salting is
    * deterministic, so output is bit-identical to the unsalted and
    * broadcast paths. ADC cosine is EXACT for the reconstruction
    * (quantization is the only approximation).
    *
    * `excludeSelfMatches` (default true) drops candidates whose id equals
    * the probe's — correct when probes ARE corpus rows (self is trivially
    * rank 1). Set it false when probe and corpus ids come from DIFFERENT
    * id spaces ([[scrubAgainstIvfPqIndex]]'s cross-snapshot shape): there
    * an equal id is a re-crawl of the same document keeping its stable
    * id, and excluding it would silently let an exact duplicate survive.
    *
    * CONTRACT CHANGE (r21): an EMPTY probe set returns an empty result
    * frame (SQL semantics) instead of throwing — see [[pqTopK]]; the
    * former require() guard cost one eager probe-source job per serve. */
  def ivfPqTopK(encoded: DataFrame, centroids: DataFrame, codebooks: DataFrame,
                probes: DataFrame, k: Int, nprobe: Int = 1,
                idCol: String = "vec_id", vecCol: String = "embedding",
                broadcastProbes: Boolean = true,
                codesPerSalt: Long = 8192L, maxSalt: Int = 64,
                excludeSelfMatches: Boolean = true): DataFrame = {
    require(k >= 1, s"ivfPqTopK needs k >= 1, got $k")
    require(nprobe >= 1, s"ivfPqTopK needs nprobe >= 1, got $nprobe")
    // An empty probe set yields an empty result frame (SQL semantics) —
    // no eager emptiness job here: the former require(!probes.isEmpty)
    // re-ran the caller's probe scan once per serve (ADVICE r20), and
    // scrubAgainstIvfPqIndex ran a second one on top.
    val books = collectPqCodebooks(codebooks).map(_.map(_.toSeq).toSeq).toSeq
    val guarded = probes.select(
      guardedProbeId(idCol, vecCol, "ivfPqTopK").as(idCol), col(vecCol))
    val cents = centroids.select(col(idCol).cast("long").as("cell_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val lutDf = assignCellsMulti(guarded, centroids, nprobe, idCol, vecCol)
      .join(broadcast(cents), "cell_id")
      .select(col(idCol).as("probe_id"), col("cell_id"),
        graft.functions.GraftFunctions
          .pq_lut(col(vecCol).cast("array<double>"), col("_cv"), books).as("_lut"))
    // The distributed path MUST materialize the LUT at an exchange before
    // the cell join: left inline, the codegen'd broadcast join binds the
    // stream-side `pq_lut` projection lazily at its first use, which is
    // INSIDE the match loop — the 265-double table is then rebuilt once
    // per scored pair instead of once per (probe, cell) row (measured 7x
    // on q191's corpus-vs-corpus shape). saltedCellJoin's hash
    // repartition on (cell_id, _salt) is the shuffle the Scaladoc already
    // promises ("both sides shuffle once"), pins one-LUT-per-row at the
    // shuffle write (the explode copies the materialized table, it does
    // not re-run the kernel per scored pair), and spreads each probed
    // cell's scoring across its salt buckets instead of one task.
    val enc = encoded
      .select(col(idCol).cast("long").as("neighbor_id"),
        col("cell_id").cast("long").as("cell_id"), col("codes"))
    val joined =
      (if (broadcastProbes) enc.join(broadcast(lutDf), "cell_id")
       else saltedCellJoin(enc, lutDf, codesPerSalt, maxSalt))
    val scored =
      (if (excludeSelfMatches) joined.where(col("neighbor_id") =!= col("probe_id"))
       else joined)
        .withColumn("cosine", graft.functions.GraftFunctions
          .pq_cosine(col("codes"), col("_lut")))
    topKPerProbe(scored, k)
  }

  /** A fitted, persistable IVF-PQ index: coarse centroids, residual PQ
    * codebooks, and the encoded corpus — everything [[ivfPqTopK]] needs to
    * serve probes without touching raw vectors or refitting. `mean` is
    * present iff the index was fit in CENTERED space
    * ([[buildIvfPqIndex]]`(center = true)`): centroids, codebooks, and
    * codes then all live in `v - mean` coordinates, and every consumer
    * must center its probes with THIS mean before serving —
    * [[scrubAgainstIvfPqIndex]] and [[appendToIvfPqIndex]] do so
    * automatically, giving the dedup family ([[semanticDedup]]
    * `center = true`) and the index family one shared similarity space. */
  final case class IvfPqIndex(centroids: DataFrame, codebooks: DataFrame,
                              encoded: DataFrame,
                              mean: Option[Seq[Double]] = None)

  /** Persist a fitted IVF-PQ index as parquet tables under `dir`
    * (`centroids/`, `codebooks/`, `encoded/`, plus `mean/` — one
    * dims-length row — when the fit was centered) — the
    * fit-once/probe-many shape a production ANN deployment runs: Lloyd
    * training and the encode pass happen once per corpus snapshot; every
    * subsequent query is [[loadIvfPqIndex]] + [[ivfPqTopK]], whose cost
    * is the probed cells' CODES only. The tables are plain DataFrames, so
    * the layout is engine-portable and the encoded table can be
    * partitioned/bucketed by `cell_id` downstream for probe-side
    * partition pruning. */
  def saveIvfPqIndex(dir: String, index: IvfPqIndex): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    index.codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    index.encoded.write.mode("overwrite").parquet(s"$dir/encoded")
    val spark = index.centroids.sparkSession
    index.mean match {
      case Some(mu) =>
        spark.range(1).select(typedlit(mu).as("mean"))
          .write.mode("overwrite").parquet(s"$dir/mean")
      case None =>
        // overwriting a previously CENTERED index with a raw fit must not
        // leave the old mean/ behind — a stale mean would make
        // loadIvfPqIndex center probes against raw-space codes, a
        // silently-wrong similarity space
        val meanPath = new org.apache.hadoop.fs.Path(s"$dir/mean")
        val fs = meanPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(meanPath)) { fs.delete(meanPath, true): Unit }
    }
  }

  /** Load an index written by [[saveIvfPqIndex]]. Centroids re-sort by id:
    * parquet round-trips don't preserve row order, and the collected
    * centroid array's order is the one load-bearing ordering in the
    * search path (codebooks re-sort internally in the collect). The
    * `mean/` table is optional — absent for raw-space fits, so pre-r20
    * indexes load unchanged. */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     idCol: String = "vec_id"): IvfPqIndex = {
    val meanPath = new org.apache.hadoop.fs.Path(s"$dir/mean")
    val fs = meanPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mean =
      if (fs.exists(meanPath))
        Some(spark.read.parquet(s"$dir/mean").collect()(0)
          .getSeq[Double](0))
      else None
    IvfPqIndex(
      spark.read.parquet(s"$dir/centroids").orderBy(col(idCol)),
      spark.read.parquet(s"$dir/codebooks"),
      spark.read.parquet(s"$dir/encoded"),
      mean)
  }

  /** Cross-snapshot semantic scrub: drop every NEW vector whose nearest
    * reference-index neighbor clears cosine `threshold` — "dedupe
    * tonight's crawl against the reference corpus", the cross-wave twin
    * of [[semanticDedup]]'s within-corpus keep-first. The reference side
    * is a fitted [[IvfPqIndex]], so at 100 TB the old snapshot is served
    * from its `8 + m`-byte codes, never its raw vectors: the check per
    * new doc is one [[ivfPqTopK]] top-1 over its `nprobe` probed cells,
    * and survivors come from a LEFT ANTI join on ids only.
    *
    * Semantics note: the verdict uses the ADC cosine of the top-1
    * candidate (quantization is the only approximation, exactly
    * [[ivfPqTopK]]'s contract) compared against `threshold` after the
    * tier's 6-dp rounding; recall is bounded by `nprobe` like any IVF
    * query.
    *
    * SIZING `threshold` — it lives in RECONSTRUCTED space, so it must
    * sit BELOW the index's measured self-recall cosine
    * (cos(v, recon(v)) for exact re-crawls), which depends on the
    * codebook budget AND the corpus's intrinsic structure (BASELINE.md
    * "Round-20: the cross-wave scrub/append loop priced", 200k x 64d,
    * m = 8): a structureless corpus at ksub = 16 reconstructs at mean
    * cosine 0.52 — a τ = 0.8 scrub then silently misses ~everything —
    * while ksub = 256 restores τ = 0.7 to
    * 5000/5000 exact-re-crawl recall; a 12-dim-manifold corpus (the
    * real embedding shape) reaches 4995/5000 at τ = 0.8 with ksub = 64.
    * Measure the ladder on a held-out sample before choosing τ. New-vs-new duplicates are NOT handled here — run
    * [[semanticDedup]] on the new wave first, then scrub the survivors
    * (the q133 incremental-fuzzy composition, in embedding space).
    * `broadcastProbes = false` + the salt knobs switch to the
    * distributed corpus-sized-wave shape (q225's gated path).
    *
    * ID SPACES may overlap: the serve runs with [[ivfPqTopK]]'s
    * `excludeSelfMatches = false`, so a re-crawled doc that KEEPS its
    * stable id from the reference snapshot is still matched against its
    * identically-id'd reference twin (ADC cosine ~1) and dropped — the
    * exact "dedupe tonight's crawl against the reference corpus" case a
    * probe-side self-filter would silently let survive.
    *
    * Edge conventions (a nightly scrub must degrade, not crash): an
    * EMPTY new wave returns itself unchanged, and rows with a null id or
    * null vector are NOT probed — they pass through as survivors (they
    * cannot be compared; drop or repair them upstream with
    * [[graft.operators.Audit]]'s null tooling if passthrough is wrong
    * for the pipeline). A non-null id that fails the long cast still
    * raises — that is a caller bug, not data skew.
    *
    * SPACE COHERENCE: cosines compare in the space the index was FIT in.
    * An index built with [[buildIvfPqIndex]]`(center = ...)` carries its
    * fitted mean and this scrub centers the new wave with it
    * automatically, so `threshold` is always a centered-space cosine
    * exactly like [[semanticDedup]]`(center = true)`'s — one τ means one
    * thing across the within-corpus and cross-snapshot ops. A raw-fit
    * index scrubs raw, matching `semanticDedup(center = false)`. */
  def scrubAgainstIvfPqIndex(newDocs: DataFrame, index: IvfPqIndex,
                             threshold: Double, nprobe: Int = 1,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             broadcastProbes: Boolean = true,
                             codesPerSalt: Long = 8192L,
                             maxSalt: Int = 64): DataFrame = {
    // No eager emptiness check: an empty wave probes nothing, hits is
    // empty, and the anti join below returns newDocs unchanged — all at
    // plan level. The former probes.isEmpty ran one full extra job over
    // the wave source per scrub (and ivfPqTopK's require ran another).
    val probes = newDocs.where(col(idCol).isNotNull && col(vecCol).isNotNull)
    val centered = index.mean.fold(probes)(mu => probes.select(col(idCol),
      centeredGuarded(col(vecCol), mu, "scrubAgainstIvfPqIndex").as(vecCol)))
    val hits = ivfPqTopK(index.encoded, index.centroids, index.codebooks,
        centered, k = 1, nprobe, idCol, vecCol, broadcastProbes,
        codesPerSalt, maxSalt, excludeSelfMatches = false)
      .where(col("cosine") > threshold)
      .select(col("probe_id").as(idCol))
    // hits carries one long per dropped id — the anti join's build side
    // is tiny by construction, exactly the broadcast shape AQE picks.
    // Null-id rows never match an anti-join key, so they pass through.
    newDocs.join(hits, Seq(idCol), "left_anti")
  }

  /** Fit + encode + persist in one call; returns the loaded index so
    * callers immediately serve from the persisted artifact (guaranteeing
    * saved and served indexes can never drift).
    *
    * `center = true` fits the index in MEAN-CENTERED space — the same
    * [[fitMeanVector]] statistic and the same rationale as
    * [[semanticDedup]]`(center = true)`: a corpus concentrated around a
    * shared direction pins coarse cells exactly as it pins LSH buckets,
    * and a centered fit restores cell balance. The fitted mean persists
    * with the index (`mean/`), and every index consumer
    * ([[scrubAgainstIvfPqIndex]], [[appendToIvfPqIndex]]) centers its
    * inputs with it automatically, so the dedup and index families share
    * ONE similarity space and one τ. Centered fits require homogeneous
    * dims (loud ragged guard, like the dedup family's). Point-mass gate
    * fixtures are offset-invariant by construction, so the q223-family
    * forcing arguments hold in either mode. */
  def buildIvfPqIndex(corpus: DataFrame, dir: String, nCells: Int, m: Int,
                      ksub: Int, iterations: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      center: Boolean = false): IvfPqIndex = {
    val mean = if (center) Some(fitMeanVector(corpus, vecCol)) else None
    val src = mean.fold(corpus)(mu => corpus.select(col(idCol),
      centeredGuarded(col(vecCol), mu, "buildIvfPqIndex(center=true)").as(vecCol)))
    // one sample job for both fits: each fit's sample is a prefix of the
    // larger one, so this equals trainCentroids + fitIvfPqCodebooks
    val (seeds, rows) = hashSample(src, math.max(nCells, ksub), idCol, vecCol)
    val fit = lloydFit(seeds, byId(rows, nCells), nCells, iterations)
    val books = pqFit(residuals(seeds.take(ksub), fit), residuals(byId(rows, ksub), fit),
      m, ksub, iterations)
    val cents = centroidFrame(corpus.sparkSession, fit, idCol, vecCol)
    val booksDf = codebookFrame(corpus.sparkSession, books)
    val enc = ivfPqEncode(src, cents, booksDf, idCol, vecCol)
    saveIvfPqIndex(dir, IvfPqIndex(cents, booksDf, enc, mean))
    loadIvfPqIndex(corpus.sparkSession, dir, idCol)
  }

  /** Grow a fitted index with a new wave WITHOUT refitting: encode the
    * new vectors with the EXISTING centroids and codebooks (centering by
    * the index mean first when the fit was centered — same space, same
    * τ) and union the fresh codes into `encoded`. This closes the
    * production cross-wave loop that [[scrubAgainstIvfPqIndex]] opens:
    * scrub wave N against the index, then append the SURVIVORS so wave
    * N+1's re-crawls of them are caught. No Lloyd refit, no codebook
    * drift — appended codes are exactly what a from-scratch encode with
    * these books would produce, so serve results are insensitive to how
    * many appends built the index. Quantization quality note: the books
    * were fit on the ORIGINAL snapshot; that is sound while waves draw
    * from the same distribution, and a refit ([[buildIvfPqIndex]]) is the
    * answer when embedding drift accumulates — watch the hot-cell check
    * below, which is exactly where drift shows up first.
    *
    * LOUD HOT-CELL / SALT-BUDGET CHECK: appends concentrated in a few
    * coarse cells are how an index silently degrades into the skewed
    * regime ([[saltedCellJoin]]'s maxSalt cap bounds how much join-time
    * salting can absorb). After the union this op counts rows per cell
    * (one map-side-combinable agg over the codes table — shuffle bytes
    * are |cells|) and THROWS when any cell exceeds `maxCellFrac` of the
    * grown corpus, naming the cell and the refit/rebalance options. Set
    * `maxCellFrac = 1.0` to opt out (e.g. deliberately tiny fixtures).
    *
    * Rows with null id/vector are NOT appendable and are dropped with
    * the same rationale as [[scrubAgainstIvfPqIndex]]'s passthrough
    * convention (they can never be served). Ids are assumed unique
    * across index + wave — the scrub upstream enforces it semantically
    * (re-crawls drop, survivors carry fresh ids); duplicate ids are not
    * detected here (that check is a full extra pass; run
    * [[Dedup.duplicateStats]] on `encoded` if in doubt).
    *
    * Returns the grown index (same centroids/codebooks/mean). NOT
    * auto-persisted: callers [[saveIvfPqIndex]] when the wave is final —
    * append is a plan-level union, so persisting is one write of the
    * grown `encoded` table. */
  def appendToIvfPqIndex(index: IvfPqIndex, newDocs: DataFrame,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         maxCellFrac: Double = 0.25): IvfPqIndex = {
    require(maxCellFrac > 0.0 && maxCellFrac <= 1.0,
      s"appendToIvfPqIndex: maxCellFrac must be in (0, 1], got $maxCellFrac")
    val clean = newDocs.where(col(idCol).isNotNull && col(vecCol).isNotNull)
    val centered = index.mean.fold(clean)(mu => clean.select(col(idCol),
      centeredGuarded(col(vecCol), mu, "appendToIvfPqIndex").as(vecCol)))
    val fresh = ivfPqEncode(centered, index.centroids, index.codebooks,
      idCol, vecCol)
    val cols = Seq(col(idCol).cast("long").as(idCol),
      col("cell_id").cast("long").as("cell_id"), col("codes"))
    val grown = index.encoded.select(cols: _*).unionByName(fresh.select(cols: _*))
    if (maxCellFrac < 1.0) {
      val stats = grown.groupBy(col("cell_id"))
        .agg(count(lit(1)).as("_n"))
        .agg(sum(col("_n")).as("_total"), max_by(col("cell_id"), col("_n")).as("_hot"),
          max(col("_n")).as("_hotN"))
        .head()
      // an empty grown table (empty index + empty wave) aggregates to one
      // all-null row — nothing to balance-check
      if (stats.isNullAt(0)) return index.copy(encoded = grown)
      val (total, hot, hotN) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      require(hotN <= math.max(1L, (maxCellFrac * total).toLong),
        s"appendToIvfPqIndex: cell $hot holds $hotN of $total rows " +
          f"(${hotN.toDouble / total}%.3f > maxCellFrac = $maxCellFrac) after the " +
          "append — the wave concentrates in too few coarse cells. Refit with " +
          "buildIvfPqIndex (or trainBalancedCentroids) on the grown corpus, or " +
          "raise the serve-side salt budget (saltedCellJoin maxSalt) if the skew " +
          "is acceptable.")
    }
    index.copy(encoded = grown)
  }

  /** One fit-sample row: its id (the seed and tie order) and its vector. */
  private final case class FitRow(id: Any, vec: Array[Double])

  /** Ascending id order with nulls first — Spark's `orderBy(id)`. */
  private val IdOrder: Ordering[Any] = (a: Any, b: Any) =>
    if (a == null || b == null) (a != null).compareTo(b != null)
    else a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** The driver fits' one Spark job over the rows with a non-null vector:
    * each task keeps its first `256·k` rows in `(xxhash64(id), id)` order
    * (FAISS's `max_points_per_centroid`) and its first `k` by id; the
    * driver merges them into (the corpus's first `k` rows by id — the
    * seeds, whatever the sample holds — and the sample in hash order). Any
    * prefix of either serves a smaller `k` ([[buildIvfPqIndex]]). */
  private def hashSample(fit: DataFrame, k: Int, idCol: String,
                         vecCol: String): (Array[FitRow], Array[FitRow]) = {
    val (cap, nSeeds) = (sampleCap(k), math.max(k, 0))
    val hashOrder = Ordering.by((x: (Long, FitRow)) => (x._1, x._2.id))(
      Ordering.Tuple2(Ordering.Long, IdOrder))
    val idOrder = Ordering.by((x: (Long, FitRow)) => x._2.id)(IdOrder)
    val parts = fit.where(col(vecCol).isNotNull)
      .select(xxhash64(col(idCol)), col(idCol), col(vecCol).cast("array<double>"))
      .rdd.mapPartitions { it =>
        val (h, s) = (mutable.PriorityQueue.empty(hashOrder), mutable.PriorityQueue.empty(idOrder))
        it.foreach { r =>
          val x = (r.getLong(0), FitRow(r.get(1), r.getSeq[Double](2).toArray))
          h += x; s += x
          if (h.size > cap) h.dequeue()
          if (s.size > nSeeds) s.dequeue()
        }
        Iterator((h.toArray, s.toArray))
      }.collect()
    (parts.flatMap(_._2).sorted(idOrder).take(nSeeds).map(_._2),
      parts.flatMap(_._1).sorted(hashOrder).take(cap).map(_._2))
  }

  private def sampleCap(k: Int): Int = math.min(256L * math.max(k, 0), Int.MaxValue).toInt

  /** The `k`-fit prefix of a [[hashSample]], sorted by id. */
  private def byId(rows: Array[FitRow], k: Int): Array[FitRow] =
    rows.take(sampleCap(k)).sortBy(_.id)(IdOrder)

  /** A driver-side centroid set (the fits keep ids ascending). */
  private final case class Cents(ids: Array[Long], vecs: Array[Array[Double]])

  /** The first `k` seeds (ids cast to long as [[collectCentroids]] does)
    * plus `iterations` Lloyd passes over the sample `xs`. */
  private def lloydFit(seeds: Array[FitRow], xs: Array[FitRow], k: Int,
                       iterations: Int): Cents = {
    val c0 = seeds.take(k)
    require(c0.forall(_.id.isInstanceOf[Number]), "centroid ids must be non-null numbers")
    val vs = xs.map(_.vec)
    (0 until iterations).foldLeft(Cents(c0.map(_.id.asInstanceOf[Number].longValue),
      c0.map(_.vec)))((c, _) => lloydPass(vs, c))
  }

  /** One Lloyd pass: every row joins its max-cosine centroid and each cell
    * becomes its members' mean under [[graft.functions.VectorAvg]]'s rule
    * (the first member fixes the length). Cells with no member drop out. */
  private def lloydPass(xs: Array[Array[Double]], c: Cents): Cents = {
    require(c.ids.nonEmpty || xs.isEmpty, "Lloyd fit: centroid set is empty")
    val norms = c.vecs.map(graft.functions.NearestCentroid.selfNorm)
    val sums = new Array[Array[Double]](c.ids.length)
    val counts = new Array[Long](c.ids.length)
    xs.foreach { x =>
      val i = graft.functions.NearestCentroid.nearest(x, c.ids, c.vecs, norms)
      if (sums(i) == null) sums(i) = new Array[Double](x.length)
      for (d <- 0 until math.min(x.length, sums(i).length)) sums(i)(d) += x(d)
      counts(i) += 1
    }
    val live = c.ids.indices.filter(counts(_) > 0)
    Cents(live.map(c.ids).toArray, live.map(i => sums(i).map(_ / counts(i))).toArray)
  }

  /** A local frame `(idCol long, vecCol array<double>)`: no job, no storage. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession, c: Cents,
                            idCol: String, vecCol: String): DataFrame =
    spark.createDataFrame(
      c.ids.indices.map(i => Row(c.ids(i), c.vecs(i).toSeq)).asJava,
      StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField(vecCol, ArrayType(DoubleType, containsNull = false), nullable = false))))

  /** Lloyd-iteration centroid training for IVF (k-means on cosine
    * assignment). Seeds are the first k vectors by id (deterministic);
    * each iteration assigns every row to its max-cosine centroid (ties to
    * the smallest id) and moves each centroid to its members' mean. Cells
    * that lose all members drop out (k may shrink). Fit on the driver over
    * the bounded sample of [[hashSample]] (`256·k` rows, one job) —
    * `fitSample` filters rows before that cap. Returns a local frame
    * `(idCol long, vecCol array<double>)`, ids ascending. */
  def trainCentroids(corpus: DataFrame, k: Int, iterations: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     fitSample: Option[Column] = None): DataFrame = {
    val (seeds, rows) = hashSample(fitSample.fold(corpus)(corpus.where), k, idCol, vecCol)
    centroidFrame(corpus.sparkSession, lloydFit(seeds, byId(rows, k), k, iterations),
      idCol, vecCol)
  }

  /** Balance-constrained centroid training — the FIT-TIME lever against
    * Zipf-hot IVF cells, complementing [[saltedCellJoin]]'s join-time
    * salting: after a standard [[trainCentroids]] fit, repeatedly SPLIT
    * every cell holding more than `maxCellFrac` of the fit sample (the
    * practical balanced-k-means variant: a hot cell's centroid is
    * replaced by two seeds drawn from the cell — its two smallest-id
    * members, total determinism — and the enlarged set takes
    * `refineIters` Lloyd passes), until every cell fits the cap or
    * `splitRounds` is exhausted. More, smaller cells where the data is
    * dense = bounded per-cell scan cost for every downstream IVF tier,
    * at the price of a larger (still broadcast-bounded) centroid set.
    * Lloyd refinement can re-grow a split cell past the cap, so the cap
    * is a strong pressure, not a hard guarantee — the loop re-checks and
    * re-splits each round; pair with the salted join for the residue.
    * The loop runs on the driver over [[trainCentroids]]' sample; split
    * ids continue from the largest live centroid id. */
  def trainBalancedCentroids(corpus: DataFrame, k: Int, iterations: Int,
                             maxCellFrac: Double = 0.05, splitRounds: Int = 3,
                             refineIters: Int = 1,
                             idCol: String = "vec_id", vecCol: String = "embedding",
                             fitSample: Option[Column] = None): DataFrame = {
    require(maxCellFrac > 0.0 && maxCellFrac <= 1.0,
      s"maxCellFrac must be in (0, 1], got $maxCellFrac")
    require(splitRounds >= 0 && refineIters >= 0,
      "splitRounds and refineIters must be >= 0")
    val (seeds, rows) = hashSample(fitSample.fold(corpus)(corpus.where), k, idCol, vecCol)
    val xs = byId(rows, k)
    require(xs.nonEmpty, "trainBalancedCentroids: fit corpus is empty")
    val vs = xs.map(_.vec)
    val cap = math.max(1L, (maxCellFrac * vs.length).toLong)
    var cents = lloydFit(seeds, xs, k, iterations)
    var round = 0
    var balanced = false
    while (round < splitRounds && !balanced) {
      val norms = cents.vecs.map(graft.functions.NearestCentroid.selfNorm)
      // centroid index -> member rows in id order (xs is id-sorted)
      val members = vs.indices.groupBy(i =>
        graft.functions.NearestCentroid.nearest(vs(i), cents.ids, cents.vecs, norms))
      val hot = members.collect { case (c, rs) if rs.length > cap => c }.toSeq.sorted
      if (hot.isEmpty) balanced = true
      else {
        val seeds = hot.flatMap(c => members(c).take(2).map(vs))
        val maxId = cents.ids.max
        val cold = cents.ids.indices.filterNot(hot.toSet)
        val grown = Cents(cold.map(cents.ids).toArray ++ seeds.indices.map(maxId + 1 + _),
          cold.map(cents.vecs).toArray ++ seeds)
        cents = (0 until refineIters).foldLeft(grown)((c, _) => lloydPass(vs, c))
      }
      round += 1
    }
    centroidFrame(corpus.sparkSession, cents, idCol, vecCol)
  }

  /** Random-hyperplane LSH bucketing for cosine similarity (the classic
    * SimHash-for-vectors scheme): `nPlanes` pseudo-random {-1,0,+1}
    * hyperplanes, bucket = bit vector of dot-product signs. Vectors in the
    * same bucket are near-neighbor candidates; expected collision rate for
    * cosine theta is (1 - theta/pi)^nPlanes.
    *
    * Planes are generated from the deterministic integer pattern
    * `((dim*131 + plane + 7) * (dim*137 + plane*149 + 11) mod 1009 mod 3) - 1`
    * — arithmetic reproducible in any engine (the DuckDB oracle rebuilds
    * the same planes), unlike an RNG. The product-of-two-linear-forms
    * shape is load-bearing: see [[hyperplaneBucketExpr]] for why a single
    * linear form mod 3 degenerates to 3 distinct planes.
    * At 100 TB this is the shuffle-free candidate generator: one pass to
    * bucket, then a groupBy on (bucket) whose shuffle carries ids only.
    * A corpus concentrated around a shared direction collapses occupancy
    * regardless of the plane family (measured: 256 -> 16 buckets) —
    * center upstream with [[fitMeanVector]]/[[centerVectors]], the fix
    * [[semanticDedup]]'s `center = true` applies. */
  def hyperplaneBuckets(corpus: DataFrame, nPlanes: Int = 8,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), hyperplaneBucketExpr(vecCol, nPlanes).as("bucket"))

  /** The [[hyperplaneBuckets]] bit-vector as a bare Column, for callers that
    * need the bucket alongside other columns without a join (also the
    * streaming dedup's pre-shuffle key). */
  private[graft] def hyperplaneBucketExpr(vecCol: String, nPlanes: Int,
                                          planeOffset: Int = 0): org.apache.spark.sql.Column = {
    // Plane weights are {-1,0,1} drawn from the PRODUCT of two independent
    // linear forms in (d, p), reduced mod a prime then mod 3. The previous
    // weights ((d*31 + p*17) % 3 - 1) were a single linear form, and any
    // linear form mod 3 has PERIOD 3 IN p — planes p, p+3, p+6 were
    // identical, so 8 "planes" carried 3 independent bits and the whole
    // corpus collapsed into <= 8 buckets (6 measured on an isotropic 64k
    // fixture). The quadratic product has no such period: the mod-1009
    // reduction (1009 ≡ 1 mod 3) decouples the final mod 3 from (d, p)
    // mod 3, and a 48-dim isotropic corpus measurably spreads over ~250
    // of the 256 8-plane buckets. Weights stay in {-1,0,1} because the
    // bucketing proofs downstream (q215's shared-bucket pigeonhole) only
    // assume that bound, and the DuckDB oracles restate the same integer
    // arithmetic verbatim (SparkEntry q37/q94).
    val dot = (p: Int) =>
      s"aggregate(zip_with($vecCol, transform(sequence(1, size($vecCol)), " +
        // CAST to BIGINT before the product: sequence() yields int32 and
        // the two-form product exceeds 2^31 past ~250 dims (DuckDB's
        // range() is already BIGINT, so the oracle needs no cast)
        s"d -> CAST((CAST(d AS BIGINT) * 131 + $p + 7) * (CAST(d AS BIGINT) * 137 + $p * 149 + 11) % 1009 % 3 - 1 AS DOUBLE)), " +
        s"(x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)"
    // bit j of the bucket comes from plane (planeOffset + j): offset bands
    // draw DISJOINT plane slices of the same family (the OR-construction
    // in semanticDedupBanded), bit positions stay 0-based per band
    val bits = (0 until nPlanes)
      .map(j => s"IF(${dot(planeOffset + j)} >= 0D, CAST(${1L << j} AS BIGINT), CAST(0 AS BIGINT))")
      .mkString(" + ")
    expr(bits)
  }

  /** Fit the per-dimension corpus mean of an embedding column — the
    * centering statistic for [[semanticDedup]]'s `center` mode — via one
    * [[graft.functions.VectorAvg]] hash aggregate (map-side combinable:
    * shuffle bytes are one dims-length vector per partition, independent
    * of corpus size) and a single-row driver collect (bounded: dims
    * doubles).
    *
    * Each dimension is rounded to `roundDp` decimals (BigDecimal HALF_UP,
    * the same decimal rounding Spark's and DuckDB's `round` apply) before
    * use. The rounding is NOT cosmetic — it is what makes the fit a
    * cross-engine-identical constant: float summation order differs
    * between engines (partition-parallel here, scan-order in an oracle),
    * so the raw mean can differ in its last ulps, and a sign decision
    * `dot(v - mu, plane) >= 0` downstream would be non-reproducible.
    * Rounding collapses both engines' ulp-perturbed means onto one double
    * unless the true mean sits within that perturbation (~1e-16 relative)
    * of a decimal boundary — measured margin on the test corpora is
    * ~1e-8, eight orders clear. Centering quality is unaffected: the
    * concentration effect this corrects is O(1) in magnitude, 1e-6 noise
    * is irrelevant. Null vectors are ignored by the aggregate. */
  def fitMeanVector(corpus: DataFrame, vecCol: String = "embedding",
                    roundDp: Int = 6): Seq[Double] = {
    val row = corpus
      .agg(graft.functions.GraftFunctions
        .vector_avg(col(vecCol).cast("array<double>")).as("_mu"))
      .collect()(0)
    require(!row.isNullAt(0), "fitMeanVector: corpus has no non-null vectors")
    row.getSeq[Double](0)
      .map(x => BigDecimal(x).setScale(roundDp, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  /** Center an embedding column by a fitted mean (a pure narrow
    * projection: codegen'd zip_with, zero shuffles, the mean rides as a
    * literal array). The [[semanticDedup]] concentration fix, exposed
    * standalone so pipelines can center once upstream of several
    * consumers — including the streaming rungs, which cannot fit a
    * corpus-wide mean themselves and take pre-centered vectors instead. */
  def centerVectors(vec: Column, mean: Seq[Double]): Column =
    zip_with(vec.cast("array<double>"), typedlit(mean), (x, m) => x - m)

  /** [[centerVectors]] with the loud ragged guard every centered consumer
    * needs: a vector whose length differs from the fitted mean's would be
    * null-padded by `zip_with`, and the null elements would silently
    * poison downstream buckets, cosines, and PQ codes — raise instead.
    * Null vectors pass through as null (callers pre-filter or drop). */
  private[graft] def centeredGuarded(vec: Column, mean: Seq[Double],
                                     caller: String): Column =
    when(vec.isNull, lit(null).cast("array<double>"))
      .when(size(vec) =!= mean.length,
        raise_error(concat(
          lit(s"$caller: ragged vector (expected ${mean.length} dims, got "),
          size(vec).cast("string"), lit(")"))))
      .otherwise(centerVectors(vec, mean))

  /** The `center = true` entry shared by the semantic dedup family: fit
    * the mean, replace `vecCol` with the centered projection (so every
    * downstream bucket/cosine consumer sees centered vectors under the
    * original name), or pass the corpus through untouched.
    *
    * Centered mode REQUIRES homogeneous dimensionality and fails loudly
    * on a ragged row. The raw operator tolerates ragged vectors (planes
    * are built per own length, cosines use the min-span convention), but
    * centering cannot: `zip_with` null-pads a vector whose length differs
    * from the fitted mean, the null centered elements would collapse its
    * bucket to 0 and poison its cosines, and the ragged row would
    * silently ESCAPE dedup — a per-row raise_error beats that. (The mean
    * fit itself also assumes homogeneity: [[fitMeanVector]] divides every
    * dim-sum by the total vector count, [[graft.functions.VectorAvg]]'s
    * documented contract.) */
  private def maybeCentered(corpus: DataFrame, center: Boolean,
                            idCol: String, vecCol: String): DataFrame =
    if (!center) corpus
    else {
      val mu = fitMeanVector(corpus, vecCol)
      val guarded = when(size(col(vecCol)) =!= mu.length,
        raise_error(concat(
          lit(s"semanticDedup(center=true): ragged vector (expected ${mu.length} dims, got "),
          size(col(vecCol)).cast("string"), lit(") at " + vecCol))))
        .otherwise(col(vecCol))
      corpus.select(col(idCol), centerVectors(guarded, mu).as(vecCol))
    }

  /** SemDeDup-shaped semantic deduplication (Abbas et al. 2023, public):
    * drop every vector that has an EARLIER (smaller-id) same-bucket
    * neighbor with cosine above `threshold`; keep-first, like
    * [[Dedup]]'s exact text dedup but in embedding space. Returns the
    * survivors as (idCol, bucket).
    *
    * Candidate generation is the deterministic [[hyperplaneBuckets]]
    * partition (the paper clusters with k-means; LSH buckets are the
    * engine-reproducible equivalent and keep the oracle exact), so there is
    * no all-pairs path: bucketing is a narrow projection, candidates are a
    * same-bucket equi-join, and survivors come from a LEFT ANTI join on
    * ids only. At 100 TB the within-bucket join is quadratic in bucket
    * size — `nPlanes` is the lever (each plane halves expected bucket
    * population), and AQE's skew split handles hot buckets.
    *
    * CONCENTRATION (measured, BASELINE.md "Round-19: mean-centering
    * closes the LSH concentration hole"): a corpus clustered
    * around a shared mean direction — the usual shape of real
    * sentence-embedding spaces — pins the sign of every plane that
    * weights the shared dims, collapsing spread regardless of the plane
    * family (an isotropic 200k corpus spreads over all 256 8-plane
    * buckets; the same corpus plus one strong shared direction occupies
    * 16, max bucket 15,380 rows — and the within-bucket join is quadratic
    * in bucket size). `center = true` is the fix: fit the per-dimension
    * corpus mean ([[fitMeanVector]] — one map-side-combinable aggregate,
    * driver state = dims doubles) and run the WHOLE operator — buckets
    * AND the verification cosine — in centered space. Running both in the
    * same space is what makes the result well-defined: the keep-set is
    * then invariant under any constant offset of the corpus (buckets
    * depend on v - mu, which offsets cancel; so do centered cosines),
    * where a bucket-only centering would mix centered candidates with
    * raw-space thresholds. The threshold therefore lives in centered
    * space when `center` is on — the SemDeDup regime, where similarity is
    * measured between variation-around-the-mean, not raw directions
    * (Abbas et al. cluster mean-free residuals the same way).
    */
  def semanticDedup(corpus: DataFrame, threshold: Double, nPlanes: Int = 8,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    center: Boolean = false): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 62,
      s"semanticDedup needs nPlanes in [1, 62] (bucket is a BIGINT bit vector), got $nPlanes")
    val src = maybeCentered(corpus, center, idCol, vecCol)
    // the bucketed frame feeds THREE subtrees (both pair-join sides and the
    // anti-join base); detached once so the corpus scan + O(nPlanes x dims)
    // bucket aggregate run once, not three times (see Relational.detach for
    // the durability contract)
    val withB = Relational.detach(src.select(col(idCol), col(vecCol),
      hyperplaneBucketExpr(vecCol, nPlanes).as("bucket")))
    val a = withB.select(col("bucket"), col(idCol).as("_ida"), col(vecCol).as("_va"))
    val b = withB.select(col("bucket"), col(idCol).as("_idb"), col(vecCol).as("_vb"))
    val dropped = a.join(b, "bucket")
      .where(col("_idb") > col("_ida"))
      .where(cosine_similarity(col("_va"), col("_vb")) > threshold)
      .select(col("_idb").as(idCol)).distinct()
    withB.join(dropped, Seq(idCol), "left_anti").select(col(idCol), col("bucket"))
  }

  /** [[semanticDedup]] with the MinHash-LSH OR-construction: `bands`
    * independent plane families (disjoint slices of the deterministic
    * family — band b uses planes [b*nPlanes, (b+1)*nPlanes)), and a pair
    * is a candidate when it shares the bucket in ANY band. Single-band
    * bucketing trades recall for bucket size; OR-ing b bands lifts pair
    * recall r to 1 - (1-r)^b for b times the bucket-join cost. The same
    * AND-OR trade as [[Dedup]]'s 4x4 MinHash banding, in embedding space.
    *
    * Measured recall/cost ladder (BASELINE.md "Round-18 probe: the
    * nPlanes lever, quantified", 200k x 64d in
    * 40k planted 5-dup clusters, within-cluster cosine ~0.9996; "pred" is
    * the 1-(1-r)^b rule from the single-band rows — it extrapolates):
    * {{{
    * config      recall   pred     cand pairs   dedup wall
    * 1 x 8       0.9347   —        8.80e7       4.5 s
    * 1 x 12      0.9040   —        6.97e6       4.3 s
    * 1 x 16      0.8746   —        9.07e5       4.6 s
    * 2 x 12      0.9890   0.9908   ~2 x 6.97e6  7.9 s
    * 3 x 8       0.9996   0.9997   ~3 x 8.80e7  9.8 s
    * }}}
    * Sizing rule: pick per-band nPlanes for bucket population (pair cost
    * is quadratic in bucket size), then add bands for recall — bands
    * multiply cost linearly and drive miss-rate down geometrically.
    *
    * Scale shape: ONE corpus scan computes all `bands` buckets (a narrow
    * projection, detached once for its three consumers); each band is an
    * independent same-bucket equi-join; the dropped-id sets union and
    * dedupe on ids only. A pair sharing buckets in several bands is
    * scored once per such band — at 100 TB that duplicate scoring is
    * noise next to a pair-level distinct's extra shuffle, and the
    * alternative all-band pair frame would carry vectors through an
    * exchange. Survivors return as (idCol, bucket of band 0).
    *
    * `center` carries [[semanticDedup]]'s concentration fix: buckets in
    * EVERY band and the verification cosine all run on mean-centered
    * vectors (same well-definedness argument — see there).
    */
  def semanticDedupBanded(corpus: DataFrame, threshold: Double,
                          nPlanes: Int = 8, bands: Int = 2,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          center: Boolean = false): DataFrame = {
    require(bands >= 1 && nPlanes >= 1 && bands * nPlanes <= 62,
      s"semanticDedupBanded needs bands*nPlanes in [1, 62], got $bands x $nPlanes")
    val src = maybeCentered(corpus, center, idCol, vecCol)
    val bCols = (0 until bands).map(b => s"_band$b")
    val withB = Relational.detach(src.select(
      col(idCol) +: col(vecCol) +: bCols.zipWithIndex.map { case (c, b) =>
        hyperplaneBucketExpr(vecCol, nPlanes, planeOffset = b * nPlanes).as(c)
      }: _*))
    val dropped = bCols.map { c =>
      val a = withB.select(col(c), col(idCol).as("_ida"), col(vecCol).as("_va"))
      val b = withB.select(col(c), col(idCol).as("_idb"), col(vecCol).as("_vb"))
      a.join(b, c)
        .where(col("_idb") > col("_ida"))
        .where(cosine_similarity(col("_va"), col("_vb")) > threshold)
        .select(col("_idb").as(idCol))
    }.reduce(_ unionAll _).distinct()
    withB.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col(bCols.head).as("bucket"))
  }

  /** INT8-range scalar quantization: fit per-dimension [min, max] over the
    * corpus, then encode each element to an 8-bit code
    * `floor((x - min) / ((max - min) / 255) + 0.5)` (clamped to 255; a
    * constant dimension encodes 0). The simpler compression tier next to
    * [[pqEncode]]: 4x smaller than float32 with per-element decode, no
    * codebooks — and, unlike PQ's Lloyd fit, the min/max fit is exact and
    * order-independent, so the whole operator is oracle-checkable.
    *
    * Scale shape: the fit is one posexplode + (pos)-keyed aggregate whose
    * map-side partials collapse to dims-sized state; the bounds then ride
    * into the encode as two literal arrays, making the apply a pure narrow
    * projection of codegen'd higher-order functions — zero joins, zero
    * shuffles on the corpus pass. `floor(r + 0.5)` instead of `round(r)`
    * because half-up vs half-even rounding differs across engines.
    *
    * Output: (idCol, qcodes array<long> in [0, 255], max_abs_err — the
    * vector's worst reconstruction error, bounded by scale/2 per dim).
    */
  def scalarQuantize(corpus: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val bounds = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("_pos", "_x")))
      .groupBy("_pos").agg(min("_x").as("_mn"), max("_x").as("_mx"))
      .orderBy("_pos")
      .collect()
    require(bounds.nonEmpty, "scalarQuantize: corpus is empty")
    require(bounds.map(_.getInt(0)).toSeq == bounds.indices.toSeq,
      "scalarQuantize: ragged vectors — dimension positions are not dense")
    val mns = typedlit(bounds.map(_.getDouble(1)).toSeq)
    val mxs = typedlit(bounds.map(_.getDouble(2)).toSeq)
    def mn(i: Column) = element_at(mns, (i + 1).cast("int"))
    def mx(i: Column) = element_at(mxs, (i + 1).cast("int"))
    def codeOf(x: Column, i: Column): Column =
      when(mx(i) === mn(i), lit(0L)).otherwise(
        least(floor((x.cast("double") - mn(i)) / ((mx(i) - mn(i)) / lit(255.0))
          + lit(0.5)).cast("long"), lit(255L)))
    val codes = transform(col(vecCol), (x, i) => codeOf(x, i))
    val errs = transform(col(vecCol), (x, i) =>
      abs(x.cast("double") - (mn(i) + codeOf(x, i) * ((mx(i) - mn(i)) / lit(255.0)))))
    corpus.select(col(idCol), codes.as("qcodes"),
      round(array_max(errs), 6).as("max_abs_err"))
  }

  /** Parametric OPQ rotation fit (Ge et al. 2013, the "OPQ-P" variant):
    * one PCA fit (a single corpus Gram pass + the driver Jacobi solve,
    * [[graft.operators.Decomp.fitPca]]) and an eigenvalue ALLOCATION
    * that deals the principal directions across the `m` PQ subspaces so
    * each subspace carries a balanced share of the variance (the
    * sum-balancing greedy of [[allocateEigen]] — the practical,
    * scale-invariant proxy for the paper's product objective) — without
    * it, naive dimension-order PQ lets one loud correlated subspace eat
    * the whole quantization budget while another encodes noise. Returns the
    * d x d orthogonal rotation as ROWS (output dim k = row k),
    * subspace-major: rows [j*dsub, (j+1)*dsub) feed subspace j of the
    * downstream [[fitPqCodebooks]]/[[fitIvfPqCodebooks]] fit.
    *
    * Rotation ONLY — no mean-centering: an orthogonal map preserves dot
    * products and norms, so EXACT cosines are invariant (pinned in
    * DedupSimilaritySpec) and a rotated index answers the same queries;
    * centering would change the cosine contract. Deviation from the
    * paper, stated: no alternating refinement of R against the fitted
    * codebooks (non-parametric OPQ) — the parametric one-shot fit is the
    * standard production variant and composes with any PQ tier. */
  def fitOpqRotation(corpus: DataFrame, m: Int,
                     vecCol: String = "embedding",
                     fitSample: Option[Column] = None): Array[Array[Double]] = {
    require(m >= 1, s"fitOpqRotation needs m >= 1, got $m")
    val model = graft.operators.Decomp.fitPca(
      fitSample.fold(corpus)(corpus.where).where(col(vecCol).isNotNull), vecCol)
    require(model.d % m == 0,
      s"fitOpqRotation: ${model.d} dims not divisible into $m equal subspaces")
    allocateEigen(model.eigenvalues, m)
      .flatMap(g => g.map(model.components(_)))
  }

  /** Non-parametric OPQ refinement (Ge et al. 2013 §3.1, the alternating
    * "OPQ-NP" variant) atop a parametric init: repeat `rounds` times —
    * (1) with the rotation R fixed, Lloyd-fit PQ codebooks in the rotated
    * space ([[fitPqCodebooks]]); (2) with the codebooks fixed, solve the
    * orthogonal Procrustes problem `min_R Σ ||R x − x̂||²` in closed form:
    * R = V Uᵀ from the SVD of the cross-covariance N = Σ x x̂ᵀ, where x̂
    * is the PQ reconstruction of the rotated vector. Step (2) can only
    * lower the quantization error the parametric eigen-allocation left on
    * the table (the paper's Fig. 4 gap); the refined R stays exactly
    * orthogonal, so the cosine-invariance contract of [[opqRotate]] is
    * untouched.
    *
    * Scale shape per round: one codebook fit (bounded, samples with
    * `fitSample`) + ONE corpus-pass [[graft.functions.MatrixGram]]
    * aggregate over concat(x, x̂) — the reconstruction is a codegen'd
    * literal-codebook lookup, the cross block rides the Gram's packed
    * upper triangle, and the driver solve is one d×d Jacobi (the
    * [[graft.operators.Decomp.fitPca]] budget). Deterministic end to end.
    * Degenerate cross-covariances (rank-deficient N — a collapsed
    * reconstruction) fail loudly rather than return a junk rotation. */
  def refineOpqRotation(corpus: DataFrame, init: Array[Array[Double]], m: Int,
                        ksub: Int, pqIterations: Int = 2, rounds: Int = 2,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        fitSample: Option[Column] = None): Array[Array[Double]] = {
    require(rounds >= 1, s"refineOpqRotation needs rounds >= 1, got $rounds")
    val d = init.length
    require(d >= 1 && init.forall(_.length == d),
      "refineOpqRotation needs a square init rotation")
    val fit = fitSample.fold(corpus)(corpus.where).where(col(vecCol).isNotNull)
    var r = init
    for (_ <- 0 until rounds) {
      val rot = opqRotate(fit, r, vecCol)
      val books = collectPqCodebooks(
        fitPqCodebooks(rot, m, ksub, pqIterations, idCol, vecCol))
      val booksSeq = books.map(_.map(_.toSeq).toSeq).toSeq
      val bookLit = typedlit(booksSeq)
      // one Gram pass over z = concat(x, x̂): the upper-triangle block
      // rows 0..d-1 x cols d..2d-1 is exactly N = Σ x x̂ᵀ
      val gram = fit
        .select(col(vecCol).cast("array<double>").as("_x"))
        .withColumn("_y", graft.functions.GraftFunctions.eigen_project(
          col("_x"), Seq.fill(d)(0.0), r.map(_.toSeq).toSeq, Seq.fill(d)(1.0)))
        .withColumn("_codes",
          graft.functions.GraftFunctions.pq_encode(col("_y"), booksSeq))
        .withColumn("_yhat", flatten(transform(sequence(lit(0), lit(m - 1)),
          j => element_at(element_at(bookLit, (j + 1).cast("int")),
            (element_at(col("_codes"), (j + 1).cast("int")) + 1).cast("int")))))
        .select(concat(col("_x"), col("_yhat")).as("_z"))
        .agg(graft.functions.GraftFunctions.matrix_gram(col("_z")).as("g"))
        .selectExpr("g.prod").head()
      val prods = gram.getSeq[Double](0).toArray
      val dd = 2 * d
      def packed(i: Int, j: Int): Double = { // upper triangle of Σ z zᵀ
        val (a, b) = if (i <= j) (i, j) else (j, i)
        prods(a * dd - a * (a - 1) / 2 - a + b)
      }
      val nMat = Array.tabulate(d, d)((i, j) => packed(i, d + j))
      // SVD of N via the symmetric Jacobi: NᵀN = V S² Vᵀ, U = N V S⁻¹
      val ntn = Array.tabulate(d, d)((a, b) =>
        (0 until d).map(k => nMat(k)(a) * nMat(k)(b)).sum)
      val (ev, vRows) = graft.operators.Decomp.jacobiEigen(ntn)
      val s = ev.map(x => math.sqrt(math.max(x, 0.0)))
      require(s.head > 0 && s.last > 1e-12 * s.head,
        "refineOpqRotation: degenerate cross-covariance — the PQ " +
          "reconstruction collapsed; refine on more data or fewer rounds")
      val u = Array.tabulate(d) { k =>
        val vk = vRows(k)
        Array.tabulate(d)(i => (0 until d).map(j => nMat(i)(j) * vk(j)).sum / s(k))
      }
      // R = V Uᵀ: R(i)(j) = Σ_k v_k(i) u_k(j)
      r = Array.tabulate(d, d)((i, j) =>
        (0 until d).map(k => vRows(k)(i) * u(k)(j)).sum)
    }
    r
  }

  /** Greedy balanced eigenvalue allocation: eigen-direction indices
    * (pre-sorted descending by eigenvalue, as [[graft.operators.Decomp
    * .jacobiEigen]] returns them) dealt into `m` equal groups, each
    * direction placed in the unfilled group with the smallest running
    * eigenvalue SUM (ties to the lowest index — total determinism).
    *
    * Sum-balancing, NOT product-balancing: a min-log-product greedy
    * degenerates whenever eigenvalues sit below 1 (the normal case for
    * unit-norm embeddings, where the trace is <= 1) — the freshly-filled
    * group keeps the most-negative log total, so it greedily absorbs the
    * next directions too and the "allocation" collapses to contiguous
    * PCA-order grouping. Sums grow monotonically from 0, so the greedy
    * spreads the loud directions first and the grouping is invariant
    * under rescaling the data — the Faiss balanced-bins criterion. */
  private[graft] def allocateEigen(eigenvalues: Array[Double],
                                   m: Int): Array[Array[Int]] = {
    val d = eigenvalues.length
    require(m >= 1 && d % m == 0, s"allocateEigen: $d dims vs $m groups")
    val dsub = d / m
    val sums = Array.fill(m)(0.0)
    val groups = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    for (i <- 0 until d) {
      val j = (0 until m).filter(groups(_).length < dsub)
        .minBy(g => (sums(g), g))
      groups(j) += i
      sums(j) += math.max(eigenvalues(i), 0.0)
    }
    groups.map(_.toArray)
  }

  /** Apply a fitted OPQ rotation: one zero-shuffle
    * [[graft.functions.EigenProject]] pass (zero mean, unit scales) that
    * replaces `vecCol` with the rotated array<double>. Apply the SAME
    * rotation to corpus and probes — cosines are then bit-comparable to
    * the unrotated space. */
  def opqRotate(df: DataFrame, rotation: Array[Array[Double]],
                vecCol: String = "embedding"): DataFrame = {
    require(rotation.nonEmpty, "opqRotate needs a non-empty rotation")
    val d = rotation.head.length
    require(rotation.forall(_.length == d), "opqRotate: ragged rotation rows")
    df.withColumn(vecCol, graft.functions.GraftFunctions.eigen_project(
      col(vecCol), Seq.fill(d)(0.0), rotation.map(_.toSeq).toSeq,
      Seq.fill(rotation.length)(1.0)))
  }

  /** Fit product-quantization codebooks: split dims into `m` equal
    * subspaces and run L2 Lloyd iterations per subspace (seeds = the first
    * `ksub` rows by id; codes are the squared-L2 argmin, ties to the
    * smallest code). Returns a local (subspace, code, centroid) frame with
    * codes dense 0..k_j-1 per subspace (codes that lose every member drop
    * out and the rest renumber in order, so k_j may shrink below `ksub`).
    * Fit on the driver over [[hashSample]]'s `256·ksub` rows; `fitSample`
    * is an extra deterministic predicate (e.g. `pmod(xxhash64(col(id)),
    * 100) === 0`) applied before that cap — sample-fit codebooks stay
    * within the pinned quantization-MSE band (DedupSimilaritySpec). */
  def fitPqCodebooks(corpus: DataFrame, m: Int, ksub: Int, iterations: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     fitSample: Option[Column] = None): DataFrame = {
    require(m >= 1, s"fitPqCodebooks needs m >= 1 subspaces, got $m")
    require(ksub >= 1, s"fitPqCodebooks needs ksub >= 1 centroids, got $ksub")
    require(iterations >= 0, s"fitPqCodebooks iterations must be >= 0, got $iterations")
    val (seeds, rows) = hashSample(fitSample.fold(corpus)(corpus.where), ksub, idCol, vecCol)
    codebookFrame(corpus.sparkSession,
      pqFit(seeds.map(_.vec), byId(rows, ksub).map(_.vec), m, ksub, iterations))
  }

  /** The PQ Lloyd loop of [[fitPqCodebooks]]: the first `ksub` seeds,
    * then `iterations` passes over the sample `xs`. */
  private def pqFit(seeds: Array[Array[Double]], xs: Array[Array[Double]], m: Int, ksub: Int,
                    iterations: Int): Array[Array[Array[Double]]] = {
    require(seeds.nonEmpty, "fitPqCodebooks: corpus has no non-null vectors")
    val dims = seeds(0).length
    require(dims % m == 0,
      s"fitPqCodebooks: $dims dims not divisible into $m equal subspaces")
    val dsub = dims / m
    var books = Array.tabulate(m)(j => seeds.take(ksub).map(_.slice(j * dsub, (j + 1) * dsub)))
    for (_ <- 0 until iterations) {
      val sums = books.map(b => Array.ofDim[Double](b.length, dsub))
      val counts = books.map(b => new Array[Long](b.length))
      xs.foreach { x =>
        val codes = graft.functions.PqEncode.encode(x, books)
        for (j <- 0 until m; d <- 0 until dsub) sums(j)(codes(j))(d) += x(j * dsub + d)
        for (j <- 0 until m) counts(j)(codes(j)) += 1
      }
      books = Array.tabulate(m)(j => books(j).indices.filter(counts(j)(_) > 0)
        .map(c => sums(j)(c).map(_ / counts(j)(c))).toArray)
    }
    books
  }

  /** Codebooks as a local `(subspace, code, centroid)` frame. */
  private def codebookFrame(spark: org.apache.spark.sql.SparkSession,
                            books: Array[Array[Array[Double]]]): DataFrame = {
    val rows = for {
      (book, j) <- books.toSeq.zipWithIndex
      (cent, code) <- book.zipWithIndex
    } yield Row(j, code, cent.toSeq)
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("subspace", IntegerType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false))))
  }

  /** Driver-collect a (subspace, code, centroid) codebook frame into dense
    * per-subspace arrays, loudly rejecting gaps — a sparse code range would
    * silently mis-index [[graft.functions.PqCosine]]'s lookup table.
    * Package-visible: the streaming semantic rungs reuse it for their
    * PQ-codes-in-state mode. */
  private[graft] def collectPqCodebooks(codebooks: DataFrame): Array[Array[Array[Double]]] = {
    val rows = codebooks.select(col("subspace").cast("int"), col("code").cast("int"),
      col("centroid").cast("array<double>")).collect()
    require(rows.nonEmpty, "pq codebook frame is empty")
    val byJ = rows.groupBy(_.getInt(0))
    val m = byJ.keys.max + 1
    require(byJ.keySet == (0 until m).toSet,
      s"pq codebooks missing subspaces: ${((0 until m).toSet -- byJ.keySet).toSeq.sorted.mkString(", ")}")
    (0 until m).map { j =>
      val cs = byJ(j).sortBy(_.getInt(1))
      require(cs.map(_.getInt(1)).toSeq == cs.indices.toSeq,
        s"pq codebook subspace $j codes are not dense 0..${cs.length - 1}")
      cs.map(_.getSeq[Double](2).toArray).toArray
    }.toArray
  }

  /** PQ-encode the corpus: one narrow pass, vectors never shuffled; output
    * (idCol, codes array<int> of length m) — the compressed index a 100-TB
    * store persists instead of raw floats. */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val books = collectPqCodebooks(codebooks).map(_.map(_.toSeq).toSeq).toSeq
    corpus.select(col(idCol), graft.functions.GraftFunctions
      .pq_encode(col(vecCol), books).as("codes"))
  }

  /** Loud-on-null probe id: a null probe id or vector must FAIL the job,
    * not silently drop the probe (the contract the former driver-side LUT
    * build enforced with `require`). The guard rides inside the probe_id
    * projection itself so column pruning can never eliminate it. */
  private def guardedProbeId(idCol: String, vecCol: String, caller: String): Column =
    when(col(idCol).isNull || col(vecCol).isNull,
      raise_error(lit(s"$caller: probes must have non-null ids and vectors")))
      .otherwise(col(idCol).cast("long"))

  /** PQ top-k (ADC): per probe, build the dot/norm lookup table AS A
    * PER-ROW PROJECTION ([[graft.functions.PqLut]] with an empty cell
    * shift) and score every corpus CODE array with the fused
    * [[graft.functions.PqCosine]] kernel — the corpus's raw vectors are
    * never read, only the m-byte-per-row code index, and the probe set is
    * never collected to the driver: the only driver-bounded state is the
    * codebook fit riding inside the two kernels. Flat PQ scores EVERY
    * corpus code against every probe, so the probe side is broadcast by
    * construction (a corpus-sized probe set belongs on [[ivfPqTopK]]'s
    * cell-pruned join, not a flat scan). Same bounded-buffer top-k
    * reduction as [[bruteForceTopK]], so shuffle bytes are |probes| x k.
    * Probe ids are cast to long. Returns (probe_id, rank, neighbor_id,
    * cosine) with the ADC-approximate cosine.
    *
    * CONTRACT CHANGE (r21): an EMPTY probe set returns an empty result
    * frame (SQL semantics) instead of throwing — the former
    * `require(!probes.isEmpty)` cost one eager job over the probe source
    * per serve. Callers that relied on the loud guard to catch an
    * accidentally-empty probe source must check their source themselves.
    */
  def pqTopK(corpusCodes: DataFrame, codebooks: DataFrame, probes: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"pqTopK needs k >= 1, got $k")
    // empty probes → empty result, no eager emptiness job (see ivfPqTopK)
    val books = collectPqCodebooks(codebooks).map(_.map(_.toSeq).toSeq).toSeq
    val lutDf = probes.select(
      guardedProbeId(idCol, vecCol, "pqTopK").as("probe_id"),
      graft.functions.GraftFunctions
        .pq_lut(col(vecCol).cast("array<double>"), typedLit(Seq.empty[Double]), books)
        .as("_lut"))
    val scored = corpusCodes
      .select(col(idCol).cast("long").as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(lutDf))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cosine", graft.functions.GraftFunctions
        .pq_cosine(col("codes"), col("_lut")))
    topKPerProbe(scored, k)
  }

  /** Embedding near-duplicate pairs above a cosine threshold, within
    * id-window `maxGap` (bounded candidate generation for the oracle;
    * unbounded pairing at scale goes through [[ivfTopK]] cells instead).
    *
    * The range condition is rewritten as a bucketed EQUI-join: a bare
    * `id_b BETWEEN id_a+1 AND id_a+gap` join plans as a broadcast
    * nested-loop that evaluates the predicate on all |n|^2 pairs; bucketing
    * ids by `gap` and joining each left bucket to itself and its successor
    * makes candidates O(n * gap) and the join a plain shuffle-hash join. */
  def nearDupPairs(corpus: DataFrame, threshold: Double, maxGap: Long,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      floor(col(idCol) / maxGap).as("bk"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      explode(array(floor(col(idCol) / maxGap), floor(col(idCol) / maxGap) - 1)).as("bk"))
    a.join(b, "bk")
      .where(col("id_b") > col("id_a") && col("id_b") <= col("id_a") + maxGap)
      .withColumn("cosine", cosine_similarity(col("vec_a"), col("vec_b")))
      .where(col("cosine") > threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Margin-based bitext mining from two independent rankings — the core
    * of [[marginTranslationPairs]], factored so ANY retrieval tier's
    * `(probe_id, rank, neighbor_id, cosine)` frames plug in: brute for
    * oracle parity, [[ivfTopK]]/[[ivfPqTopK]] at corpus scale (same swap
    * q28 makes over q27). `fwd` ranks target candidates per SOURCE probe,
    * `bwd` ranks source candidates per TARGET probe. The ratio margin
    * (Artetxe & Schwenk 2019, §3.2; the CCMatrix/NLLB mining criterion)
    * normalizes each candidate cosine by the mean of the two directions'
    * top-k neighborhoods:
    * `margin(x, y) = cos(x, y) / ((avgF(x) + avgB(y)) / 2)` — a hubness
    * correction: a target that is "everyone's neighbor" has a high avgB
    * and stops winning on raw cosine alone. Pairs with a non-positive
    * denominator (pathological all-negative neighborhoods) are dropped —
    * the margin is undefined there. `mutualOnly` additionally requires
    * the pair to be BOTH directions' rank-1 (the max-margin mutual
    * variant). Margins round to 6 dp before the tau gate so the boundary
    * is engine-reproducible.
    *
    * Scale shape: both inputs are already |probes| x k; the averages are
    * probe-keyed aggregates of those, and the margin stage joins three
    * probe-sized tables — nothing here rescans or reshuffles the corpus. */
  def marginFromRankings(fwd: DataFrame, bwd: DataFrame, tau: Double,
                         mutualOnly: Boolean = false): DataFrame = {
    require(tau > 0, s"marginFromRankings needs tau > 0, got $tau")
    val aF = fwd.groupBy(col("probe_id").as("src_id")).agg(avg("cosine").as("_a_src"))
    val aB = bwd.groupBy(col("probe_id").as("tgt_id")).agg(avg("cosine").as("_a_tgt"))
    val cand = fwd.select(col("probe_id").as("src_id"),
      col("neighbor_id").as("tgt_id"), col("cosine"))
    val scored = cand.join(aF, "src_id").join(aB, "tgt_id")
      .where(col("_a_src") + col("_a_tgt") > 0)
      .withColumn("margin",
        round(col("cosine") / ((col("_a_src") + col("_a_tgt")) / 2), 6))
      .where(col("margin") >= tau)
      .select(col("src_id"), col("tgt_id"), col("cosine"), col("margin"))
    if (!mutualOnly) scored
    else {
      val f1 = fwd.where(col("rank") === 1)
        .select(col("probe_id").as("src_id"), col("neighbor_id").as("tgt_id"))
      val b1 = bwd.where(col("rank") === 1)
        .select(col("neighbor_id").as("src_id"), col("probe_id").as("tgt_id"))
      scored.join(f1, Seq("src_id", "tgt_id"), "left_semi")
        .join(b1, Seq("src_id", "tgt_id"), "left_semi")
    }
  }

  /** Margin-based bitext mining (CCMatrix / NLLB's global mining stage):
    * mine candidate translation pairs between a source-language and a
    * target-language embedding space by the ratio margin — see
    * [[marginFromRankings]] for the criterion and scale posture. This
    * entry point runs the two retrieval passes with [[bruteForceTopK]]
    * (the exact, oracle-parity tier; both directions' probe sets
    * broadcast). The two sides' id spaces must be disjoint (standard for
    * two corpora; [[bruteForceTopK]]'s self-exclusion is a no-op then).
    * Output: (src_id, tgt_id, cosine, margin) for every source's top-k
    * candidate clearing `tau`. */
  def marginTranslationPairs(src: DataFrame, tgt: DataFrame, k: Int, tau: Double,
                             idCol: String = "vec_id", vecCol: String = "embedding",
                             mutualOnly: Boolean = false): DataFrame = {
    require(k >= 1, s"marginTranslationPairs needs k >= 1, got $k")
    marginFromRankings(
      bruteForceTopK(tgt, src, k, idCol, vecCol),
      bruteForceTopK(src, tgt, k, idCol, vecCol),
      tau, mutualOnly)
  }

  /** Hard-negative mining for contrastive training (the DPR/Contriever
    * recipe): for every probe, the top-`k` most-similar corpus vectors
    * whose LABEL DIFFERS from the probe's — the negatives that actually
    * move a contrastive loss (random negatives are trivially separable;
    * the hardest wrong-class neighbors carry the gradient). Brute-force
    * candidate stream (the oracle-parity tier, [[bruteForceTopK]]'s
    * shape); at corpus scale swap in [[ivfTopK]]'s probed-cell candidates
    * exactly as q28 does over q27. Null-label rows never qualify as
    * negatives (the `=!=` filter drops them).
    * Output: (probe_id, rank, neighbor_id, cosine, neighbor_label).
    *
    * Scale shape: probes broadcast; one corpus scan scores candidates
    * through the fused-pass cosine kernel, top-k rides the bounded-buffer
    * [[graft.functions.TopKByScore]] aggregate, and the label rides back
    * on a |probes|·k-row join — never on the scored stream. */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"),
      col(vecCol).as("probe_vec"), col(labelCol).as("_pl"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cand_vec"), col(labelCol).as("_cl"))
    val scored = c.crossJoin(broadcast(p))
      .where(col("neighbor_id") =!= col("probe_id") &&
        col("_cl") =!= col("_pl"))
      .withColumn("cosine", cosine_similarity(col("probe_vec"), col("cand_vec")))
    topKPerProbe(scored, k)
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("neighbor_label")), Seq("neighbor_id"))
      .select("probe_id", "rank", "neighbor_id", "cosine", "neighbor_label")
  }

  /** k-NN label-noise detection (confident-learning-style dataset QA):
    * for every vector, the fraction of its `k` nearest CELL-LOCAL
    * neighbors whose label disagrees; `suspect` flags majority
    * disagreement — the classic mislabeled-example signal run before a
    * labeled set trains anything. Neighbors come from the vector's IVF
    * cell ([[assignCells]]' max-cosine assignment), so the scan is
    * cell-bounded, NEVER the all-pairs exact k-NN (which is O(n²) and
    * dead at corpus scale); a vector with fewer than `k` cell-mates
    * grades over the neighbors it has.
    * Output: (probe_id, probe_label, n_neighbors, n_disagree,
    * disagree_frac, suspect).
    *
    * Scale shape: assignment is one broadcast-centroid narrow projection;
    * the candidate stream is a cell-keyed SELF-join (both sides shuffle
    * on cell_id — nothing corpus-sized broadcasts, unlike the probe-side
    * broadcast of [[ivfTopK]], because here every vector IS a probe);
    * top-k rides a probe-keyed window over narrow rows; the verdict is
    * one probe-keyed aggregate. */
  def knnLabelNoise(vectors: DataFrame, centroids: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"knnLabelNoise needs k >= 1, got $k")
    val (ids, vecs) = collectCentroids(centroids, idCol, vecCol, "knnLabelNoise")
    val asg = vectors.select(col(idCol), col(vecCol), col(labelCol),
      graft.functions.GraftFunctions
        .nearest_centroid(col(vecCol), ids, vecs).as("cell_id"))
    val a = asg.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"),
      col(labelCol).as("probe_label"), col("cell_id"))
    val b = asg.select(col(idCol).as("neighbor_id"), col(vecCol).as("cand_vec"),
      col(labelCol).as("_nl"), col("cell_id"))
    val scored = a.join(b, Seq("cell_id"))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cosine", cosine_similarity(col("probe_vec"), col("cand_vec")))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k)
      .groupBy(col("probe_id"), col("probe_label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("_nl") =!= col("probe_label"), 1L).otherwise(0L))
          .as("n_disagree"))
      .withColumn("disagree_frac",
        round(col("n_disagree").cast("double") / col("n_neighbors"), 6))
      .withColumn("suspect", col("disagree_frac") > 0.5)
  }

  /** Embedding-table ingest audit — the QA gate before any ANN tier
    * touches a vector batch: per `groupCol`, the defect counts that
    * silently corrupt similarity search downstream — zero vectors
    * (cosine undefined: they match NOTHING and anything, depending on
    * the kernel's guard) and NaN elements (poison every distance they
    * touch) — plus the norm distribution of the healthy rows (a norm
    * collapse is the classic sign of an embedding-service regression).
    * Output: (group, n_vecs, n_zero, n_nan, mean_norm, min_norm,
    * max_norm) — norms over non-NaN vectors, 6-dp rounded.
    *
    * Scale shape: one zero-shuffle projection (norm² is a sequential
    * fold over the vector — the same element order the oracle's
    * list_dot_product walks) + one group-keyed aggregate. */
  def embeddingAudit(vecs: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     groupCol: String = "label"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val norm2 = aggregate(v, lit(0.0), (acc, x) => acc + x * x)
    val hasNan = exists(v, x => isnan(x))
    vecs.select(col(groupCol).as("grp"), norm2.as("_n2"), hasNan.as("_nan"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(!col("_nan") && col("_n2") === 0.0, 1L).otherwise(0L))
          .as("n_zero"),
        sum(when(col("_nan"), 1L).otherwise(0L)).as("n_nan"),
        round(avg(when(!col("_nan"), sqrt(col("_n2")))), 6).as("mean_norm"),
        round(min(when(!col("_nan"), sqrt(col("_n2")))), 6).as("min_norm"),
        round(max(when(!col("_nan"), sqrt(col("_n2")))), 6).as("max_norm"))
  }

  /** Matryoshka truncation recall (MRL, Kusupati et al. 2022): how much
    * of the FULL-dimension top-k survives when the index stores only the
    * first `dims` dimensions (renormalization is free under cosine — it
    * scales both sides). Per probe: the overlap between full-width and
    * truncated top-k, and `recall = overlap / k` — THE diagnostic that
    * decides whether a dims/D-sized index is acceptable before anyone
    * re-embeds a corpus. Output: (probe_id, n_overlap, recall).
    *
    * Scale shape: two [[bruteForceTopK]] passes (probes broadcast, one
    * corpus scan each — the oracle-parity tier; swap [[ivfTopK]]
    * candidates at corpus scale), then a |probes|·k-row semi join. */
  def truncatedRecall(corpus: DataFrame, probes: DataFrame, k: Int, dims: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    def trunc(df: DataFrame) =
      df.withColumn(vecCol, slice(col(vecCol), 1, dims))
    rankingRecall(
      bruteForceTopK(corpus, probes, k, idCol, vecCol),
      bruteForceTopK(trunc(corpus), trunc(probes), k, idCol, vecCol), k)
  }

  /** Recall@k of one ranking against another: per probe, the overlap
    * between `truth`'s and `approx`'s top-k neighbor sets (both inputs
    * are `(probe_id, neighbor_id, rank)` frames — any of the ANN tiers
    * here). This is the contract metric behind every approximate tier:
    * [[ivfTopK]]/[[pqTopK]] trade exactly this number for their scan
    * and index savings, and making it a QUERY (not just a spec assert)
    * means the trade is measured on the real corpus every run.
    * Output: (probe_id, n_overlap, recall).
    *
    * Scale shape: both inputs are |probes|·k rows — the corpus work
    * happened upstream; this is one semi join + a probe-keyed count. */
  def rankingRecall(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tt = truth.where(col("rank") <= k).select("probe_id", "neighbor_id")
    val aa = approx.where(col("rank") <= k).select("probe_id", "neighbor_id")
    val overlap = tt.join(aa, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy("probe_id").agg(count(lit(1)).as("n_overlap"))
    tt.select("probe_id").distinct()
      .join(overlap, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall",
        round(col("n_overlap").cast("double") / k, 6))
  }

  /** NDCG@k of an approximate ranking against an exact one — the
    * position-weighted companion of [[rankingRecall]]: recall treats a
    * truth neighbor surfaced at rank 1 and rank k identically; NDCG
    * discounts each hit by `1/log2(position + 1)`, so an index that
    * BURIES true neighbors under false candidates (PQ distortion's
    * signature failure) scores below one that surfaces them first, even
    * at identical recall. Binary gains
    * (a surfaced candidate is a hit iff it is in the truth top-k); the
    * ideal DCG places all k truth neighbors at the head, so
    * `ndcg = Σ_hits 1/log2(pos+1) / Σ_{p=1..k} 1/log2(p+1)`, rounded to
    * 6 dp. Output: (probe_id, dcg, ndcg), one row per truth probe —
    * probes the approx arm missed entirely score 0.
    *
    * Scale shape: one (probe, neighbor)-keyed join of two |probes|·k-row
    * rankings + a probe-keyed aggregate; corpus work already happened. */
  def ndcgAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val idcg = (1 to k).map(p => 1.0 / (math.log(p + 1.0) / math.log(2.0))).sum
    val tt = truth.where(col("rank") <= k).select("probe_id", "neighbor_id")
    val aa = approx.where(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
    val hits = aa.join(tt, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy("probe_id")
      .agg(sum(lit(1.0) / (log(col("rank") + 1.0) / math.log(2.0))).as("_dcg"))
    tt.select("probe_id").distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        round(coalesce(col("_dcg"), lit(0.0)), 6).as("dcg"),
        round(coalesce(col("_dcg"), lit(0.0)) / idcg, 6).as("ndcg"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009 — the default zero-
    * tuning ensemble for heterogeneous retrievers): fuse two rankings
    * `(probe_id, neighbor_id, rank)` by
    * `score = Σ 1 / (kConst + rank)`, a candidate absent from one arm
    * contributing 0 from it. RRF needs no score calibration between
    * arms — only ranks — which is why it is the standard way to combine
    * e.g. a full-precision ANN arm with a cheap truncated/PQ arm, or
    * dense with lexical. Output: top-`k` fused —
    * (probe_id, rank, neighbor_id, rrf_score).
    *
    * Scale shape: one (probe, neighbor)-keyed full-outer join of two
    * |probes|·k-row rankings + a probe-keyed top-k window — all arms'
    * corpus work already happened upstream. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int,
              kConst: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kConst >= 0, s"kConst must be >= 0, got $kConst")
    def arm(r: DataFrame, out: String) = r.select(col("probe_id"),
      col("neighbor_id"), (lit(1.0) / (lit(kConst) + col("rank"))).as(out))
    val fused = arm(a, "_sa")
      .join(arm(b, "_sb"), Seq("probe_id", "neighbor_id"), "full_outer")
      .withColumn("rrf",
        coalesce(col("_sa"), lit(0.0)) + coalesce(col("_sb"), lit(0.0)))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("rrf").desc, col("neighbor_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        round(col("rrf"), 6).as("rrf_score"))
  }

  /** Centroid-based (simplified) silhouette — the O(n·k) production form
    * of the O(n²) silhouette coefficient, the standard did-the-clustering-
    * work diagnostic for the Lloyd/IVF family here: per vector,
    * `a` = cosine distance (1 − cos) to its NEAREST centroid,
    * `b` = to the second-nearest, `s = (b − a) / max(a, b)` (0 when both
    * distances are 0); report per-cell counts and mean silhouette.
    * s near 1 = tight, well-separated cells; near 0 = boundary vectors;
    * the full pairwise silhouette needs every inter-point distance and
    * dies at corpus scale — centroid form is what Spark ML and FAISS
    * diagnostics compute.
    *
    * Scale shape: centroids broadcast (k rows); the scan is one
    * crossJoin + fused-pass [[graft.functions.CosineSimilarity]] per
    * (vector, centroid) — O(n·k) map work; the per-vector top-2 rides a
    * vector-id window (narrow rows: id, cell, distance) and the rollup is
    * one cell-keyed aggregate. Requires >= 2 centroids. */
  def centroidSilhouette(corpus: DataFrame, centroids: DataFrame,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    require(centroids.limit(2).count() == 2,
      "centroidSilhouette needs at least 2 centroids")
    val c = broadcast(centroids
      .select(col(idCol).cast("long").as("cell_id"), col(vecCol).as("_cv")))
    val scored = corpus.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
      .crossJoin(c)
      .select(col("_vid"), col("cell_id"),
        (lit(1.0) - cosine_similarity(col("_v"), col("_cv"))).as("_d"))
    val w = Window.partitionBy("_vid").orderBy(col("_d").asc, col("cell_id").asc)
    val ab = scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= 2)
      .groupBy("_vid")
      .agg(max(when(col("_rn") === 1, col("cell_id"))).as("cell_id"),
        max(when(col("_rn") === 1, col("_d"))).as("_a"),
        max(when(col("_rn") === 2, col("_d"))).as("_b"))
    ab.withColumn("_s",
        when(greatest(col("_a"), col("_b")) > 0,
          (col("_b") - col("_a")) / greatest(col("_a"), col("_b")))
          .otherwise(lit(0.0)))
      .groupBy("cell_id")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg("_s"), 6).as("mean_silhouette"),
        round(min("_s"), 6).as("min_silhouette"))
  }
}
