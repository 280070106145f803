package graft
package catalog

import SparkEntry._
import graft.meta.Tables
import graft.operators._
import org.apache.spark.sql.functions._

/** Spectral fits over embeddings: covariance, PCA, whitening, Mahalanobis
  * and ridge probes, with their hash-matched block and diagonal twins. */
private[graft] object DecompQueries {
  val entries: Seq[Q] = Seq(

    // Second-moment fit over the embedding column via the native
    // matrix_gram kernel (ONE corpus pass, d(d+3)/2-double task buffers,
    // O(d^2) bytes to the driver) — surfaced as the upper-left 4x4 of
    // (mean, population covariance) so the kernel arithmetic is pinned
    // against DuckDB's covar_pop. The |cells|-row localization pattern:
    // the result frame is 10 fit rows, never corpus data.
    Q("q183_embedding_gram", (s, dir) => {
      import s.implicits._
      val (n, mean, cov) = Decomp.fitMeanCov(Tables.embeddings(s, dir), "embedding")
      // + 0.0 normalizes -0.0 (a tiny-negative mean would otherwise hash
      // differently from DuckDB's 0.0 in the binary compare — q186's guard)
      (for (i <- 0 to 3; j <- i to 3) yield
        (i, j, n, math.rint(mean(i) * 1e6) / 1e6 + 0.0,
          math.rint(cov(i)(j) * 1e6) / 1e6 + 0.0))
        .toDF("i", "j", "n", "mean_i", "cov_ij")
        .orderBy("i", "j")
    }, Oracle(
      // covar_pop over list elements pins the matrix_gram kernel's
      // sum/sum-of-products arithmetic (population convention both sides;
      // 1-based list indexing in DuckDB)
      (for (i <- 0 to 3; j <- i to 3) yield
        s"""SELECT $i AS i, $j AS j, count(embedding) AS n,
           |round(avg(CAST(embedding[${i + 1}] AS DOUBLE)), 6) AS mean_i,
           |round(covar_pop(CAST(embedding[${i + 1}] AS DOUBLE),
           |                CAST(embedding[${j + 1}] AS DOUBLE)), 6) AS cov_ij
           |FROM embeddings""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY i, j"))),

    // PCA spectrum of the embedding space (fit = q183's one pass +
    // driver-side cyclic Jacobi on the 64x64 covariance): eigenvalues,
    // variance ratios, and each component's dominant dimension — the
    // "is this encoder collapsed?" audit (a healthy space spreads
    // variance; 2-3 dominant eigenvalues = representation collapse).
    // Eigen output has no SQL form -> rows-only; DecompSpec pins the
    // decomposition (orthonormality, reconstruction, trace) and
    // determinism (fixed sweep order, sign-normalized components).
    Q("q184_pca_spectrum", (s, dir) => {
      import s.implicits._
      val model = Decomp.fitPca(Tables.embeddings(s, dir), "embedding")
      val vr = model.varianceRatio
      (0 until 8).map { c =>
        val comp = model.components(c)
        val topDim = comp.indices.maxBy(k => (math.abs(comp(k)), -k))
        (c + 1, math.rint(model.eigenvalues(c) * 1e6) / 1e6,
          math.rint(vr(c) * 1e6) / 1e6, topDim,
          math.rint(comp(topDim) * 1e6) / 1e6)
      }.toDF("component", "eigenvalue", "var_ratio", "top_dim", "top_loading")
        .orderBy("component")
    }, RowsOnly.Spectral),

    // Mahalanobis outlier triage: squared distance through the fitted
    // eigenbasis (ridge-floored), top-20 — the distribution-aware rank
    // that q165's norm audit cannot produce (far-along-a-TIGHT-direction
    // scores high even at small L2 norm; DecompSpec plants exactly that
    // point and this ranking finds it). Fit is driver-side state from
    // ONE corpus pass; the score pass is a codegen'd nested
    // higher-order expression, zero shuffle, zero UDF. Rows-only (the
    // eigenbasis has no SQL form).
    Q("q185_mahalanobis", (s, dir) => {
      Decomp.mahalanobis(Tables.embeddings(s, dir),
          "embedding", Decomp.fitPca(Tables.embeddings(s, dir), "embedding"))
        .select(col("vec_id"), round(col("maha2"), 4).as("maha2"))
        .orderBy(desc("maha2"), col("vec_id")).limit(20)
    }, RowsOnly.Spectral),

    // Whitening, self-certified by composition: whiten the embeddings
    // through the fitted basis (EigenProject kernel), then run the SAME
    // matrix_gram kernel over the whitened output — the 4x4 corner of
    // the whitened covariance must be the identity (diag 1, off-diag 0
    // at 4 dp) and the whitened mean must be 0. One query exercises both
    // new kernels back to back and certifies the algebra end to end.
    // Rows-only (the whitening basis has no SQL form).
    Q("q186_whiten_gram", (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val model = Decomp.fitPca(emb, "embedding")
      val (n, wMean, wCov) =
        Decomp.fitMeanCov(Decomp.whiten(emb, "embedding", model, model.d),
          "embedding_w")
      (for (i <- 0 to 3; j <- i to 3) yield
        (i, j, n, math.rint(wMean(i) * 1e4) / 1e4 + 0.0,
          math.rint(wCov(i)(j) * 1e4) / 1e4 + 0.0))
        .toDF("i", "j", "n", "w_mean_i", "w_cov_ij")
        .orderBy("i", "j")
    }, RowsOnly.Spectral),

    // Multiclass linear probe (one-vs-rest ridge, λ=1e-3): the
    // quality-classifier fit of a curation pipeline, done in ONE Gram
    // pass over [embedding ; onehot(label)] (Decomp.fitRidgeProbes) and
    // scored through the fused EigenProject kernel. Self-certified by a
    // SECOND Gram pass over [embedding ; residuals]: the ridge normal
    // equations force Cov(x_j, y_c − ŷ_c) = λ·β_cj exactly, so grad_max
    // (the largest |Cov(x, r_c) − λβ_c| over dims) must print 0 at 4 dp
    // for every class — the optimality certificate, computed
    // distributedly. Per-class accuracy here is TRAIN accuracy (the
    // confusion diagonal, chance = 1/k) — q188's out-of-fold twin shows
    // this corpus's ~4x lift is pure memorization (OOF ≈ chance), which
    // is exactly why a pipeline runs BOTH: q187 certifies the fit,
    // q188 audits whether it generalizes.
    // Rows-only (the spectral solve has no SQL form); DecompSpec pins
    // the algebra on closed-form cases.
    Q("q187_linear_probe", (s, dir) => {
      import s.implicits._
      val lambda = 1e-3
      val emb = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
      val k = emb.agg(max("label")).head.getInt(0) + 1 // scalar agg (A5 class)
      val oneHot = (0 until k).map(c => when(col("label") === c, 1.0).otherwise(0.0))
      val model = Decomp.fitRidgeProbes(emb, "embedding", oneHot, lambda)
      val scored = Decomp.probeScores(emb, "embedding", model)
        .withColumn("pred",
          expr("array_position(probe_scores, array_max(probe_scores))") - 1)
      val resid = scored.withColumn("_r",
        zip_with(array(oneHot: _*), col("probe_scores"), (y, sc) => y - sc))
      val (_, _, jcov) = Decomp.fitMeanCov(
        resid.select(concat(col("embedding").cast("array<double>"), col("_r"))
          .as("_xr")), "_xr")
      val d = model.d
      val gradMax = (0 until k).map(c =>
        (0 until d).map(j =>
          math.abs(jcov(j)(d + c) - lambda * model.weights(c)(j))).max)
      val fitDf = (0 until k).map(c =>
        (c, math.rint(model.r2(c) * 1e4) / 1e4 + 0.0,
          math.rint(gradMax(c) * 1e4) / 1e4 + 0.0))
        .toDF("class", "r2", "grad_max")
      scored.groupBy(col("label").cast("int").as("class"))
        .agg(count(lit(1)).as("n_class"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("correct"))
        .join(broadcast(fitDf), "class")
        .select(col("class"), col("n_class"), col("correct"),
          round(col("correct") / col("n_class"), 4).as("acc"),
          col("r2"), col("grad_max"))
        .orderBy("class")
    }, RowsOnly.Spectral),

    // One-pass k-fold cross-validated probe (q187's honest twin): fold
    // Grams are ADDITIVE, so all five leave-fold-out models come from a
    // single groupBy(fold).agg(matrix_gram) pass — full 5-fold CV costs
    // ONE fit pass + ONE scoring pass where the naive protocol pays 5
    // fit scans. Every row is scored by the model that NEVER saw its
    // fold (all folds' weights fused into one EigenProject call, the
    // row's fold sliced out), so per-fold accuracy here is the
    // OUT-OF-FOLD generalization estimate — the probe-overfitting audit
    // a curation pipeline runs before trusting probe-based filtering
    // (in-fold-only separation means the probe memorizes, not
    // measures). Rows-only (spectral solve); DecompSpec pins fold
    // additivity exactly and the overfit-detection contract.
    Q("q188_probe_cv", (s, dir) => {
      import s.implicits._
      val nFolds = 5
      val emb = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
      val k = emb.agg(max("label")).head.getInt(0) + 1 // scalar agg (A5 class)
      val oneHot = (0 until k).map(c => when(col("label") === c, 1.0).otherwise(0.0))
      val fold = pmod(col("vec_id"), lit(nFolds))
      val models = Decomp.fitRidgeProbesPerFold(emb, "embedding", oneHot,
        fold, nFolds, lambda = 1e-3)
      val scored = Decomp.probeScoresByFold(emb, "embedding", fold, models)
        .withColumn("pred",
          expr("array_position(probe_scores, array_max(probe_scores))") - 1)
      val r2Df = models.zipWithIndex.map { case (m, f) =>
        (f, m.n, math.rint(m.r2.sum / m.r2.length * 1e4) / 1e4 + 0.0)
      }.toSeq.toDF("fold", "n_fit", "mean_r2")
      scored.groupBy(fold.cast("int").as("fold"))
        .agg(count(lit(1)).as("n_oof"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("correct"))
        .join(broadcast(r2Df), "fold")
        .select(col("fold"), col("n_oof"), col("n_fit"), col("correct"),
          round(col("correct") / col("n_oof"), 4).as("oof_acc"), col("mean_r2"))
        .orderBy("fold")
    }, RowsOnly.Spectral),

    // q184's exact twin (the q198 degenerate-case trick, for SPECTRA): a
    // 256-row factorial fixture whose 4-dim covariance is EXACTLY
    // 2x2-block-diagonal with dyadic-rational entries (n = 2^8, integer
    // Gram sums — both engines compute the covariance bit-identically),
    // so the eigendecomposition reduces to the closed 2x2 quadratic the
    // oracle evaluates in SQL. The full fitMeanCov -> Jacobi -> ranking
    // -> sign-normalization chain gets a hash oracle; the general-d
    // decomposition invariants stay pinned in DecompSpec.
    Q("q203_pca_block_twin", (s, dir) => {
      import s.implicits._
      val model = Decomp.fitPca(blockSpectrumFixture(s), "embedding")
      val vr = model.varianceRatio
      (0 until 4).map { c =>
        val comp = model.components(c)
        val topDim = comp.indices.maxBy(k => (math.abs(comp(k)), -k))
        (c + 1, math.rint(model.eigenvalues(c) * 1e6) / 1e6,
          math.rint(vr(c) * 1e6) / 1e6, topDim,
          math.rint(comp(topDim) * 1e6) / 1e6)
      }.toDF("component", "eigenvalue", "var_ratio", "top_dim", "top_loading")
        .orderBy("component")
    }, Oracle(
      // The 2x2-block covariance is computed with the engine's exact
      // sum/sum-of-products formula (integer sums, dyadic divisions — bit-
      // identical to the MatrixGram fit), then the eigendecomposition is
      // the closed 2x2 quadratic: lambda = ((a+c) +- sqrt((a-c)^2+4b^2))/2
      // with eigenvector (b, lambda - a) per block; rows rank by eigenvalue
      // descending and the sign convention (largest-|coordinate| entry
      // positive, ties to the lower index) matches jacobiEigen verbatim.
      """WITH t AS (SELECT range AS id FROM range(0, 256)),
        |v AS (SELECT CAST(id % 4 AS DOUBLE) AS x0,
        |  CAST((id % 4) * (id % 4) AS DOUBLE) AS x1,
        |  CAST((id // 4) % 8 AS DOUBLE) AS x2,
        |  CAST((((id // 4) % 8) * ((id // 4) % 8)) % 8 AS DOUBLE) AS x3 FROM t),
        |m AS (SELECT
        |  sum(x0*x0)/256 - (sum(x0)/256)*(sum(x0)/256) AS a1,
        |  sum(x0*x1)/256 - (sum(x0)/256)*(sum(x1)/256) AS b1,
        |  sum(x1*x1)/256 - (sum(x1)/256)*(sum(x1)/256) AS c1,
        |  sum(x2*x2)/256 - (sum(x2)/256)*(sum(x2)/256) AS a2,
        |  sum(x2*x3)/256 - (sum(x2)/256)*(sum(x3)/256) AS b2,
        |  sum(x3*x3)/256 - (sum(x3)/256)*(sum(x3)/256) AS c2 FROM v),
        |e AS (
        |  SELECT (a1+c1+sqrt((a1-c1)*(a1-c1)+4*b1*b1))/2 AS lam, a1 AS a, b1 AS b,
        |    0 AS off, a1+c1+a2+c2 AS tr FROM m
        |  UNION ALL
        |  SELECT (a1+c1-sqrt((a1-c1)*(a1-c1)+4*b1*b1))/2, a1, b1, 0, a1+c1+a2+c2 FROM m
        |  UNION ALL
        |  SELECT (a2+c2+sqrt((a2-c2)*(a2-c2)+4*b2*b2))/2, a2, b2, 2, a1+c1+a2+c2 FROM m
        |  UNION ALL
        |  SELECT (a2+c2-sqrt((a2-c2)*(a2-c2)+4*b2*b2))/2, a2, b2, 2, a1+c1+a2+c2 FROM m),
        |w AS (SELECT lam, tr, off, b AS vx, lam - a AS vy FROM e)
        |SELECT CAST(row_number() OVER (ORDER BY lam DESC) AS INTEGER) AS component,
        |  round(lam, 6) AS eigenvalue, round(lam / tr, 6) AS var_ratio,
        |  CAST(CASE WHEN abs(vx) >= abs(vy) THEN off ELSE off + 1 END AS INTEGER) AS top_dim,
        |  round((CASE WHEN abs(vx) >= abs(vy) THEN abs(vx) ELSE abs(vy) END)
        |    / sqrt(vx*vx + vy*vy), 6) AS top_loading
        |FROM w ORDER BY component""".stripMargin)),

    // q186's exact twin on the same fixture: whitening through the
    // fitted basis must return the identity covariance and zero mean —
    // provable algebra on a full-rank fit, so the oracle is the closed
    // identity. Hash-matching it pins the whiten kernel's output frame
    // (column names, rounding, -0.0 normalization) end to end.
    Q("q204_whiten_block_twin", (s, dir) => {
      import s.implicits._
      val fix = blockSpectrumFixture(s)
      val model = Decomp.fitPca(fix, "embedding")
      val (n, wMean, wCov) = Decomp.fitMeanCov(
        Decomp.whiten(fix, "embedding", model, model.d), "embedding_w")
      (for (i <- 0 to 3; j <- i to 3) yield
        (i, j, n, math.rint(wMean(i) * 1e4) / 1e4 + 0.0,
          math.rint(wCov(i)(j) * 1e4) / 1e4 + 0.0))
        .toDF("i", "j", "n", "w_mean_i", "w_cov_ij")
        .orderBy("i", "j")
    }, Oracle(
      // Full-rank whitening returns the identity covariance and zero mean
      // by algebra — the oracle IS that closed form; the hash pins the
      // output frame (names, 4-dp rounding, -0.0 normalization, n).
      """SELECT CAST(i.range AS INTEGER) AS i, CAST(j.range AS INTEGER) AS j,
        |  CAST(256 AS BIGINT) AS n, 0.0 AS w_mean_i,
        |  CASE WHEN i.range = j.range THEN 1.0 ELSE 0.0 END AS w_cov_ij
        |FROM range(0, 4) i, range(0, 4) j WHERE i.range <= j.range
        |ORDER BY i, j""".stripMargin)),

    // q185's exact twin (the q203/q204 trick extended): on
    // [[diagSpectrumFixture]] the covariance is EXACTLY diagonal with
    // distinct dyadic eigenvalues (1.25 * 4^j), so Jacobi performs ZERO
    // rotations (every off-diagonal entry is an exact 0.0), the
    // eigenbasis is the identity, and Mahalanobis reduces to the weighted
    // Euclidean form DuckDB states directly: sum_j (x_j - mu_j)^2 / var_j.
    // The full fitMeanCov -> Jacobi -> MahalanobisScore kernel chain gets
    // a cross-engine hash gate; the general-position behavior stays
    // pinned in DecompSpec.
    Q("q211_maha_diag_twin", (s, dir) => {
      val fix = diagSpectrumFixture(s)
      Decomp.mahalanobis(fix, "embedding", Decomp.fitPca(fix, "embedding"))
        .select(col("vec_id"), round(col("maha2"), 4).as("maha2"))
        .orderBy("vec_id")
    }, Oracle(
      // Diagonal covariance => Mahalanobis is the weighted Euclidean closed
      // form. Mirrors the Spark arithmetic op for op: raw integer moment
      // sums, /256 (exact), v = p - m*m, reciprocal-multiply (the kernel
      // precomputes 1/lambda), and the eigen-DESC accumulation order
      // (dims 3,2,1,0).
      """WITH f AS (SELECT range AS id,
        |    CAST(range % 4 AS DOUBLE) AS x0,
        |    CAST(((range // 4) % 4) * 2 AS DOUBLE) AS x1,
        |    CAST(((range // 16) % 4) * 4 AS DOUBLE) AS x2,
        |    CAST(((range // 64) % 4) * 8 AS DOUBLE) AS x3
        |  FROM range(0, 256)),
        |v AS (SELECT
        |    sum(x0)/256.0 AS m0, sum(x1)/256.0 AS m1,
        |    sum(x2)/256.0 AS m2, sum(x3)/256.0 AS m3,
        |    sum(x0*x0)/256.0 - (sum(x0)/256.0)*(sum(x0)/256.0) AS v0,
        |    sum(x1*x1)/256.0 - (sum(x1)/256.0)*(sum(x1)/256.0) AS v1,
        |    sum(x2*x2)/256.0 - (sum(x2)/256.0)*(sum(x2)/256.0) AS v2,
        |    sum(x3*x3)/256.0 - (sum(x3)/256.0)*(sum(x3)/256.0) AS v3
        |  FROM f)
        |SELECT f.id AS vec_id,
        |  round(((((x3-m3)*(x3-m3))*(1.0/v3) + ((x2-m2)*(x2-m2))*(1.0/v2))
        |    + ((x1-m1)*(x1-m1))*(1.0/v1)) + ((x0-m0)*(x0-m0))*(1.0/v0), 4) AS maha2
        |FROM f, v ORDER BY vec_id""".stripMargin)),

    // q187's exact twin: ridge on a diagonal-covariance design has the
    // scalar closed form beta_cj = cov(x_j, y_c) / (var_j + lambda) per
    // coefficient, and r2 follows from the same moments — the oracle
    // mirrors solveRidge's arithmetic OPERATION BY OPERATION (raw integer
    // moment sums, /256 which is exact, the same accumulation order for
    // the bb / btb quadratic forms), so the pre-rounding doubles are
    // bit-identical, not merely close. Labels = least(f0, f1) put signal
    // on two dims with different eigenvalues; the no-signal dims pin the
    // exact-zero path (cov 0.0 -> beta 0.0, no ridge leakage).
    Q("q212_ridge_diag_twin", (s, dir) => {
      import s.implicits._
      val emb = diagSpectrumFixture(s)
      val cls = least(col("vec_id") % 4, expr("(vec_id DIV 4) % 4"))
      val oneHot = (0 until 4).map(c => when(cls === c, 1.0).otherwise(0.0))
      val model = Decomp.fitRidgeProbes(emb, "embedding", oneHot, lambda = 1e-3)
      (for (c <- 0 until 4; j <- 0 until 4) yield
        (c, j, math.rint(model.weights(c)(j) * 1e6) / 1e6 + 0.0,
          math.rint(model.r2(c) * 1e6) / 1e6 + 0.0))
        .toDF("class", "dim", "beta", "r2")
        .orderBy("class", "dim")
    }, Oracle(
      // Ridge on the diagonal design: beta_cj = cov_j / (var_j + 1e-3),
      // r2 from the same moments with solveRidge's exact accumulation
      // order for bb (sum beta_j*cov_j ascending) and btb
      // (sum beta_j*(var_j*beta_j) ascending) — pre-rounding doubles are
      // bit-identical to the Spark model's.
      """WITH f AS (SELECT range AS id,
        |    CAST(range % 4 AS DOUBLE) AS x0,
        |    CAST(((range // 4) % 4) * 2 AS DOUBLE) AS x1,
        |    CAST(((range // 16) % 4) * 4 AS DOUBLE) AS x2,
        |    CAST(((range // 64) % 4) * 8 AS DOUBLE) AS x3,
        |    least(range % 4, (range // 4) % 4) AS cls
        |  FROM range(0, 256)),
        |xv AS (SELECT
        |    sum(x0)/256.0 AS m0, sum(x1)/256.0 AS m1,
        |    sum(x2)/256.0 AS m2, sum(x3)/256.0 AS m3,
        |    sum(x0*x0)/256.0 - (sum(x0)/256.0)*(sum(x0)/256.0) AS v0,
        |    sum(x1*x1)/256.0 - (sum(x1)/256.0)*(sum(x1)/256.0) AS v1,
        |    sum(x2*x2)/256.0 - (sum(x2)/256.0)*(sum(x2)/256.0) AS v2,
        |    sum(x3*x3)/256.0 - (sum(x3)/256.0)*(sum(x3)/256.0) AS v3
        |  FROM f),
        |ym AS (SELECT c.range AS class,
        |    sum(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END)/256.0 AS my,
        |    sum(x0*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/256.0 AS s0,
        |    sum(x1*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/256.0 AS s1,
        |    sum(x2*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/256.0 AS s2,
        |    sum(x3*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/256.0 AS s3
        |  FROM f, range(0, 4) c GROUP BY c.range),
        |bet AS (SELECT class,
        |    (s0 - m0*my) AS c0, (s1 - m1*my) AS c1,
        |    (s2 - m2*my) AS c2, (s3 - m3*my) AS c3,
        |    (s0 - m0*my) / (v0 + 0.001) AS b0,
        |    (s1 - m1*my) / (v1 + 0.001) AS b1,
        |    (s2 - m2*my) / (v2 + 0.001) AS b2,
        |    (s3 - m3*my) / (v3 + 0.001) AS b3,
        |    (my - my*my) AS vy, v0, v1, v2, v3
        |  FROM ym, xv),
        |r AS (SELECT class, b0, b1, b2, b3,
        |    CASE WHEN vy <= 0 THEN 0.0 ELSE
        |      1.0 - (((vy - 2.0*((((b0*c0 + b1*c1) + b2*c2) + b3*c3)))
        |        + ((((b0*(v0*b0) + b1*(v1*b1)) + b2*(v2*b2)) + b3*(v3*b3)))) / vy)
        |    END AS r2
        |  FROM bet)
        |SELECT CAST(r.class AS INTEGER) AS class, CAST(d.range AS INTEGER) AS dim,
        |  round(CASE d.range WHEN 0 THEN b0 WHEN 1 THEN b1
        |        WHEN 2 THEN b2 ELSE b3 END, 6) + 0.0 AS beta,
        |  round(r2, 6) + 0.0 AS r2
        |FROM r, range(0, 4) d ORDER BY class, dim""".stripMargin)),

    // q188's exact twin: leave-fold-out moments by Gram ADDITIVITY
    // (total - fold, integer sums so the subtraction is exact), then the
    // same diagonal closed-form solve per fold. fold = top factor's high
    // bit, so each fold-complement is STILL a product design (f3
    // restricted to two levels, var 16 instead of 80) and the held-out
    // covariance stays exactly diagonal — the one fixture shape where
    // k-fold CV is closed-form in SQL. Hash-gates the per-fold Gram
    // aggregate + moment subtraction + solve end to end.
    Q("q213_ridge_cv_twin", (s, dir) => {
      import s.implicits._
      val emb = diagSpectrumFixture(s)
      val cls = least(col("vec_id") % 4, expr("(vec_id DIV 4) % 4"))
      val oneHot = (0 until 4).map(c => when(cls === c, 1.0).otherwise(0.0))
      val models = Decomp.fitRidgeProbesPerFold(emb, "embedding", oneHot,
        expr("(vec_id DIV 128) % 2"), nFolds = 2, lambda = 1e-3)
      (for (f <- 0 until 2; c <- 0 until 4; j <- 0 until 4) yield
        (f, models(f).n, c, j,
          math.rint(models(f).weights(c)(j) * 1e6) / 1e6 + 0.0,
          math.rint(models(f).r2(c) * 1e6) / 1e6 + 0.0))
        .toDF("fold", "n_fit", "class", "dim", "beta", "r2")
        .orderBy("fold", "class", "dim")
    }, Oracle(
      // Leave-fold-out moments over the complement equal Spark's
      // total-minus-fold subtraction exactly (integer sums), /128 is
      // exact, and each complement is still a product design — so the same
      // closed-form solve per fold.
      """WITH f AS (SELECT range AS id,
        |    CAST(range % 4 AS DOUBLE) AS x0,
        |    CAST(((range // 4) % 4) * 2 AS DOUBLE) AS x1,
        |    CAST(((range // 16) % 4) * 4 AS DOUBLE) AS x2,
        |    CAST(((range // 64) % 4) * 8 AS DOUBLE) AS x3,
        |    least(range % 4, (range // 4) % 4) AS cls,
        |    (range // 128) % 2 AS fold
        |  FROM range(0, 256)),
        |xv AS (SELECT g.range AS fold,
        |    sum(x0)/128.0 AS m0, sum(x1)/128.0 AS m1,
        |    sum(x2)/128.0 AS m2, sum(x3)/128.0 AS m3,
        |    sum(x0*x0)/128.0 - (sum(x0)/128.0)*(sum(x0)/128.0) AS v0,
        |    sum(x1*x1)/128.0 - (sum(x1)/128.0)*(sum(x1)/128.0) AS v1,
        |    sum(x2*x2)/128.0 - (sum(x2)/128.0)*(sum(x2)/128.0) AS v2,
        |    sum(x3*x3)/128.0 - (sum(x3)/128.0)*(sum(x3)/128.0) AS v3
        |  FROM range(0, 2) g, f WHERE f.fold <> g.range GROUP BY g.range),
        |ym AS (SELECT g.range AS fold, c.range AS class,
        |    sum(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END)/128.0 AS my,
        |    sum(x0*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/128.0 AS s0,
        |    sum(x1*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/128.0 AS s1,
        |    sum(x2*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/128.0 AS s2,
        |    sum(x3*(CASE WHEN f.cls = c.range THEN 1.0 ELSE 0.0 END))/128.0 AS s3
        |  FROM range(0, 2) g, range(0, 4) c, f WHERE f.fold <> g.range
        |  GROUP BY g.range, c.range),
        |bet AS (SELECT ym.fold, class,
        |    (s0 - m0*my) AS c0, (s1 - m1*my) AS c1,
        |    (s2 - m2*my) AS c2, (s3 - m3*my) AS c3,
        |    (s0 - m0*my) / (v0 + 0.001) AS b0,
        |    (s1 - m1*my) / (v1 + 0.001) AS b1,
        |    (s2 - m2*my) / (v2 + 0.001) AS b2,
        |    (s3 - m3*my) / (v3 + 0.001) AS b3,
        |    (my - my*my) AS vy, v0, v1, v2, v3
        |  FROM ym JOIN xv ON ym.fold = xv.fold),
        |r AS (SELECT fold, class, b0, b1, b2, b3,
        |    CASE WHEN vy <= 0 THEN 0.0 ELSE
        |      1.0 - (((vy - 2.0*((((b0*c0 + b1*c1) + b2*c2) + b3*c3)))
        |        + ((((b0*(v0*b0) + b1*(v1*b1)) + b2*(v2*b2)) + b3*(v3*b3)))) / vy)
        |    END AS r2
        |  FROM bet)
        |SELECT CAST(r.fold AS INTEGER) AS fold, CAST(128 AS BIGINT) AS n_fit,
        |  CAST(r.class AS INTEGER) AS class, CAST(d.range AS INTEGER) AS dim,
        |  round(CASE d.range WHEN 0 THEN b0 WHEN 1 THEN b1
        |        WHEN 2 THEN b2 ELSE b3 END, 6) + 0.0 AS beta,
        |  round(r2, 6) + 0.0 AS r2
        |FROM r, range(0, 4) d ORDER BY fold, class, dim""".stripMargin)),
  )
}
