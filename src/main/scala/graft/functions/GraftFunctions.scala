package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}

/** Column-API and SQL-registry surface for graft's native expressions.
  *
  * `import graft.functions.GraftFunctions._` for the Column wrappers;
  * `GraftFunctions.registerAll(spark)` to make them usable from
  * `spark.sql(...)` / `expr(...)` strings.
  */
object GraftFunctions {

  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftSqlBridge.column(e)
  private def ex(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    GraftSqlBridge.expression(c)

  /** True haversine great-circle km (see [[HaversineKm]]). */
  def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    col(HaversineKm(ex(lat1.cast("double")), ex(lon1.cast("double")),
      ex(lat2.cast("double")), ex(lon2.cast("double"))))

  /** Portable polynomial rolling-hash fingerprint (see [[RollingHash]]). */
  def rolling_hash(s: Column): Column = col(RollingHash(ex(s.cast("string"))))

  /** Unicode NFC canonical composition (see [[NfcNormalize]]). */
  def nfc_normalize(s: Column): Column = col(NfcNormalize(ex(s.cast("string"))))

  /** zlib compression ratio of the UTF-8 text (see [[DeflateRatio]]). */
  def deflate_ratio(s: Column): Column = col(DeflateRatio(ex(s.cast("string"))))

  /** Fused-pass cosine similarity over embedding arrays (see [[CosineSimilarity]]). */
  def cosine_similarity(a: Column, b: Column): Column =
    col(CosineSimilarity(ex(a), ex(b)))

  /** Fused 16-slot MinHash signature over word 3-shingles (see [[MinHashSig]]). */
  def minhash_sig(s: Column, k: Int = 16): Column = col(MinHashSig(ex(s.cast("string")), k))

  /** Fused 16-bit SimHash over token hashes (see [[SimHash]]). */
  def simhash16(s: Column, k: Int = 16): Column = col(SimHash(ex(s.cast("string")), k))

  /** Full-width 64-bit SimHash — the scale-path fingerprint (see
    * [[SimHash64]]; not oracle-reproducible). */
  def simhash64(s: Column): Column = col(SimHash64(ex(s.cast("string"))))

  /** Element-wise mean of an embedding column — single-pass, map-side
    * combinable centroid aggregate (see [[VectorAvg]]). */
  def vector_avg(v: Column): Column =
    col(VectorAvg(ex(v)).toAggregateExpression())

  /** One-pass Σx / Σxxᵀ second-moment aggregate over an embedding column
    * — the broadcast-sized fit half of PCA/whitening/Mahalanobis (see
    * [[MatrixGram]]; consumed by [[graft.operators.Decomp]]). */
  def matrix_gram(v: Column): Column =
    col(MatrixGram(ex(v)).toAggregateExpression())

  /** Shannon character entropy + alphabet stats in one fused string
    * walk (see [[CharEntropy]]): struct(n_chars, n_distinct_chars,
    * entropy). */
  def char_entropy(text: Column): Column = col(CharEntropy(ex(text)))

  /** Ordered code-point trigram array — the O(len) fit-side explode
    * input (see [[CharTrigrams]]). */
  def char_trigrams(text: Column): Column = col(CharTrigrams(ex(text)))

  /** Full Gopher rule-set counts in one fused walk (see
    * [[GopherCounts]]). */
  def gopher_counts(text: Column, stopwords: Seq[String]): Column =
    col(GopherCounts(ex(text), stopwords))

  /** Gopher repetition-rule counts in one fused walk (see
    * [[RepetitionCounts]]): struct(n_tokens, n_distinct_tokens,
    * n_grams, top_gram_count). */
  def repetition_counts(text: Column, n: Int): Column =
    col(RepetitionCounts(ex(text), n))

  /** Winnowed k-gram fingerprint selection in one fused walk (see
    * [[WinnowFingerprints]]): array<struct<pos, h>>, per-position
    * deduped. */
  def winnow_fingerprints(text: Column, k: Int, w: Int, wide: Boolean): Column =
    col(WinnowFingerprints(ex(text), k, w, wide))

  /** Exact interpolated percentiles with a primitive buffer — the fast
    * drop-in for SQL `percentile(x, array(...))` on the exact fit lane
    * (see [[ExactPercentiles]]). */
  def exact_percentiles(x: Column, ps: Seq[Double]): Column =
    col(ExactPercentiles(ex(x.cast("double")), ps).toAggregateExpression())

  /** All Poisson-bootstrap replica means in one aggregate pass (see
    * [[BootstrapMeans]]; consumed by
    * [[graft.operators.Stats.bootstrapMeanCI]]). */
  def bootstrap_means(x: Column, h: Column, replicas: Int): Column =
    col(BootstrapMeans(ex(x), ex(h), replicas).toAggregateExpression())

  /** Fused char-trigram LM scoring against a broadcast fitted table
    * (see [[TrigramLogProbSum]]): struct(n_tri, sum_lp). */
  def trigram_logprob_sum(text: Column,
                          table: org.apache.spark.broadcast.Broadcast[TrigramTable]): Column =
    col(TrigramLogProbSum(ex(text), table))

  /** All per-language trigram-profile scores in one fused walk (see
    * [[LangIdScore]]): struct(n_tri, scores[k]). */
  def lang_id_score(text: Column,
                    table: org.apache.spark.broadcast.Broadcast[LangProfileTable]): Column =
    col(LangIdScore(ex(text), table))

  /** Fused word-bigram stupid-backoff scoring against a broadcast fitted
    * table (see [[WordBigramScore]]): struct(n_bigrams, sum_lp,
    * n_backoff). */
  def word_bigram_score(text: Column,
                        table: org.apache.spark.broadcast.Broadcast[BigramTable]): Column =
    col(WordBigramScore(ex(text), table))

  /** Project through a fitted basis (scales=1: PCA projection;
    * scales=1/sqrt(lambda): whitening) as a fused narrow kernel (see
    * [[EigenProject]]; fit via [[graft.operators.Decomp]]). */
  def eigen_project(vec: Column, mean: Seq[Double],
                    components: Seq[Seq[Double]], scales: Seq[Double]): Column =
    col(EigenProject(ex(vec), mean, components, scales))

  /** Squared Mahalanobis distance through a fitted eigenbasis riding the
    * expression as literals — fused narrow projection, no HOF lambdas
    * (see [[MahalanobisScore]]; fit via [[graft.operators.Decomp]]). */
  def mahalanobis_score(vec: Column, mean: Seq[Double],
                        components: Seq[Seq[Double]],
                        invEigenvalues: Seq[Double]): Column =
    col(MahalanobisScore(ex(vec), mean, components, invEigenvalues))

  /** Shuffle-free max-cosine centroid assignment over a driver-collected
    * (broadcast-sized) centroid set (see [[NearestCentroid]]). */
  def nearest_centroid(vec: Column, centIds: Seq[Long],
                       centVecs: Seq[Seq[Double]]): Column =
    col(NearestCentroid(ex(vec), centIds, centVecs))

  /** Top-p nearest centroid ids, (cosine DESC, id ASC) order — the
    * multi-probe IVF quantize step (see [[NearestCells]]). */
  def nearest_cells(vec: Column, centIds: Seq[Long],
                    centVecs: Seq[Seq[Double]], p: Int): Column =
    col(NearestCells(ex(vec), centIds, centVecs, p))

  /** Product-quantization encode: vector -> m argmin-L2 subspace codes,
    * codebooks riding inside the expression (see [[PqEncode]]). */
  def pq_encode(vec: Column, books: Seq[Seq[Seq[Double]]]): Column =
    col(PqEncode(ex(vec), books))

  /** ADC cosine between a probe's lookup table and a PQ code array (see
    * [[PqCosine]] for the lut layout). */
  def pq_cosine(codes: Column, lut: Column): Column =
    col(PqCosine(ex(codes), ex(lut)))

  /** Per-row ADC lookup-table build — the distributed-probe PQ primitive:
    * probes stay a DataFrame, no driver collect (see [[PqLut]]). Pass an
    * empty array as `cell` for flat PQ; the IVF path passes the probed
    * cell's coarse centroid to fold the `cell + residual` reconstruction
    * into the table. */
  def pq_lut(probe: Column, cell: Column, books: Seq[Seq[Seq[Double]]]): Column =
    col(PqLut(ex(probe), ex(cell), books))

  /** Top-k (score DESC, id ASC) pairs per group with a bounded k-slot
    * buffer — shuffle bytes |groups| x k regardless of row count (see
    * [[TopKByScore]]). */
  def topk_by_score(score: Column, id: Column, k: Int): Column =
    col(TopKByScore(ex(score.cast("double")), ex(id.cast("long")),
      org.apache.spark.sql.catalyst.expressions.Literal(k)).toAggregateExpression())

  /** Bloom-filter build aggregate over a BIGINT key → the filter as BINARY.
    * Map-side combinable (merge is bitwise OR); see [[BloomFilterAgg]]. */
  def bloom_agg(key: Column, numBits: Int = 1 << 20, numHashes: Int = 6): Column =
    col(BloomFilterAgg(ex(key.cast("long")), numBits, numHashes).toAggregateExpression())

  /** Bloom membership probe with the filter riding inside the expression as
    * driver-collected bytes — a pure narrow projection, zero Exchange (see
    * [[BloomMightContain]]). No false negatives; callers follow with an
    * exact join ([[graft.operators.Relational.bloomSemiJoin]]). */
  def bloom_might_contain(key: Column, bloomBytes: Array[Byte],
                          numHashes: Int = 6): Column =
    col(BloomMightContain(ex(key.cast("long")), bloomBytes, numHashes))

  // ---- SQL builders (shared with plans.GraftExtensions) -----------------
  // SQL callers get the same input coercion as the Column wrappers: string/
  // double casts up front (there is no ExpectsInputTypes in Spark 4 outside
  // private[sql]), and an optional literal k for the sketch functions.

  import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
  import org.apache.spark.sql.types.{Decimal, DoubleType, StringType}

  private def asString(e: Expression): Expression = Cast(e, StringType)
  private def asDouble(e: Expression): Expression = Cast(e, DoubleType)
  private def asLong(e: Expression): Expression =
    Cast(e, org.apache.spark.sql.types.LongType)
  private def literalInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a constant expression, got ${e.sql}")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$what must be an integer constant, got $other")
    }
  }
  private def literalDouble(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a constant expression, got ${e.sql}")
    e.eval() match {
      case n: Number => n.doubleValue()
      case d: Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric constant, got $other")
    }
  }
  private def literalK(es: Seq[Expression], default: Int): Int = es match {
    case Seq(_) => default
    case Seq(_, k) => literalInt(k, "k")
    case other => throw new IllegalArgumentException(
      s"expected (text[, k constant]), got ${other.length} args")
  }

  private[graft] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "haversine_km" -> (es => HaversineKm(
      asDouble(es(0)), asDouble(es(1)), asDouble(es(2)), asDouble(es(3)))),
    "rolling_hash" -> (es => RollingHash(asString(es.head))),
    "deflate_ratio" -> (es => DeflateRatio(asString(es.head))),
    "cosine_similarity" -> (es => CosineSimilarity(es(0), es(1))),
    "minhash_sig" -> (es => MinHashSig(asString(es.head), literalK(es, 16))),
    "simhash16" -> (es => SimHash(asString(es.head), literalK(es, 16))),
    "simhash64" -> (es => SimHash64(asString(es.head))),
    // Aggregates register as their raw AggregateFunction — the analyzer
    // wraps them into AggregateExpressions at use sites.
    "vector_avg" -> (es => VectorAvg(es.head)),
    "matrix_gram" -> (es => MatrixGram(es.head)),
    "topk_by_score" -> (es =>
      TopKByScore(asDouble(es(0)), Cast(es(1), org.apache.spark.sql.types.LongType), es(2))),
    // Same optional-arg defaults as the Column API (numBits=1<<20,
    // numHashes=6) so the two surfaces agree.
    "bloom_agg" -> (es => es match {
      case Seq(k) => BloomFilterAgg(asLong(k), 1 << 20, 6)
      case Seq(k, nb) => BloomFilterAgg(asLong(k), literalInt(nb, "bloom_agg numBits"), 6)
      case Seq(k, nb, nh) => BloomFilterAgg(asLong(k),
        literalInt(nb, "bloom_agg numBits"), literalInt(nh, "bloom_agg numHashes"))
      case other => throw new IllegalArgumentException(
        s"bloom_agg expects (key[, numBits[, numHashes]]), got ${other.length} args")
    }),
    // The filter argument must be a foldable BINARY (e.g. a literal built
    // from a collected bloom_agg row) — the probe carries the bytes as a
    // constant, never as a per-row column (see BloomMightContain scaladoc).
    "bloom_might_contain" -> (es => {
      val (key, f, nh) = es match {
        case Seq(k, f) => (k, f, 6)
        case Seq(k, f, nh) => (k, f, literalInt(nh, "bloom_might_contain numHashes"))
        case other => throw new IllegalArgumentException(
          s"bloom_might_contain expects (key, filter[, numHashes]), got ${other.length} args")
      }
      require(f.foldable,
        s"bloom_might_contain filter must be a constant, got ${f.sql}")
      f.eval() match {
        case bytes: Array[Byte] => BloomMightContain(asLong(key), bytes, nh)
        case null => throw new IllegalArgumentException(
          "bloom_might_contain filter must be a non-null BINARY constant, got NULL")
        case _ => throw new IllegalArgumentException(
          s"bloom_might_contain filter must be a BINARY constant, got ${f.dataType.catalogString}")
      }
    }),
    "nfc_normalize" -> (es => NfcNormalize(asString(es.head))),
    "char_entropy" -> (es => CharEntropy(asString(es.head))),
    "char_trigrams" -> (es => CharTrigrams(asString(es.head))),
    // percentile fractions must be literal doubles (the plan-time solve
    // needs them); accepts a single fraction or array(...) like percentile()
    "exact_percentiles" -> (es => {
      require(es.length == 2,
        s"exact_percentiles expects (value, fraction | array(fractions)), got ${es.length} args")
      val ps = es(1) match {
        case org.apache.spark.sql.catalyst.expressions.CreateArray(items, _) =>
          items.map(i => literalDouble(i, "exact_percentiles fraction"))
        case one => Seq(literalDouble(one, "exact_percentiles fraction"))
      }
      ExactPercentiles(asDouble(es(0)), ps)
    }))

  /** Register all graft expressions for SQL usage. Idempotent and quiet:
    * a name whose registry entry already IS graft's builder (the same
    * `sqlBuilders` instance) is skipped, so the operators that call this on
    * every invocation neither touch the registry nor log Spark's "replaced
    * a previously registered function" WARN. A user function registered
    * under one of graft's names is replaced, as on the first call. */
  def registerAll(spark: SparkSession): Unit =
    sqlBuilders.foreach { case (name, b) =>
      if (!GraftSqlBridge.registeredFunction(spark, name).exists(_ eq b))
        GraftSqlBridge.registerFunction(spark, name, b)
    }
}
