package pipebench

import java.io.{ByteArrayOutputStream, File, FileInputStream}
import java.util.zip.ZipInputStream

import scala.collection.mutable

import graft.meta.Schemas
import graft.operators._
import graft.sources.Ingest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a pass needs: the session, the tracer, the generated inputs and
  * their truth, and a scratch directory for outputs. */
final case class Ctx(spark: SparkSession, t: Tracer, in: String, work: String,
                     truth: Map[String, String], seed: Long) {
  def int(k: String): Int = truth(k).toInt
  def long(k: String): Long = truth(k).toLong
}

/** One named output check and its verdict. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: a full-size pass, a reference-chunk pass, output checks
  * and, for the traced run, the lazy prefixes whose differences time the
  * lazy layers. A pass returns its output, which the
  * checks read back untimed; `corrupt` damages such an output once per
  * check so the self-test can show each check fails. */
trait Workload {
  type Out
  def fullRecords(c: Ctx): Long
  def full(c: Ctx, out: String): Out
  def chunk(c: Ctx, out: String): Out
  def checks(c: Ctx, o: Out): Seq[Check]
  def corrupt(c: Ctx, o: Out): Seq[(String, Out)]
  /** Ordered (name, frame) prefixes of a full pass whose output is in
    * `out`; each is built, then forced through the noop sink. */
  def prefixes(c: Ctx, out: String): Seq[(String, () => DataFrame)]
}

object Workloads {
  val all: Map[String, Workload] = Map("paper_etl" -> PaperEtl, "corpus_dedup" -> CorpusDedup)

  def check(name: String, ok: Boolean, detail: => String): Check =
    Check(name, ok, if (ok) "" else detail)
}

import Workloads.check

/** The paper's three pipelines, chained as the paper runs them: the
  * metadata ETL, the image ETL, then train-set assembly from both outputs.
  * Records are CSV rows plus image-named zip entries. */
object PaperEtl extends Workload {
  final case class Out(meta: MetaStage.Out, image: ImageStage.Out, train: AssemblyStage.Out)

  private def pass(c: Ctx, part: String, out: String): Out = {
    val m = MetaStage.run(c, s"${c.in}/$part/csv", s"$out/meta", c.long(s"$part.rows"))
    val i = ImageStage.run(c, s"${c.in}/$part/zips", s"$out/tensors", c.long(s"$part.images"))
    val t = AssemblyStage.run(c, s"$out/tensors", s"$out/meta", c.long(s"$part.first_id"),
      c.long(s"$part.images"), s"$out/train")
    Out(m, i, t)
  }

  def fullRecords(c: Ctx): Long = c.long("full.rows") + c.long("full.named")
  def full(c: Ctx, out: String): Out = pass(c, "full", out)
  def chunk(c: Ctx, out: String): Out = pass(c, "chunk", out)

  def checks(c: Ctx, o: Out): Seq[Check] =
    MetaStage.checks(c, o.meta) ++ ImageStage.checks(c, o.image) ++ AssemblyStage.checks(o.train)

  def corrupt(c: Ctx, o: Out): Seq[(String, Out)] =
    MetaStage.corrupt(o.meta).map { case (k, m) => k -> o.copy(meta = m) } ++
      ImageStage.corrupt(o.image).map { case (k, i) => k -> o.copy(image = i) } ++
      AssemblyStage.corrupt(o.train).map { case (k, t) => k -> o.copy(train = t) }

  def prefixes(c: Ctx, out: String): Seq[(String, () => DataFrame)] =
    MetaStage.prefixes(c, s"${c.in}/full/csv") ++ ImageStage.prefixes(c, s"${c.in}/full/zips") ++
      AssemblyStage.prefixes(c, s"$out/tensors", s"$out/meta", c.long("full.first_id"),
        c.long("full.images"))
}

/** Metadata ETL: typed CSV chunks -> clean with a chunk-scoped fill ->
  * label-encode + standard-scale fit on the pre-fill frame -> assert no
  * nulls -> chunked parquet sink of q72's projection (so `captured_ts`,
  * null for null epochs, is not sunk). */
object MetaStage {
  final case class Out(rows: Long, frame: DataFrame)
  private val cats = Schemas.osv5mCategoricals

  private def stages(c: Ctx, dir: String): (DataFrame, DataFrame, () => DataFrame) = {
    import c.t.span
    val raw = span("Ingest.csvTyped")(Ingest.csvTyped(c.spark, dir, Schemas.osv5m))
    val chunked = raw.withColumn("fill_chunk", floor(col("id") / lit(c.long("fill_chunk_rows"))))
    val cleaned = span("Clean.osv5mClean")(
      Clean.osv5mClean(chunked, orderCol = "id", fillPartitionCols = Seq("fill_chunk")))
    (raw, cleaned, () => {
      val fit = span("Clean.osv5mFitFrame")(Clean.osv5mFitFrame(chunked))
      val enc = span("Encode.labelEncodeAll")(Encode.labelEncodeAll(cleaned, cats, Some(fit)))
      project(span("Encode.standardScale")(
        Encode.standardScale(enc, Schemas.osv5mScaleCols, Some(fit))))
    })
  }

  private def project(df: DataFrame): DataFrame = df.select(
    col("id"), col("year"), col("month"), col("day"),
    col("region"), col("city"), col("unique_city"), col("creator_username"),
    col("country_code"), col("region_code"), col("sub-region_code").as("subregion_code"),
    col("city_code"), col("unique_country_code"),
    round(col("latitude_z"), 6).as("latitude_z"), round(col("longitude_z"), 6).as("longitude_z"),
    round(col("dist_sea_z"), 6).as("dist_sea_z"), round(col("road_index_z"), 6).as("road_index_z"))

  def run(c: Ctx, dir: String, out: String, rows: Long): Out = {
    val sunk = stages(c, dir)._3()
    c.t.span("Audit.assertNoNulls")(Audit.assertNoNulls(sunk))
    c.t.span("Batching.writeChunked")(Batching.writeChunked(sunk, out, c.long("fill_chunk_rows")))
    Out(rows, c.spark.read.parquet(out))
  }

  private val codes = Seq("country_code" -> "country", "region_code" -> "region",
    "subregion_code" -> "sub-region", "city_code" -> "city",
    "unique_country_code" -> "unique_country")
  private val zs = Seq("latitude_z", "longitude_z", "dist_sea_z", "road_index_z")

  def checks(c: Ctx, o: Out): Seq[Check] = {
    val df = o.frame
    val aggs = Seq(count(lit(1)).cast("double")) ++
      codes.flatMap { case (k, _) => Seq(min(col(k)).cast("double"), max(col(k)).cast("double")) } ++
      zs.flatMap(z => Seq(avg(col(z)), stddev_pop(col(z))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val nulls = Audit.totalNulls(df)
    val rows = r.getDouble(0).toLong
    val codeOk = codes.zipWithIndex.forall { case ((_, src), i) =>
      !r.isNullAt(1 + 2 * i) && r.getDouble(1 + 2 * i) >= 0 &&
        r.getDouble(2 + 2 * i) < c.int(s"vocab.$src")
    }
    val zOff = 1 + 2 * codes.size
    val zOk = zs.indices.forall { i =>
      math.abs(r.getDouble(zOff + 2 * i)) < 1e-4 && math.abs(r.getDouble(zOff + 2 * i + 1) - 1) < 1e-4
    }
    Seq(
      check("meta.rows_out_eq_in", rows == o.rows, s"$rows rows out, ${o.rows} in"),
      check("meta.no_nulls", nulls == 0, s"$nulls nulls in the sunk columns"),
      check("meta.codes_in_vocab", codeOk, s"label codes outside [0, vocab): $r"),
      check("meta.z_standardized", zOk, s"z-columns not mean 0 / sd 1: $r"))
  }

  def corrupt(o: Out): Seq[(String, Out)] = Seq(
    "meta.rows_out_eq_in" -> o.copy(frame = o.frame.limit((o.rows - 1).toInt)),
    "meta.no_nulls" -> o.copy(frame = o.frame.withColumn("city",
      when(col("id") === lit(o.frame.select("id").head().get(0)), lit(null)).otherwise(col("city")))),
    "meta.codes_in_vocab" -> o.copy(frame = o.frame.withColumn("city_code", col("city_code") + 9)),
    "meta.z_standardized" -> o.copy(frame = o.frame.withColumn("dist_sea_z", col("dist_sea_z") * 1.01)))

  /** The cleaned columns the sink's projection reads, so the clean and
    * encode prefixes carry the same upstream work. */
  private val cleanedUsed = Seq("id", "year", "month", "day", "region", "city", "unique_city",
    "creator_username", "country", "sub-region", "unique_country") ++ Schemas.osv5mScaleCols

  def prefixes(c: Ctx, dir: String): Seq[(String, () => DataFrame)] = {
    val (raw, cleaned, sunk) = stages(c, dir)
    Seq("csv_scan" -> (() => raw), "clean" -> (() => cleaned.select(cleanedUsed.map(col): _*)),
      "encode" -> sunk)
  }
}

/** Image ETL: zip archives -> explode + filter + decode + resize-pad +
  * tensorize -> tensor batches, one archive's worth of images per file. */
object ImageStage {
  final case class Out(dir: String, images: Long, frame: DataFrame)

  private def stages(c: Ctx, dir: String) = {
    import c.t.span
    val archives = span("Ingest.binaryFiles")(Ingest.binaryFiles(c.spark, dir, "*.zip"))
    (archives, () => Media.filterImages(Media.explodeZips(c.spark, archives)).toDF(),
      () => span("Media.imageEtl")(Media.imageEtl(c.spark, archives)))
  }

  def run(c: Ctx, dir: String, out: String, images: Long): Out = {
    val tensors = stages(c, dir)._3()
    c.t.span("Media.writeTensorBatches")(
      Media.writeTensorBatches(tensors, out, Gen.Sizes.zipImages))
    Out(dir, images, c.spark.read.parquet(out))
  }

  /** Order-sensitive checksum of a tensor's float bits. */
  def checksum(data: Array[Float]): Int = java.util.Arrays.hashCode(data)

  /** A seeded sample of (entry, checksum) computed by calling
    * `Media.decodeResizeTensor` on the archive bytes directly. */
  private def expected(c: Ctx, dir: String): Map[String, Int] = {
    val rnd = new java.util.SplittableRandom(c.long("sample_seed"))
    val zips = new File(dir).listFiles().filter(_.getName.endsWith(".zip")).sortBy(_.getName)
    (0 until 3).map(_ => zips(rnd.nextInt(zips.length))).distinct.flatMap { z =>
      val entries = mutable.ArrayBuffer[(String, Array[Byte])]()
      val in = new ZipInputStream(new FileInputStream(z))
      try {
        var e = in.getNextEntry
        while (e != null) {
          val buf = new ByteArrayOutputStream()
          in.transferTo(buf)
          if (e.getName.startsWith("img_")) entries += e.getName -> buf.toByteArray
          e = in.getNextEntry
        }
      } finally in.close()
      val (name, bytes) = entries(rnd.nextInt(entries.size))
      Media.decodeResizeTensor(bytes).map { case (_, data) => name -> checksum(data) }
    }.toMap
  }

  def checks(c: Ctx, o: Out): Seq[Check] = {
    val df = o.frame
    val r = df.agg(count(lit(1)),
      sum(when(col("shape") =!= array(lit(3), lit(224), lit(224)) ||
        size(col("data")) =!= 3 * 224 * 224, 1).otherwise(0))).head()
    val want = expected(c, o.dir)
    val got = df.where(col("entry").isin(want.keys.toSeq: _*))
      .select("entry", "data").collect()
      .map(row => row.getString(0) -> checksum(row.getSeq[Float](1).toArray)).toMap
    Seq(
      check("image.tensor_count", r.getLong(0) == o.images, s"${r.getLong(0)} tensors, ${o.images} decodable"),
      check("image.shape_3x224x224", !r.isNullAt(1) && r.getLong(1) == 0, s"${r.get(1)} tensors of another shape"),
      check("image.sample_checksums", want.nonEmpty && got == want, s"checksums $got, expected $want"))
  }

  def corrupt(o: Out): Seq[(String, Out)] = {
    val one = o.frame.limit(1)
    Seq(
      "image.tensor_count" -> o.copy(frame = o.frame.unionByName(one)),
      "image.shape_3x224x224" -> o.copy(frame = o.frame.withColumn("shape",
        when(col("entry") === one.head().getAs[String]("entry"), array(lit(3), lit(224), lit(223)))
          .otherwise(col("shape")))),
      "image.sample_checksums" -> o.copy(frame = o.frame.withColumn("data",
        transform(col("data"), x => x * 0.5f))))
  }

  def prefixes(c: Ctx, dir: String): Seq[(String, () => DataFrame)] = {
    val (archives, explode, decode) = stages(c, dir)
    Seq("binary_scan" -> (() => archives), "explode" -> explode, "decode" -> (() => decode().toDF()))
  }
}

/** Train-set assembly (the paper's step 4): read back the tensor batches,
  * positionally join them with the first `n` cleaned metadata rows,
  * min-max scale the standardized lat/lon, chunked parquet sink. */
object AssemblyStage {
  final case class Out(n: Long, firstId: Long, frame: DataFrame)

  private def stages(c: Ctx, tensorsDir: String, metaDir: String, firstId: Long, n: Long) = {
    import c.t.span
    val (tensors, meta) = span("sources.parquet")((
      c.spark.read.parquet(tensorsDir),
      c.spark.read.parquet(metaDir)
        .select(col("id").cast("long").as("meta_id"), col("latitude_z"), col("longitude_z"))
        .where(col("meta_id") < firstId + n)))
    (tensors, meta, () => span("Relational.positionalJoin")(
      Relational.positionalJoin(tensors, Seq("archive", "entry"), meta, Seq("meta_id"))))
  }

  private def scale(c: Ctx, joined: DataFrame): DataFrame =
    c.t.span("Encode.minMaxScale")(Encode.minMaxScale(joined, Seq("latitude_z", "longitude_z")))

  def run(c: Ctx, tensorsDir: String, metaDir: String, firstId: Long, n: Long, out: String): Out = {
    val scaled = scale(c, stages(c, tensorsDir, metaDir, firstId, n)._3())
    c.t.span("Batching.writeChunked")(Batching.writeChunked(scaled, out, Gen.Sizes.zipImages))
    Out(n, firstId, c.spark.read.parquet(out))
  }

  def checks(o: Out): Seq[Check] = {
    def out01(k: String) = col(k).isNull || col(k) < 0 || col(k) > 1
    val r = o.frame.agg(count(lit(1)), countDistinct(col("idx")), min("idx"), max("idx"),
      sum(when(out01("latitude_z_mm") || out01("longitude_z_mm"), 1).otherwise(0)),
      sum(when(col("meta_id") =!= col("idx") + o.firstId, 1).otherwise(0))).head()
    val (rows, distinct) = (r.getLong(0), r.getLong(1))
    Seq(
      check("train.one_row_per_tensor", rows == o.n, s"$rows rows for ${o.n} tensors"),
      check("train.idx_contiguous", distinct == o.n && rows == o.n && !r.isNullAt(2) &&
        r.getLong(2) == 0 && r.getLong(3) == o.n - 1, s"idx: $r"),
      check("train.mm_in_unit_interval", !r.isNullAt(4) && r.getLong(4) == 0,
        s"${r.get(4)} _mm values outside [0,1]"),
      check("train.rows_aligned", !r.isNullAt(5) && r.getLong(5) == 0,
        s"${r.get(5)} tensors joined to the wrong metadata row"))
  }

  def corrupt(o: Out): Seq[(String, Out)] = Seq(
    "train.one_row_per_tensor" -> o.copy(frame = o.frame.unionByName(o.frame.limit(1))),
    "train.idx_contiguous" -> o.copy(frame = o.frame.withColumn("idx",
      when(col("idx") === 0, lit(o.n)).otherwise(col("idx")))),
    "train.mm_in_unit_interval" -> o.copy(frame = o.frame.withColumn("latitude_z_mm",
      col("latitude_z_mm") * 1.5)),
    "train.rows_aligned" -> o.copy(frame = o.frame.withColumn("meta_id",
      when(col("idx") === 1, col("meta_id") + 1).otherwise(col("meta_id")))))

  def prefixes(c: Ctx, tensorsDir: String, metaDir: String, firstId: Long,
               n: Long): Seq[(String, () => DataFrame)] = {
    val (tensors, meta, join) = stages(c, tensorsDir, metaDir, firstId, n)
    lazy val joined = join()
    Seq("scan_tensors" -> (() => tensors), "scan_meta" -> (() => meta),
      "posjoin" -> (() => joined), "scale" -> (() => scale(c, joined)))
  }
}

/** The curation chain: fuzzy-dedup a reference wave, index its survivors
  * with IVF-PQ, then fuzzy-dedup a new crawl, scrub it against the index
  * and write sharded JSONL. The chunk pass is a small new wave scrubbed
  * against the index the last full pass built. */
object CorpusDedup extends Workload {
  val schema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(DoubleType))))
  // IVF-PQ sizing from the scrubAgainstIvfPqIndex ladder: a low-rank
  // (12-dim manifold) corpus at m = 8, ksub = 64 scrubs exact re-crawls at
  // tau = 0.8.
  val (nCells, pqM, ksub, iterations, tau, nprobe, shards) = (8, 8, 64, 2, 0.8, 2, 4)
  /** Floors every pass must meet: the share of planted re-crawls the scrub
    * drops, and the share of fresh planted clusters that survive it. */
  val recallFloor = 0.95
  val freshFloor = 0.95

  final case class Out(wave: String, ref: Option[DataFrame], shards: DataFrame)

  @volatile private var index: Option[Similarity.IvfPqIndex] = None

  private def load(c: Ctx, dir: String): DataFrame =
    c.t.span("Ingest.jsonlTyped")(Ingest.jsonlTyped(c.spark, dir, schema))

  private def dedup(c: Ctx, docs: DataFrame): DataFrame =
    c.t.span("Dedup.fuzzyDedupKeepFirst")(Dedup.fuzzyDedupKeepFirst(docs, "id", "text"))

  private def scrub(c: Ctx, kept: DataFrame, idx: Similarity.IvfPqIndex): DataFrame =
    c.t.span("Similarity.scrubAgainstIvfPqIndex")(
      Similarity.scrubAgainstIvfPqIndex(kept, idx, tau, nprobe, idCol = "id"))

  private def crawl(c: Ctx, dir: String, idx: Similarity.IvfPqIndex, out: String): DataFrame = {
    val scrubbed = scrub(c, dedup(c, load(c, dir)), idx)
    c.t.span("Batching.writeJsonlShards")(
      Batching.writeJsonlShards(scrubbed, "id", "text", shards, c.seed, out))
    c.spark.read.schema("id LONG, text STRING").json(out)
  }

  def fullRecords(c: Ctx): Long = c.long("ref.docs") + c.long("new.docs")

  def full(c: Ctx, out: String): Out = {
    val ref = dedup(c, load(c, s"${c.in}/ref"))
    val idx = c.t.span("Similarity.buildIvfPqIndex")(Similarity.buildIvfPqIndex(
      ref, s"${c.work}/index", nCells, pqM, ksub, iterations, idCol = "id"))
    index = Some(idx)
    Out("new", Some(ref), crawl(c, s"${c.in}/new", idx, s"$out/shards"))
  }

  def chunk(c: Ctx, out: String): Out = {
    val idx = index.getOrElse(sys.error("the chunk pass needs an index from a full pass"))
    Out("chunk", None, crawl(c, s"${c.in}/chunk", idx, s"$out/shards"))
  }

  /** (id -> (cluster, recrawl_of)) from the generator's truth. */
  def clusters(c: Ctx, file: String): Map[Long, (Int, Long)] = {
    val src = scala.io.Source.fromFile(new File(c.in, file), "UTF-8")
    try src.getLines().map { l =>
      val Array(id, cl, from) = l.split(' ')
      id.toLong -> (cl.toInt, from.toLong)
    }.toMap
    finally src.close()
  }

  /** One survivor per planted cluster, no survivor in two clusters, and
    * the survivor is the cluster's smallest id (keep-first). */
  private def onePerCluster(truth: Map[Long, (Int, Long)], ids: Seq[Long]): Boolean = {
    val byCluster = ids.groupBy(id => truth.get(id).map(_._1).getOrElse(-1))
    val firsts = truth.groupBy(_._2._1).map { case (cl, m) => cl -> m.keys.min }
    !byCluster.contains(-1) && byCluster.values.forall(_.size == 1) &&
      byCluster.keySet == firsts.keySet && byCluster.forall { case (cl, s) => s.head == firsts(cl) }
  }

  /** Share of the wave's planted re-crawls the scrub dropped. */
  def recall(truth: Map[Long, (Int, Long)], out: Set[Long]): Double = {
    val planted = truth.collect { case (id, (_, from)) if from >= 0 => id }
    planted.count(id => !out.contains(id)).toDouble / math.max(1, planted.size)
  }

  def checks(c: Ctx, o: Out): Seq[Check] = {
    val wave = clusters(c, s"${o.wave}.clusters")
    val outIds = o.shards.select("id").collect().map(_.getLong(0)).toSeq
    val rec = recall(wave, outIds.toSet)
    val refCheck = o.ref.toSeq.map { kept =>
      val ids = kept.select("id").collect().map(_.getLong(0)).toSeq
      check("dedup.ref_one_survivor_per_cluster", onePerCluster(clusters(c, "ref.clusters"), ids),
        s"${ids.size} reference survivors for ${c.truth("ref.clusters")} clusters")
    }
    val freshClusters = wave.values.filter(_._2 < 0).map(_._1).toSet
    val keptFresh = outIds.flatMap(wave.get).filter(_._2 < 0).map(_._1).distinct
    refCheck ++ Seq(
      check("dedup.new_at_most_one_per_cluster", outIds.forall(wave.contains) &&
        outIds.map(id => wave(id)._1).distinct.size == outIds.size,
        s"${outIds.size} shard rows, some unknown or sharing a cluster"),
      check("scrub.fresh_kept_floor", keptFresh.size >= freshFloor * freshClusters.size,
        s"${keptFresh.size} of ${freshClusters.size} fresh clusters survived"),
      check("scrub.recall_floor", rec >= recallFloor, f"scrub recall $rec%.4f below $recallFloor"))
  }

  def corrupt(c: Ctx, o: Out): Seq[(String, Out)] = {
    val wave = clusters(c, s"${o.wave}.clusters")
    val src = c.spark.read.schema(schema).json(s"${c.in}/${o.wave}")
    val recrawls = wave.collect { case (id, (_, from)) if from >= 0 => id }.toSeq
    val refTruth = clusters(c, "ref.clusters")
    val second = refTruth.groupBy(_._2._1).collectFirst { case (_, m) if m.size > 1 => m.keys.max }.get
    // a shard row whose planted cluster has another member in the wave
    val outIds = o.shards.select("id").collect().map(_.getLong(0))
    val byCluster = wave.groupBy(_._2._1)
    val mate = outIds.iterator.flatMap(id => byCluster(wave(id)._1).keys.find(_ != id)).nextOption()
    def ids(xs: Seq[Long]): DataFrame = c.spark.createDataFrame(
      c.spark.sparkContext.parallelize(xs.map(org.apache.spark.sql.Row(_))),
      StructType(Seq(StructField("id", LongType))))
    Seq(
      "dedup.ref_one_survivor_per_cluster" -> o.copy(ref = o.ref.map(_.select("id").union(ids(Seq(second))))),
      "dedup.new_at_most_one_per_cluster" -> o.copy(shards = o.shards.select("id").union(ids(mate.toSeq))),
      "scrub.fresh_kept_floor" -> o.copy(shards = o.shards.limit(1).select("id")),
      "scrub.recall_floor" -> o.copy(shards = o.shards.select("id")
        .union(src.where(col("id").isin(recrawls: _*)).select("id"))))
  }

  def prefixes(c: Ctx, out: String): Seq[(String, () => DataFrame)] = {
    val idx = index.getOrElse(sys.error("prefixes need an index from a full pass"))
    val ref = load(c, s"${c.in}/ref")
    val neu = load(c, s"${c.in}/new")
    lazy val keptNew = dedup(c, neu)
    Seq(
      "lsh_ref" -> (() => c.t.span("Dedup.lshCandidatePairs")(Dedup.lshCandidatePairs(ref, "id", "text"))),
      "lsh_new" -> (() => c.t.span("Dedup.lshCandidatePairs")(Dedup.lshCandidatePairs(neu, "id", "text"))),
      "dedup_new" -> (() => keptNew),
      "scrub" -> (() => scrub(c, keptNew, idx)))
  }
}
