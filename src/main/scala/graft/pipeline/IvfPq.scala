package graft.pipeline

import graft.functions.TextFunctions.{dsum12, trunc6}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ (IVFADC): the canonical billion-scale ANN layout (Jégou et
  * al., "Product Quantization for Nearest Neighbor Search" §IV; FAISS's
  * `IndexIVFPQ`) — a coarse k-means quantizer partitions the corpus
  * into `nlist` inverted lists, and each vector stores only the PQ
  * codes of its RESIDUAL (vector − its coarse centroid). Queries probe
  * the `nProbe` nearest coarse cells and ADC-scan just those lists
  * with a per-cell lookup table built from the query's own residual
  * against that cell.
  *
  * Why this beats either half alone at 100 TB: IVF cuts the scan to
  * nProbe/nlist of the corpus as pure partition pruning (the code
  * table is written partitioned by `cluster`), and PQ cuts the bytes
  * per scanned row to `m` small ints; residual encoding concentrates
  * the quantizer's precision around each cell's centroid, so the same
  * code budget yields tighter distances than q70's global PQ. Both
  * training stages touch only an md5-chosen sample; everything that
  * ships to executors (coarse centroids, residual codebooks, per-cell
  * LUTs) is a few KB and broadcast.
  *
  * Built from the two proven deterministic pipelines: the coarse stage
  * IS [[graft.operators.Retrieval.kmeansClusters]]'s k-means
  * ([[PqIndex.trainCodebooksOn]] with one full-vector subspace), the
  * residual stage the same Lloyd machinery salted "ivfpq" — so the
  * whole build+query replays in SQL and the oracle hash-checks the
  * lossy ADC ranking itself (reference's ANN slot:
  * models/schema/m1_episodic.py:148-162).
  */
object IvfPq {

  /** Driver-held model: coarse centroids (nlist entries, tuple layout
    * (0, cluster, centroid)) + residual codebooks (m×ksub). */
  case class Model(
      coarse: Array[(Int, Int, Array[Double])],
      pq: Array[(Int, Int, Array[Double])],
      nlist: Int, m: Int, ksub: Int, dim: Int)

  private def unitFrame(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), PqIndex.unitVec(col("embedding")).as("uvec"))

  /** (vec_id, cluster, uvec = unit − centroid): each vector's coarse
    * cell and residual. One narrow pass + two broadcast joins. */
  private def residuals(
      unit: DataFrame, coarse: Seq[(Int, Int, Array[Double])],
      dim: Int): DataFrame = {
    val spark = unit.sparkSession
    import spark.implicits._
    val cents = coarse.map { case (_, c, v) => (c, v.toSeq) }
      .toDF("cluster", "centroid")
    val assigned = PqIndex.encodeOn(unit, coarse, m = 1, dim)
      .select(col("vec_id"), col("code").as("cluster"))
    unit.join(assigned, "vec_id")
      .join(broadcast(cents), "cluster")
      .select(col("vec_id"), col("cluster"),
        zip_with(col("uvec"), col("centroid"), (a, b) => a - b).as("uvec"))
  }

  /** Train coarse + residual quantizers. The coarse stage is exactly
    * the q77 k-means (salt "pq", one full-vector subspace, `nlist`
    * codes); the residual stage re-runs Lloyd on (vector − centroid)
    * under its own "ivfpq" md5 salt so the two sample draws are
    * independent. */
  def train(
      embeddings: DataFrame,
      nlist: Int = 8,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2,
      sampleRows: Int = 256,
      dim: Int = Schemas.EmbeddingDim): Model = {
    val unit = unitFrame(embeddings)
    val coarse = PqIndex.trainCodebooksOn(unit, 1, nlist, iters, sampleRows, dim)
    val res = residuals(unit, coarse.toSeq, dim)
    val pq = PqIndex.trainCodebooksOn(res.select("vec_id", "uvec"),
      m, ksub, iters, sampleRows, dim, salt = "ivfpq")
    Model(coarse, pq, nlist, m, ksub, dim)
  }

  /** Code table (vec_id, cluster, sub, code) — at scale persisted
    * partitioned by `cluster` so a probe is pure partition pruning
    * (the IvfIndex layout with 4-byte PQ payloads instead of full
    * vectors). The residual frame feeds both the encode and the
    * cluster column; pin it once rather than re-deriving per branch. */
  def encode(embeddings: DataFrame, model: Model): DataFrame = {
    val res = residuals(unitFrame(embeddings), model.coarse.toSeq, model.dim)
      .localCheckpoint(true)
    PqIndex.encodeOn(res.select("vec_id", "uvec"), model.pq.toSeq,
      model.m, model.dim)
      .join(res.select("vec_id", "cluster"), "vec_id")
      .select("vec_id", "cluster", "sub", "code")
  }

  private def dotL(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Coarse cells ranked by the one distance form used everywhere
    * (‖q‖² − 2·q·c + ‖c‖², ties to the smaller cluster id). */
  private def rankedCells(q: Array[Double], model: Model): Seq[Int] =
    model.coarse.map { case (_, c, cent) =>
      (dotL(q, q) - 2.0 * dotL(q, cent) + dotL(cent, cent), c)
    }.sortBy(identity).map(_._2).toSeq

  /** Top-k by residual ADC over the probed cells. Per probed cell the
    * LUT is rebuilt from the query's residual AGAINST THAT CELL
    * (q − centroid_c) — nProbe × m × ksub rows total, always broadcast.
    * The scan reads only the probed partitions, scores each row with
    * `m` lookups, and the per-vector sum is decimal-widened
    * (order-free) then truncated — same arithmetic family as q70, so
    * with `nProbe = nlist` the full lossy ranking replays in SQL. */
  def adcTopK(
      codes: DataFrame,
      model: Model,
      queryVec: Array[Float],
      topK: Int,
      nProbe: Int = 2,
      excludeId: Option[Long] = None): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    var qn = 0.0
    queryVec.foreach(v => qn += v.toDouble * v.toDouble)
    val nrm = math.sqrt(qn)
    val q = queryVec.map(v => if (nrm == 0.0) 0.0 else v.toDouble / nrm)
    val probed = rankedCells(q, model).take(nProbe)
    val centById = model.coarse.map { case (_, c, v) => c -> v }.toMap
    val lutRows = probed.flatMap { c =>
      val cent = centById(c)
      val qres = Array.tabulate(model.dim)(i => q(i) - cent(i))
      PqIndex.adcLutRaw(qres, model.pq.toSeq, model.m, model.dim)
        .map { case (s, code, d) => (c, s, code, d) }
    }
    val lutDf = lutRows.toDF("cluster", "sub", "code", "d")
    val scanned = codes.filter(col("cluster").isin(probed: _*))
    val filtered = excludeId.fold(scanned)(id => scanned.filter(col("vec_id") =!= id))
    filtered.join(broadcast(lutDf), Seq("cluster", "sub", "code"))
      .groupBy("vec_id")
      .agg(trunc6(dsum12(col("d"))).as("adc_dist"))
      .select(col("vec_id").as("id"), col("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(topK)
  }

  /** Per-vector ADC distance at FULL probe width, with each vector's
    * coarse cell RANK carried — the one-scan frame a frontier sweep
    * derives every (nProbe, oversample) operating point from as a
    * broadcast filter + windowed cut. This mirrors in the physical
    * plan what the q168 oracle already does in SQL: the training
    * chain, LUTs and per-vector distances are combo-independent, so
    * the 12-probe union form (12 codes scans + 12 LUT joins + 12
    * aggregations) collapses to ONE scan per query. Distances are
    * bit-identical to [[adcTopK]]'s — same per-cell LUT rows, same
    * decimal-widened sum, same trunc6 — and cell_rank is constant per
    * vector (its own cluster's rank for this query). */
  def adcSweep(
      codes: DataFrame,
      model: Model,
      queryVec: Array[Float],
      excludeId: Option[Long] = None): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    var qn = 0.0
    queryVec.foreach(v => qn += v.toDouble * v.toDouble)
    val nrm = math.sqrt(qn)
    val q = queryVec.map(v => if (nrm == 0.0) 0.0 else v.toDouble / nrm)
    val centById = model.coarse.map { case (_, c, v) => c -> v }.toMap
    val lutRows = rankedCells(q, model).zipWithIndex.flatMap { case (c, i) =>
      val cent = centById(c)
      val qres = Array.tabulate(model.dim)(j => q(j) - cent(j))
      PqIndex.adcLutRaw(qres, model.pq.toSeq, model.m, model.dim)
        .map { case (s, code, dd) => (c, i + 1L, s, code, dd) }
    }
    val lutDf = lutRows.toDF("cluster", "cell_rank", "sub", "code", "d")
    val filtered =
      excludeId.fold(codes)(id => codes.filter(col("vec_id") =!= id))
    filtered.join(broadcast(lutDf), Seq("cluster", "sub", "code"))
      .groupBy("vec_id")
      .agg(trunc6(dsum12(col("d"))).as("adc_dist"),
        max(col("cell_rank")).as("cell_rank"))
      .select(col("vec_id").as("id"), col("cell_rank"), col("adc_dist"))
  }

  /** ADC candidates + exact rescore (FAISS refine) — fetch only
    * topK×oversample full vectors by id, re-rank by exact cosine. */
  def adcTopKRescored(
      codes: DataFrame,
      model: Model,
      embeddings: DataFrame,
      queryVec: Array[Float],
      topK: Int,
      nProbe: Int = 2,
      oversample: Int = 4,
      excludeId: Option[Long] = None): DataFrame =
    PqIndex.rescore(
      adcTopK(codes, model, queryVec, topK * oversample, nProbe, excludeId)
        .select(col("id")),
      embeddings, queryVec, topK)

  /** The stored layout: ONE row per vector — (cluster, vec_id, codes) —
    * so the on-disk index is `m` small ints per vector inside
    * cluster-partitioned files. The row layout [[adcTopK]] consumes is
    * derived back by a narrow posexplode. */
  def encodeArrays(embeddings: DataFrame, model: Model): DataFrame =
    encode(embeddings, model)
      .groupBy("vec_id", "cluster")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Train + encode — the build step of the index lifecycle. */
  def build(
      embeddings: DataFrame,
      nlist: Int = 8,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2,
      sampleRows: Int = 256,
      dim: Int = Schemas.EmbeddingDim): IvfPqIndex = {
    val model = train(embeddings, nlist, m, ksub, iters, sampleRows, dim)
    // fit flag per code row (same contract as PqIndex.build): lets a
    // stale rebuild carry fitRows exactly instead of proportionally
    new IvfPqIndex(model,
      encodeArrays(embeddings, model).withColumn("fit", lit(true)),
      fitRows = embeddings.count())
  }

  /** Reopen a saved index: both codebooks to the driver, codes a lazy
    * cluster-partitioned scan pinned to the version committed at open
    * time (pointer-CAS lifecycle shared with the other indexes). */
  def load(spark: SparkSession, basePath: String): IvfPqIndex =
    loadDir(spark, VectorIndex.committedDir(spark, basePath, "ivfpq"))

  /** [[load]] from a resolved version dir. */
  private[pipeline] def loadDir(spark: SparkSession, vp: String): IvfPqIndex = {
    def cb(sub: String) = spark.read.parquet(s"$vp/$sub").collect()
      .map(r => (r.getAs[Number]("sub").intValue(),
        r.getAs[Number]("code").intValue(),
        r.getAs[scala.collection.Seq[Double]]("centroid").toArray))
      .sortBy(t => (t._1, t._2))
    val meta = spark.read.parquet(s"$vp/ivfpq_meta").head()
    val model = Model(cb("ivfpq_coarse"), cb("ivfpq_codebook"),
      nlist = meta.getAs[Number]("nlist").intValue(),
      m = meta.getAs[Number]("m").intValue(),
      ksub = meta.getAs[Number]("ksub").intValue(),
      dim = meta.getAs[Number]("dim").intValue())
    new IvfPqIndex(model, spark.read.parquet(s"$vp/ivfpq_codes"),
      fitRows = meta.getAs[Number]("n_fit_rows").longValue(),
      srcDir = Some(vp))
  }
}

/** A persisted IVF-PQ index handle: model on the driver (nlist + m×ksub
  * centroids — a few KB), codes a lazy scan of cluster-partitioned
  * parquet so a probe of `nProbe` cells reads only those directories
  * (partition pruning does the inverted-list seek). */
class IvfPqIndex private[pipeline] (
    val model: IvfPq.Model,
    val codesArr: DataFrame,
    val fitRows: Long,
    private val srcDir: Option[String] = None) extends VectorIndex {

  def kind: String = "ivfpq"

  /** Row-layout view (vec_id, cluster, sub, code) — the query form. */
  def codes: DataFrame = codesArr.select(col("vec_id"), col("cluster"),
    posexplode(col("codes")).as(Seq("sub", "code")))

  /** Vectors currently encoded — counted ONCE per handle (the scan is
    * pinned to this handle's version dir; KeywordIndex.nDocs
    * convention). */
  @transient lazy val nVectors: Long = codesArr.count()

  def ids: DataFrame = codesArr.select("vec_id")
  def candidates(q: Array[Float], k: Int, nProbe: Int,
      embeddings: => DataFrame): DataFrame =
    query(q, k, nProbe, rescoreFrom = Some(embeddings))

  def refit(vecs: DataFrame): VectorIndex =
    IvfPq.build(vecs, nlist = model.nlist, m = model.m, ksub = model.ksub, dim = model.dim)

  def withoutDead(liveVecs: DataFrame): VectorIndex =
    VectorIndex.liveCodeRebuild(this, codesArr, liveVecs,
      IvfPq.encodeArrays(_, model),
      (codes, fit) => new IvfPqIndex(model, codes, fitRows = fit))

  /** Encode NEW vectors with the EXISTING quantizers (coarse cell +
    * residual codes) and append into the cluster partitions — the
    * incremental-add contract shared with IvfIndex/PqIndex. Returns
    * the drift ratio (fraction the quantizers were never fit on); the
    * caller schedules a re-train past a threshold. */
  def addVectors(newVecs: DataFrame, basePath: String): Double = {
    val vp = srcDir.getOrElse(throw new IllegalStateException(
      "addVectors requires a handle opened with IvfPq.load (save first, then load)"))
    IvfPq.encodeArrays(newVecs, model)
      .withColumn("fit", lit(false))
      .write.mode(SaveMode.Append).partitionBy("cluster")
      .parquet(s"$vp/ivfpq_codes")
    VectorIndex.drift(newVecs.sparkSession, s"$vp/ivfpq_codes", fitRows)
  }

  def query(queryVec: Array[Float], topK: Int,
      nProbe: Int = 2,
      excludeId: Option[Long] = None,
      rescoreFrom: Option[DataFrame] = None,
      oversample: Int = 4): DataFrame =
    rescoreFrom match {
      case Some(raw) => IvfPq.adcTopKRescored(codes, model, raw, queryVec,
        topK, nProbe, oversample, excludeId)
      case None => IvfPq.adcTopK(codes, model, queryVec, topK, nProbe, excludeId)
    }

  /** Persist codes (partitioned by cluster) + both codebooks + meta
    * into a fresh version dir, committed with the pointer CAS. */
  def save(basePath: String): Unit = {
    val spark = codesArr.sparkSession
    import spark.implicits._
    val name = TableOps.nextArtifactDir(spark, basePath, kind)
    val vp = s"$basePath/$name"
    codesArr.write.mode(SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$vp/ivfpq_codes")
    def writeCb(cb: Array[(Int, Int, Array[Double])], sub: String): Unit =
      cb.toSeq.map { case (s, c, v) => (s, c, v.toSeq) }
        .toDF("sub", "code", "centroid")
        .write.mode(SaveMode.Overwrite).parquet(s"$vp/$sub")
    writeCb(model.coarse, "ivfpq_coarse")
    writeCb(model.pq, "ivfpq_codebook")
    Seq((model.nlist, model.m, model.ksub, model.dim, fitRows))
      .toDF("nlist", "m", "ksub", "dim", "n_fit_rows")
      .write.mode(SaveMode.Overwrite).parquet(s"$vp/ivfpq_meta")
    TableOps.commitArtifactDir(spark, basePath, kind, name)
  }
}
