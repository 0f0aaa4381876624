package graft.pipeline

import graft.functions.TextFunctions.{davg, dsum12, trunc6}
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding columns — the memory side of
  * the 100 TB ANN story (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search"; the reference's DiskANN schema compresses to
  * 2 bits/dim the same way, models/schema/m1_episodic.py:148-162).
  *
  * A `dim`-d vector is split into `m` subvectors of `dim/m` dims; each
  * subspace gets its own `ksub`-entry codebook, so a vector stores as
  * `m` small codes (m=8, ksub=16 → 4 bytes instead of 256: a 64×
  * compression). Queries run by ASYMMETRIC DISTANCE (ADC): one
  * m×ksub lookup table of exact query-to-centroid distances, then each
  * stored vector scores as a sum of m table lookups — no decode.
  *
  * Everything here is DETERMINISTIC and engine-portable, which is what
  * makes the oracle possible: codebook init picks seed rows by md5
  * order (not a seeded RNG), Lloyd refinement computes centroid means
  * through the decimal-widened [[davg]] (accumulation-order-free), and
  * every distance uses the one algebraic form ‖x‖² − 2·x·c + ‖c‖² whose
  * float parity with DuckDB's `list_dot_product` the cosine family
  * already proves. Vectors are L2-normalized first, so ascending ADC
  * distance ranks like descending cosine.
  *
  * Shape at scale: training touches only an md5-chosen sample (FAISS
  * practice; the full corpus never feeds k-means), the codebook is
  * m×ksub rows (always broadcast), encode is one narrow pass over the
  * corpus joined against the broadcast codebook, and the ADC scan reads
  * `m` small ints per row instead of `dim` floats.
  */
object PqIndex {

  /** L2-normalize a float/double array column to unit norm (zero vectors
    * stay zero). Same element order of operations as the SQL twin:
    * CAST to double, divide by sqrt(list_dot_product(v, v)). */
  def unitVec(e: Column): Column = {
    val nrm = sqrt(VectorFunctions.dot(e, e))
    transform(e, v =>
      when(nrm === 0d, lit(0.0)).otherwise(v.cast("double") / nrm))
  }

  /** (vec_id, sub, subvec, xx) rows: the m subvectors of each unit
    * vector, with ‖subvec‖² precomputed once per row. */
  private def subRows(unit: DataFrame, m: Int, dim: Int): DataFrame = {
    val dsub = dim / m
    unit.select(col("vec_id"),
      posexplode(array((0 until m).map(j =>
        slice(col("uvec"), j * dsub + 1, dsub)): _*)).as(Seq("sub", "subvec")))
      .withColumn("xx", VectorFunctions.dot(col("subvec"), col("subvec")))
  }

  /** Nearest code per (vec_id, sub) against a broadcast codebook:
    * argmin over ksub candidates of (‖x‖² − 2·x·c + ‖c‖²), ties to the
    * smaller code. Keeps the subvector (for the training means). */
  private def assign(
      sub: DataFrame, cb: Seq[(Int, Int, Array[Double])]): DataFrame = {
    val spark = sub.sparkSession
    import spark.implicits._
    val cbDf = cb.map { case (s, c, v) =>
      (s, c, v.toSeq, dotLocal(v, v))
    }.toDF("sub", "code", "centroid", "cc")
    sub.join(broadcast(cbDf), "sub")
      .withColumn("d",
        col("xx") - lit(2.0) * VectorFunctions.dot(col("subvec"), col("centroid"))
          + col("cc"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d"), col("code"), col("subvec"))).as("b"))
      .select(col("vec_id"), col("sub"),
        col("b.code").as("code"), col("b.subvec").as("subvec"))
  }

  /** Plain in-order double dot product — bit-identical to both the
    * codegen'd [[VectorFunctions.DotProduct]] loop and DuckDB's
    * `list_dot_product`. */
  private def dotLocal(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Train the m per-subspace codebooks: seed centroids are the
    * subvectors of the first `ksub` sample rows in md5(vec_id) order,
    * refined by `iters` Lloyd steps whose means run through the
    * decimal-widened [[davg]] (so both engines compute bit-identical
    * centroids); a code that captures no rows keeps its previous
    * centroid. Returns (sub, code, centroid) on the driver — m×ksub
    * entries, broadcast-sized by construction. */
  def trainCodebooks(
      embeddings: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2,
      sampleRows: Int = 256,
      dim: Int = Schemas.EmbeddingDim): Array[(Int, Int, Array[Double])] =
    trainCodebooksOn(
      embeddings.select(col("vec_id"), unitVec(col("embedding")).as("uvec")),
      m, ksub, iters, sampleRows, dim)

  /** [[trainCodebooks]] over a PREPARED (vec_id, uvec) frame — no
    * normalization applied, so residual vectors (IVF-PQ) train as-is.
    * `salt` decorrelates the md5 sample/seed order between pipelines
    * that share vec_ids (coarse vs residual stages). */
  def trainCodebooksOn(
      unitIn: DataFrame,
      m: Int,
      ksub: Int,
      iters: Int,
      sampleRows: Int,
      dim: Int = Schemas.EmbeddingDim,
      salt: String = "pq"): Array[(Int, Int, Array[Double])] = {
    val unit = unitIn.select(col("vec_id"), col("uvec"))
      .withColumn("mh", md5(concat(lit(s"$salt|"), col("vec_id").cast("string"))))
    val sample = unit.orderBy(col("mh"), col("vec_id")).limit(sampleRows)
    val sr = subRows(sample, m, dim).persist()
    try {
      val seeds = unit.orderBy(col("mh"), col("vec_id")).limit(ksub)
        .withColumn("code",
          (row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("mh"), col("vec_id"))) - 1).cast("int"))
      var cb: Array[(Int, Int, Array[Double])] =
        subRows(seeds.select(col("code").as("vec_id"), col("uvec")), m, dim)
          .select(col("sub"), col("vec_id").cast("int").as("code"), col("subvec"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1),
            r.getAs[scala.collection.Seq[Double]]("subvec").toArray))
          .sortBy(t => (t._1, t._2))
      for (_ <- 1 to iters) {
        val best = assign(sr, cb.toSeq)
        val means = best
          .select(col("sub"), col("code"), posexplode(col("subvec")).as(Seq("pos", "v")))
          .groupBy("sub", "code", "pos")
          .agg(davg(col("v")).as("mv"))
          .groupBy("sub", "code")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
            s => s.getField("mv")).as("centroid"))
          .collect()
          .map(r => ((r.getInt(0), r.getInt(1)),
            r.getAs[scala.collection.Seq[Double]]("centroid").toArray))
          .toMap
        cb = cb.map { case (s, c, old) => (s, c, means.getOrElse((s, c), old)) }
      }
      cb
    } finally sr.unpersist()
  }

  /** Encode a corpus against a trained codebook: (vec_id, sub, code) —
    * the row layout (m rows per vector; [[encodeArrays]] is the compact
    * stored form). One narrow pass + the broadcast codebook join. */
  def encode(
      embeddings: DataFrame,
      cb: Seq[(Int, Int, Array[Double])],
      m: Int = 8,
      dim: Int = Schemas.EmbeddingDim): DataFrame =
    encodeOn(
      embeddings.select(col("vec_id"), unitVec(col("embedding")).as("uvec")),
      cb, m, dim)

  /** [[encode]] over a PREPARED (vec_id, uvec) frame (no
    * normalization) — the residual-encode step of IVF-PQ. */
  def encodeOn(
      unit: DataFrame,
      cb: Seq[(Int, Int, Array[Double])],
      m: Int = 8,
      dim: Int = Schemas.EmbeddingDim): DataFrame =
    assign(subRows(unit.select(col("vec_id"), col("uvec")), m, dim), cb)
      .select("vec_id", "sub", "code")

  /** The compact code-table layout: ONE row per vector with its m codes
    * in subspace order — what the index stores and what the codegen'd
    * [[graft.functions.PqAdc]] expression scans. */
  def encodeArrays(
      embeddings: DataFrame,
      cb: Seq[(Int, Int, Array[Double])],
      m: Int = 8,
      dim: Int = Schemas.EmbeddingDim): DataFrame =
    encode(embeddings, cb, m, dim)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Row layout back out of the array layout: (vec_id, sub, code) via
    * posexplode — narrow (no shuffle), so the decimal-exact
    * [[adcTopK]] semantics cost nothing extra to derive from storage. */
  def explodeCodes(codesArr: DataFrame): DataFrame =
    codesArr.select(col("vec_id"),
      posexplode(col("codes")).as(Seq("sub", "code")))

  /** The LUT flattened to subspace-major order for [[graft.functions.PqAdc]]:
    * flat(s·ksub + c) = d(s, c). */
  def flatLut(lut: Seq[(Int, Int, Double)], ksub: Int): Array[Double] = {
    val a = new Array[Double](lut.size)
    lut.foreach { case (s, c, d) => a(s * ksub + c) = d }
    a
  }

  /** ADC lookup table for a (raw, un-normalized) query vector: exact
    * distance from each query subvector to each codebook centroid —
    * m×ksub rows, computed on the driver with the same float ops as
    * the SQL twin. */
  def adcLut(
      queryVec: Array[Float],
      cb: Seq[(Int, Int, Array[Double])],
      m: Int,
      dim: Int = Schemas.EmbeddingDim): Seq[(Int, Int, Double)] = {
    var qn = 0.0
    var qi = 0
    while (qi < queryVec.length) {
      qn += queryVec(qi).toDouble * queryVec(qi).toDouble; qi += 1
    }
    val nrm = math.sqrt(qn)
    adcLutRaw(queryVec.map(v => if (nrm == 0.0) 0.0 else v.toDouble / nrm),
      cb, m, dim)
  }

  /** [[adcLut]] over an already-prepared double query vector (no
    * normalization) — the per-cluster residual LUTs of IVF-PQ. */
  def adcLutRaw(
      q: Array[Double],
      cb: Seq[(Int, Int, Array[Double])],
      m: Int,
      dim: Int = Schemas.EmbeddingDim): Seq[(Int, Int, Double)] = {
    val dsub = dim / m
    cb.map { case (s, c, cent) =>
      val qs = java.util.Arrays.copyOfRange(q, s * dsub, s * dsub + dsub)
      (s, c, (dotLocal(qs, qs) - 2.0 * dotLocal(qs, cent)) + dotLocal(cent, cent))
    }
  }

  /** Top-k by ADC over an encoded corpus: join the m-rows-per-vector
    * code table with the broadcast LUT, sum the m lookups per vector
    * (decimal-widened — order-free), ascending distance. With unit
    * vectors this ranks like descending cosine. */
  def adcTopK(
      codes: DataFrame,
      lut: Seq[(Int, Int, Double)],
      topK: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val lutDf = lut.toDF("sub", "code", "d")
    val filtered = excludeId.fold(codes)(id => codes.filter(col("vec_id") =!= id))
    filtered.join(broadcast(lutDf), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(trunc6(dsum12(col("d"))).as("adc_dist"))
      .select(col("vec_id").as("id"), col("adc_dist"))
      .orderBy(col("adc_dist"), col("id"))
      .limit(topK)
  }

  /** Top-k by ADC over the ARRAY-layout code table via the codegen'd
    * [[graft.functions.PqAdc]] expression: the whole scan is one
    * per-row lookup-sum feeding TakeOrdered directly — no code explode,
    * no join, no aggregation exchange. Accumulates in Double in
    * subspace order instead of [[adcTopK]]'s decimal-widened sum, so
    * the 6th truncated decimal can differ within ~1e-12 of a boundary;
    * the row path stays the oracle-parity form, this is the scan you
    * run at 100 TB (and always under exact rescore in the facade). */
  def adcTopKArrays(
      codesArr: DataFrame,
      lut: Seq[(Int, Int, Double)],
      ksub: Int,
      topK: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val flat = flatLut(lut, ksub)
    val filtered = excludeId.fold(codesArr)(id => codesArr.filter(col("vec_id") =!= id))
    filtered
      .select(col("vec_id").as("id"),
        trunc6(VectorFunctions.pqAdc(col("codes"), flat, ksub)).as("adc_dist"))
      // PqAdc returns null on an out-of-range code (corrupt stored row);
      // ascending sort is NULLS FIRST, so an unfiltered null would rank
      // as the best match of every query
      .filter(col("adc_dist").isNotNull)
      .orderBy(col("adc_dist"), col("id"))
      .limit(topK)
  }

  /** Exact-rescore step shared by both candidate paths (FAISS's refine):
    * only the candidate ids are fetched — by id, a tiny semi-join at
    * any scale — and scored with full-precision cosine. */
  private[pipeline] def rescore(
      cand: DataFrame,
      embeddings: DataFrame,
      queryVec: Array[Float],
      topK: Int): DataFrame =
    cand.join(embeddings, cand("id") === embeddings("vec_id"))
      .withColumn("score",
        trunc6(VectorFunctions.cosine(col("embedding"), typedlit(queryVec.toSeq))))
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)

  /** ADC top-(k·oversample) candidates, exact-rescored against the raw
    * vectors (FAISS's refine step): the compressed scan ranks the whole
    * corpus from codes alone, then only `topK × oversample` full
    * vectors are fetched for exact cosine. Recovers most of the recall
    * ADC alone gives up. */
  def adcTopKRescored(
      codes: DataFrame,
      lut: Seq[(Int, Int, Double)],
      embeddings: DataFrame,
      queryVec: Array[Float],
      topK: Int,
      oversample: Int = 4,
      excludeId: Option[Long] = None): DataFrame =
    rescore(adcTopK(codes, lut, topK * oversample, excludeId).select(col("id")),
      embeddings, queryVec, topK)

  /** Train + encode in one call — the build step of the index
    * lifecycle. */
  def build(
      embeddings: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      iters: Int = 2,
      sampleRows: Int = 256,
      dim: Int = Schemas.EmbeddingDim): PqIndex = {
    val cb = trainCodebooks(embeddings, m, ksub, iters, sampleRows, dim)
    // fit flag per code row: build-time rows are what the codebooks were
    // trained against; incremental adds write fit=false. A stale rebuild
    // can then carry fitRows EXACTLY (count of surviving fit rows)
    // instead of assuming deletes hit fit/unfit rows proportionally —
    // skewed deletes would otherwise under-report drift indefinitely
    val codesArr = encodeArrays(embeddings, cb.toSeq, m, dim)
      .withColumn("fit", lit(true))
    new PqIndex(cb, codesArr, m, dim, fitRows = embeddings.count())
  }

  /** Reopen a saved index — codebook to the driver, codes a lazy scan
    * pinned to the version committed at open time. */
  def load(spark: SparkSession, basePath: String): PqIndex =
    loadDir(spark, VectorIndex.committedDir(spark, basePath, "pq"))

  /** [[load]] from a resolved version dir. */
  private[pipeline] def loadDir(spark: SparkSession, vp: String): PqIndex = {
    val cb = spark.read.parquet(s"$vp/pq_codebook").collect()
      .map(r => (r.getAs[Number]("sub").intValue(),
        r.getAs[Number]("code").intValue(),
        r.getAs[scala.collection.Seq[Double]]("centroid").toArray))
      .sortBy(t => (t._1, t._2))
    val meta = spark.read.parquet(s"$vp/pq_meta").head()
    new PqIndex(cb, spark.read.parquet(s"$vp/pq_codes"),
      m = meta.getAs[Number]("m").intValue(),
      dim = meta.getAs[Number]("dim").intValue(),
      fitRows = meta.getAs[Number]("n_fit_rows").longValue(),
      srcDir = Some(vp))
  }
}

/** A persisted PQ index handle: codebook on the driver (m×ksub — tiny),
  * codes a lazy scan pinned to the version dir committed at open time.
  * Stored layout is the compact array form (ONE row per vector, m small
  * ints — the 64× compression is realized on disk); the m-rows-per-
  * vector layout the decimal-exact [[PqIndex.adcTopK]] consumes is
  * derived by a narrow posexplode, so both query forms read one file
  * set. Same versioned-artifact lifecycle as [[IvfIndex]]/
  * [[KeywordIndex]]: save materializes a fresh version dir and
  * pointer-CAS commits it, so a query racing a rebuild keeps its own
  * files. */
class PqIndex private[pipeline] (
    val codebook: Array[(Int, Int, Array[Double])],
    val codesArr: DataFrame,
    val m: Int,
    val dim: Int,
    val fitRows: Long,
    private val srcDir: Option[String] = None) extends VectorIndex {

  def kind: String = "pq"

  def ksub: Int = codebook.count(_._1 == 0)

  /** Row-layout view (vec_id, sub, code) — oracle-parity query form. */
  def codes: DataFrame = PqIndex.explodeCodes(codesArr)

  /** Vectors currently encoded in the table — counted ONCE per handle
    * (the codes scan is pinned to this handle's version dir, so the
    * number can't change underneath it; same convention as
    * KeywordIndex.nDocs). One row per vector: a plain count. */
  @transient lazy val nVectors: Long = codesArr.count()

  def ids: DataFrame = codesArr.select("vec_id")

  /** `fast`: candidates from the codegen'd array scan (no explode, no
    * exchange); the exact rescore makes the scores the scan path's. */
  def candidates(q: Array[Float], k: Int, nProbe: Int,
      embeddings: => DataFrame): DataFrame =
    query(q, k, rescoreFrom = Some(embeddings), fast = true)

  def refit(vecs: DataFrame): VectorIndex = PqIndex.build(vecs, m = m, ksub = ksub, dim = dim)

  def withoutDead(liveVecs: DataFrame): VectorIndex =
    VectorIndex.liveCodeRebuild(this, codesArr, liveVecs,
      PqIndex.encodeArrays(_, codebook.toSeq, m, dim),
      (codes, fit) => new PqIndex(codebook, codes, m, dim, fitRows = fit))

  /** Top-k ADC neighbors of `queryVec` (see [[PqIndex.adcTopK]]); pass
    * `rescoreFrom = Some(rawEmbeddings)` for the exact-rescored variant
    * ([[PqIndex.adcTopKRescored]]). `fast = true` routes candidate
    * generation through the codegen'd array scan
    * ([[PqIndex.adcTopKArrays]] — no explode, no exchange); the default
    * keeps the decimal-exact row path the oracle mirrors. */
  def query(queryVec: Array[Float], topK: Int,
      excludeId: Option[Long] = None,
      rescoreFrom: Option[DataFrame] = None,
      oversample: Int = 4,
      fast: Boolean = false): DataFrame = {
    val lut = PqIndex.adcLut(queryVec, codebook.toSeq, m, dim)
    def cand(k: Int): DataFrame =
      if (fast) PqIndex.adcTopKArrays(codesArr, lut, ksub, k, excludeId)
      else PqIndex.adcTopK(codes, lut, k, excludeId)
    rescoreFrom match {
      case Some(raw) => PqIndex.rescore(
        cand(topK * oversample).select(col("id")), raw, queryVec, topK)
      case None => cand(topK)
    }
  }

  /** Encode NEW vectors with the EXISTING codebook and append — the
    * incremental-add contract of the other indexes. Returns the drift
    * ratio (fraction of the table the codebook was never fit on); the
    * caller schedules a re-train past a threshold. */
  def addVectors(newVecs: DataFrame, basePath: String): Double = {
    // a built-but-never-loaded handle has no version dir of its own —
    // appending into whatever dir happens to be committed would write
    // files this handle's codes scan never reads and skew the drift
    val vp = srcDir.getOrElse(throw new IllegalStateException(
      "addVectors requires a handle opened with PqIndex.load (save first, then load)"))
    PqIndex.encodeArrays(newVecs, codebook.toSeq, m, dim)
      .withColumn("fit", lit(false))
      .write.mode(SaveMode.Append).parquet(s"$vp/pq_codes")
    VectorIndex.drift(newVecs.sparkSession, s"$vp/pq_codes", fitRows)
  }

  /** Persist codes + codebook + fit metadata into a fresh version dir,
    * committed with the pointer CAS. */
  def save(basePath: String): Unit = {
    val spark = codesArr.sparkSession
    import spark.implicits._
    val name = TableOps.nextArtifactDir(spark, basePath, kind)
    val vp = s"$basePath/$name"
    codesArr.write.mode(SaveMode.Overwrite).parquet(s"$vp/pq_codes")
    codebook.toSeq.map { case (s, c, v) => (s, c, v.toSeq) }
      .toDF("sub", "code", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(s"$vp/pq_codebook")
    Seq((fitRows, m, dim)).toDF("n_fit_rows", "m", "dim")
      .write.mode(SaveMode.Overwrite).parquet(s"$vp/pq_meta")
    TableOps.commitArtifactDir(spark, basePath, kind, name)
  }
}
