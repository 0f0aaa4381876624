package graft.pipeline

import graft.functions.TextFunctions.trunc6
import graft.functions.VectorFunctions
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index: k-means coarse quantizer + cluster
  * assignment, probe the nProbe nearest centroids at query time and
  * exact-rescore inside them.
  *
  * This is the realistic 100 TB replacement for the reference's
  * StreamingDiskANN index (models/schema/m1_episodic.py:148-162): the
  * centroid table is tiny (broadcast/driver-held), the vector table is
  * persisted partitioned by `cluster` so a probe reads nProbe/nlist of
  * the data as pure partition pruning, and both build and query are
  * plain DataFrame jobs. Recall is tuned with nProbe.
  */
class IvfIndex private[pipeline] (
    val centroids: Array[(Int, Array[Double])],
    val assigned: DataFrame,
    val fitRows: Long,
    // the version dir this handle was opened from: incremental adds go
    // HERE, never to a version committed after open (whose centroids
    // this handle does not hold)
    private val srcDir: Option[String] = None) extends VectorIndex {

  def kind: String = "ivf"
  @transient lazy val nVectors: Long = assigned.count()
  def ids: DataFrame = assigned.select("vec_id")
  def candidates(q: Array[Float], k: Int, nProbe: Int,
      embeddings: => DataFrame): DataFrame = query(q, k, nProbe)
  def refit(vecs: DataFrame): VectorIndex = IvfIndex.build(vecs.sparkSession, vecs, nlist)
  def withoutDead(liveVecs: DataFrame): VectorIndex = refit(liveVecs)

  /** Top-k cosine neighbors of `queryVec`, probing `nProbe` clusters.
    * `excludeId` drops the query's own row BEFORE the limit, so with
    * `nProbe = nlist` (exhaustive probe) the result is exactly the
    * brute-force KNN of everything-but-self — the property the oracle
    * check exploits. */
  def query(
      queryVec: Array[Float],
      topK: Int,
      nProbe: Int = 2,
      excludeId: Option[Long] = None): DataFrame = {
    def dist2(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - queryVec(i); s += d * d; i += 1 }
      s
    }
    val probed = centroids.sortBy { case (_, c) => dist2(c) }
      .take(nProbe).map(_._1).toSeq
    val qvec = typedlit(queryVec.toSeq)
    val scanned = assigned
      .filter(col("cluster").isin(probed: _*)) // partition pruning at scale
    val filtered = excludeId.fold(scanned)(id => scanned.filter(col("vec_id") =!= id))
    filtered
      .withColumn("score", trunc6(VectorFunctions.cosine(col("embedding"), qvec)))
      .select(col("vec_id").as("id"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)
  }

  def nlist: Int = centroids.length

  /** Incremental maintenance (the reference maintains DiskANN per
    * insert, pgvectorscale_store.py:244-260): assign each NEW vector to
    * its nearest EXISTING centroid — the k-means assignment step as a
    * pure expression, ranking by ‖c‖² − 2·x·c which orders identically
    * to Euclidean distance (‖x‖² is constant per row) — and append to
    * the cluster-partitioned table. The quantizer is NOT re-fit; returns
    * the post-append drift ratio — the fraction of the table the
    * quantizer was never fit on (total − fit-time rows) / total, from
    * the persisted fit metadata — so the caller can schedule a full
    * re-fit when it crosses a threshold (the standard IVF maintenance
    * contract). Handles opened before the update are stale — reload
    * after. */
  def addVectors(newVecs: DataFrame, basePath: String): Double = {
    // same guard as PqIndex.addVectors: a built-but-never-loaded handle
    // would append into a version dir its own scan never reads
    val vp = srcDir.getOrElse(throw new IllegalStateException(
      "addVectors requires a handle opened with IvfIndex.load (save first, then load)"))
    val ranked = centroids.map { case (i, c) =>
      val c2 = c.map(v => v * v).sum
      struct(
        (lit(c2) - lit(2.0) * VectorFunctions.dot(col("embedding"), typedlit(c.toSeq)))
          .as("d"),
        lit(i).as("c"))
    }
    newVecs
      .withColumn("cluster", array_min(array(ranked.toIndexedSeq: _*)).getField("c"))
      .select("vec_id", "embedding", "cluster")
      .write.mode(SaveMode.Append).partitionBy("cluster")
      .parquet(s"$vp/ivf_assigned")
    VectorIndex.drift(newVecs.sparkSession, s"$vp/ivf_assigned", fitRows)
  }

  /** Persist the index: assignments partitioned by `cluster` (the probe
    * is then pure partition pruning), the centroid table, and the
    * fit-time row count (the drift baseline for [[addVectors]]). A save
    * materializes a fresh VERSION dir and commits it with a pointer CAS
    * ([[TableOps.commitArtifactDir]]) — a query racing the rebuild keeps
    * reading its own version's files. */
  def save(basePath: String): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val name = TableOps.nextArtifactDir(spark, basePath, kind)
    val vp = s"$basePath/$name"
    assigned.write.mode(SaveMode.Overwrite)
      .partitionBy("cluster").parquet(s"$vp/ivf_assigned")
    centroids.toSeq.map { case (i, c) => (i, c.toSeq) }
      .toDF("cluster", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(s"$vp/ivf_centroids")
    Seq(fitRows).toDF("n_fit_rows")
      .write.mode(SaveMode.Overwrite).parquet(s"$vp/ivf_meta")
    TableOps.commitArtifactDir(spark, basePath, kind, name)
  }
}

object IvfIndex {

  /** Build the index: fit k-means (fixed seed → deterministic) and attach
    * a `cluster` id to every row. The fit runs on AT MOST `maxFitRows`
    * sampled rows — k-means needs only a representative sample for stable
    * centroids, and fitting the full table at 100 TB would be a
    * multi-pass scan of everything. Assignment (transform) is a single
    * narrow pass over the full table. */
  def build(
      spark: SparkSession,
      embeddings: DataFrame,
      nlist: Int,
      seed: Long = 42L,
      maxFitRows: Long = 200000L): IvfIndex = {
    import org.apache.spark.ml.functions.array_to_vector
    val withFeatures = embeddings
      .withColumn("features", array_to_vector(col("embedding")))
    val total = withFeatures.count()
    val fitSet =
      if (total > maxFitRows)
        withFeatures.sample(withReplacement = false,
          fraction = maxFitRows.toDouble / total, seed = seed)
      else withFeatures
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setFeaturesCol("features")
      .fit(fitSet)
    val assigned = model.transform(withFeatures)
      .withColumnRenamed("prediction", "cluster")
      .select("vec_id", "embedding", "cluster")
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (v, i) => (i, v.toArray) }
    new IvfIndex(centroids, assigned, fitRows = total)
  }

  /** Reopen a saved index — centroids to the driver (tiny), assignments
    * stay a lazy partitioned scan pinned to the version dir committed at
    * open time (a concurrent rebuild never yanks this handle's files). */
  def load(spark: SparkSession, basePath: String): IvfIndex =
    loadDir(spark, VectorIndex.committedDir(spark, basePath, "ivf"))

  /** [[load]] from a resolved version dir. */
  private[pipeline] def loadDir(spark: SparkSession, vp: String): IvfIndex = {
    val centroids = spark.read.parquet(s"$vp/ivf_centroids")
      .collect()
      .map(r => (r.getAs[Number]("cluster").intValue(),
        r.getAs[scala.collection.Seq[Double]]("centroid").toArray))
    val assigned = spark.read.parquet(s"$vp/ivf_assigned")
    val fitRows = spark.read.parquet(s"$vp/ivf_meta").head().getLong(0)
    new IvfIndex(centroids, assigned, fitRows, srcDir = Some(vp))
  }
}
