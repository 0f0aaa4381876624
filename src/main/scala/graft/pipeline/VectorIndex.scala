package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One handle over the facade's ANN backends ([[IvfIndex]], [[PqIndex]],
  * [[IvfPqIndex]]): the facade and the streaming upkeep pick the backend
  * ONCE, at open, then only talk to this interface. Vector frames are
  * (vec_id, embedding).
  */
trait VectorIndex {
  /** The artifact family, also the prefix of its version dirs. */
  def kind: String
  /** Indexed vectors (live + tombstoned), counted once per handle. */
  def nVectors: Long
  /** Rows the quantizer was fit on (every save records it). */
  def fitRows: Long
  /** One `vec_id` row per indexed vector. */
  def ids: DataFrame

  /** Top-`k` (id, score) with the scan path's trunc6 cosine scores: the
    * IVF probe scores exactly, the PQ family exact-rescores its ADC
    * candidates against `embeddings` (which only they read). */
  def candidates(q: Array[Float], k: Int, nProbe: Int,
      embeddings: => DataFrame): DataFrame

  /** Append NEW vectors against the existing quantizer; returns the
    * drift ratio ([[VectorIndex.drift]]). */
  def addVectors(newVecs: DataFrame, basePath: String): Double

  /** Re-train (unsaved) with this handle's own geometry — a drift
    * rebuild never silently changes code size or recall. */
  def refit(vecs: DataFrame): VectorIndex

  /** The index rebuilt (unsaved) over the live vectors after deletes. */
  def withoutDead(liveVecs: DataFrame): VectorIndex

  def save(basePath: String): Unit
}

object VectorIndex {

  /** The families in open precedence ([[MemFuse.buildIndexes]] retires
    * all but one, so normally only one is live). */
  val Kinds: Seq[String] = Seq("ivfpq", "pq", "ivf")

  /** Re-fit once more than this fraction of the table was never fit on. */
  val RefitDrift = 0.5

  /** Train the `kind` backend over `vecs` (`nlist` is ignored by pq). */
  def build(kind: String, vecs: DataFrame, nlist: Int): VectorIndex = kind match {
    case "ivf"   => IvfIndex.build(vecs.sparkSession, vecs, nlist)
    case "pq"    => PqIndex.build(vecs)
    case "ivfpq" => IvfPq.build(vecs, nlist = nlist)
    case other => throw new IllegalArgumentException(
      s"vectorIndex must be ivf|pq|ivfpq, got $other")
  }

  /** Open the live vector index under `base`, if any: ONE pointer
    * listing, the first live family in [[Kinds]] order. */
  def open(spark: SparkSession, base: String): Option[VectorIndex] = {
    val live = TableOps.currentArtifactDirs(spark, base, Kinds)
    Kinds.find(live.contains).map { k =>
      val vp = s"$base/${live(k)}"
      k match {
        case "ivf" => IvfIndex.loadDir(spark, vp)
        case "pq"  => PqIndex.loadDir(spark, vp)
        case _     => IvfPq.loadDir(spark, vp)
      }
    }
  }

  /** The committed version dir of `kind` under `base`; throws naming
    * both when there is none. */
  private[pipeline] def committedDir(spark: SparkSession, base: String, kind: String): String =
    TableOps.committedArtifactPath(spark, base, kind, "buildIndexes()")

  /** Post-append drift ratio of `table`: (total − fit-time rows) / total. */
  private[pipeline] def drift(spark: SparkSession, table: String, fitRows: Long): Double = {
    val total = spark.read.parquet(table).count().toDouble
    if (total == 0) 0.0 else math.max(0.0, total - fitRows) / total
  }

  /** The PQ-family tombstone rebuild. It exists to DROP dead rows, not
    * because the codebooks went bad: under [[RefitDrift]] retraining is
    * pure waste (the x91 churn phase showed the Lloyd job chain
    * dominating the PQ maintain cycle), and every committed code was
    * encoded against these codebooks, so the rebuild (1) semi-joins the
    * code table to the live ids; (2) dedups per vec_id — delete +
    * re-ingest of identical content appends a second bit-identical row
    * for the same chunk_id; (3) encodes live vectors the table is
    * MISSING (a batch that died between the m1 append and index upkeep:
    * the tombstone reset zeroes the staleness signal, so this is the
    * last chance to close that recall gap). The carried fitRows is
    * EXACT via the per-row fit flag (build rows true, adds false), so
    * skewed deletes cannot under-report drift. Past the threshold it
    * re-trains. `rebuilt(codes, fitRows)` wraps the kept table. */
  private[pipeline] def liveCodeRebuild(
      h: VectorIndex,
      codesArr: DataFrame,
      liveVecs: DataFrame,
      encode: DataFrame => DataFrame,
      rebuilt: (DataFrame, Long) => VectorIndex): VectorIndex = {
    val unfit =
      if (h.nVectors <= 0) 1.0
      else math.max(0.0, (h.nVectors - h.fitRows).toDouble) / h.nVectors.toDouble
    if (unfit > RefitDrift) return h.refit(liveVecs)
    val alive = codesArr.join(liveVecs.select("vec_id"), Seq("vec_id"), "left_semi")
    // duplicate rows are bit-identical codes; a chunk is "fit" if ANY of
    // its rows is (it was in the training set), so the dedup takes
    // max(fit) instead of an arbitrary survivor — deterministic fitRows
    val rest = codesArr.columns.filter(c => c != "vec_id" && c != "fit")
    val keep = alive.groupBy("vec_id").agg(max(col("fit")).as("fit"),
      rest.map(c => first(col(c)).as(c)): _*)
    val missing = liveVecs.join(codesArr.select("vec_id"), Seq("vec_id"), "left_anti")
    val merged = keep.unionByName(
        encode(missing).withColumn("fit", lit(false)),
        allowMissingColumns = true)
      .localCheckpoint() // fit-count + save must read ONE materialization
    // exact surviving-fit count via the flag every code row carries
    rebuilt(merged, merged.filter(col("fit")).count())
  }
}
