package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental side-index upkeep for the STREAMING ingest path — the
  * twin of the per-batch maintenance [[MemFuse.ingest]] performs inline
  * (the reference maintains FTS5/vector stores on every insert no
  * matter which path wrote the row; a streamed chunk must be reachable
  * through the indexes without a manual rebuild). The keyword index and
  * the ONE live vector index ([[VectorIndex.open]]: ivfpq, then pq, then
  * ivf — whichever family the last build left live) absorb the batch.
  *
  * Differences from the facade path, both deliberate:
  *  - ids already present in an index are ANTI-JOINED away first, which
  *    makes absorption idempotent: a crash-replayed micro-batch
  *    regenerates the same chunk ids (they hash the batch's m0 ids and
  *    content), and must not append duplicate postings — BM25
  *    df/doclen would double and ANN fusion would see duplicate
  *    candidates. The facade's batch path reaches the same guarantee
  *    through its `preIndexedIds` mutation protocol.
  *  - quantizer re-fit is NOT triggered here: a micro-batch stays
  *    latency-bounded, so drift accrues in the persisted fit metadata
  *    until `maintain()` or the next batch-path rebuild picks it up.
  *
  * Handles are opened per batch (a centroid/codebook collect — KBs);
  * at micro-batch cadence that cost is noise next to the appends.
  */
object IndexUpkeep {

  /** Absorb new chunks (chunk_id, content, embedding) into whichever
    * side indexes exist under `$base/index`. No-op when none exist. */
  def absorbBatch(spark: SparkSession, base: String, chunks: DataFrame): Unit = {
    val idxBase = s"$base/index"
    if (TableOps.currentArtifactDir(spark, idxBase, "kw").isDefined) {
      val kw = new KeywordIndex(spark, idxBase)
      kw.addDocuments(
        chunks.select(col("chunk_id").as("doc_id"), col("content").as("text"))
          .join(kw.indexedDocIds, Seq("doc_id"), "left_anti"))
    }
    val vecs = chunks.select(col("chunk_id").as("vec_id"), col("embedding"))
    VectorIndex.open(spark, idxBase).foreach(h =>
      h.addVectors(vecs.join(h.ids, Seq("vec_id"), "left_anti"), idxBase))
  }
}
