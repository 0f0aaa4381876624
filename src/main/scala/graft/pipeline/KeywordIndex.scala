package graft.pipeline

import graft.functions.TextFunctions.{dsum12, tokens, trunc6}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index for keyword/BM25 retrieval — the engine-side
  * replacement for the reference's SQLite FTS5 side index
  * (store/keyword_store/sqlite_store.py:93-145).
  *
  * Layout, inside the committed `kw` version dir: `postings(term, doc_id,
  * tf)` written partitioned by a 64-way term hash bucket (a query's terms
  * prune to a handful of partitions), plus `doclen(doc_id, dl)` and a
  * single-row `stats(n_docs, avgdl)`.
  * Query time never touches the raw corpus: score = join of the query's
  * posting slices with broadcast df, the stats bound as literals — at
  * 100 TB this is the difference between a corpus scan per query and an
  * index lookup.
  */
class KeywordIndex(spark: SparkSession, basePath: String) {
  import KeywordIndex.termBucket

  // the version dir resolves ONCE, at the handle's first READ, and pins:
  // the handle holds that snapshot through any concurrent rebuild
  // (versioned dirs + pointer CAS, TableOps.commitArtifactDir). A handle
  // that read before a rebuild keeps serving the OLD version by design —
  // reopen to see the new one (the reference's reopen-after-reindex
  // semantics). With no committed version the first read throws.
  @transient private lazy val verDir: String =
    TableOps.committedArtifactPath(spark, basePath, "kw", "buildIndexes()")

  private def p(t: String) = s"$verDir/$t"

  // one handle = one file-listing/schema-read per table
  @transient private lazy val postingsDf = spark.read.parquet(p("postings"))
  @transient private lazy val doclenDf = spark.read.parquet(p("doclen"))
  // incremental stats updates land as tiny versioned dirs inside the
  // version dir, committed with a pointer CAS (never an in-place
  // overwrite a racing read could half-see)
  @transient private lazy val statsDf =
    TableOps.currentArtifactDir(spark, verDir, "stats_upd") match {
      case Some(v) => spark.read.parquet(s"$verDir/$v")
      case None    => spark.read.parquet(p("stats")) // build-time stats
    }

  def build(docs: DataFrame): Unit = {
    val name = TableOps.nextArtifactDir(spark, basePath, "kw")
    def np(t: String) = s"$basePath/$name/$t"
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    tok.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("term_bucket", termBucket)
      .write.mode(SaveMode.Overwrite).partitionBy("term_bucket").parquet(np("postings"))
    // doc length is a narrow projection — no need to re-aggregate the explode
    val docLen = docs.select(
      col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    docLen.write.mode(SaveMode.Overwrite).parquet(np("doclen"))
    docLen.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      .write.mode(SaveMode.Overwrite).parquet(np("stats"))
    TableOps.commitArtifactDir(spark, basePath, "kw", name)
  }

  /** Incremental maintenance (the reference maintains FTS5 on every
    * insert, store/keyword_store/sqlite_store.py:147+): append the NEW
    * documents' postings and doc lengths, refresh the single-row corpus
    * stats. Only the term buckets the new docs actually touch receive
    * files; no existing posting file is read or rewritten — a full
    * postings rebuild per ingest batch would not survive a 100 TB ingest
    * cadence. Document frequencies need no stored update: `bm25` derives
    * df from the posting slices at query time, and the appended rows
    * extend them exactly. `doc_id`s must be previously unseen (chunk ids
    * are content-addressed, so a re-ingest repeats ids only when it
    * repeats content — same dup semantics as the m1 table itself).
    * Handles opened before the update are stale by design — reopen, as
    * after [[build]]. The appends land inside the CURRENT version dir
    * (this handle's snapshot); the refreshed corpus stats commit as a
    * tiny versioned dir with a pointer CAS, so a racing read always
    * resolves a complete stats file. */
  def addDocuments(docs: DataFrame): Unit = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    tok.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .withColumn("term_bucket", termBucket)
      .write.mode(SaveMode.Append).partitionBy("term_bucket").parquet(p("postings"))
    val docLen = docs.select(
      col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
    docLen.write.mode(SaveMode.Append).parquet(p("doclen"))
    val name = TableOps.nextArtifactDir(spark, verDir, "stats_upd")
    spark.read.parquet(p("doclen")).agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      .write.mode(SaveMode.Overwrite).parquet(s"$verDir/$name")
    TableOps.commitArtifactDir(spark, verDir, "stats_upd", name)
    // superseded stats generations are micro-dirs; GC all but the newest
    // two so per-batch adds don't accumulate clutter
    TableOps.vacuumArtifacts(spark, verDir, "stats_upd", keep = 2)
  }

  /** Documents the index carries (live + tombstoned — the denominator of
    * MemFuse.indexStaleFraction; shrinks only on rebuild). Cached per
    * handle like the file listings: scoped queries consult it per query
    * and must not pay a stats job each time. */
  @transient lazy val nDocs: Long = stats._1

  // the one stats row (n_docs, avgdl), fetched once per handle; bm25
  // binds both as literals instead of cross-joining the stats frame
  // (a broadcast subplan job per query). avgdl is null on an empty corpus
  @transient private lazy val stats: (Long, Column) = {
    val r = statsDf.select(col("n_docs"), col("avgdl")).head()
    (r.getLong(0), if (r.isNullAt(1)) lit(null).cast("double") else lit(r.getDouble(1)))
  }

  /** Ids of the documents currently in the index (one row per doc) —
    * the anti-join side of idempotent incremental absorption
    * ([[IndexUpkeep]]). */
  def indexedDocIds: DataFrame = doclenDf.select("doc_id")

  /** BM25 top-k from the index alone (k1/b per the reference defaults). */
  def bm25(queryTerms: Seq[String], topK: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = queryTerms.distinct
    // the terms' partition buckets, evaluated on the driver (no job)
    val buckets = terms.map(KeywordIndex.termBucketOf).distinct
    val postings = postingsDf
      .filter(col("term_bucket").isin(buckets: _*)) // partition pruning
      .filter(col("term").isin(terms: _*))
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    // the pruned posting slices build a SHUFFLED hash join against the
    // corpus-sized doclen table (never a doclen broadcast — see
    // Retrieval.bm25; same 100 TB inversion)
    val scored = postings
      .join(broadcast(dfreq), "term")
      .hint("shuffle_hash")
      .join(doclenDf, "doc_id")
      .withColumn("idf",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("tscore",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / stats._2)))
      .groupBy("doc_id")
      .agg(trunc6(dsum12(col("tscore"))).as("score"))
    scored.select(col("doc_id").as("id"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)
  }
}

object KeywordIndex {

  /** Term hash buckets the postings are partitioned by. */
  private val TermBuckets = 64

  /** The `term_bucket` partition column: pmod(xxhash64(term), 64). */
  private def termBucket: Column = pmod(xxhash64(col("term")), lit(TermBuckets))

  /** [[termBucket]] of one term, evaluated on the driver. IndexSpec pins
    * it to the `term_bucket=N` dir the postings are written under. */
  private[graft] def termBucketOf(term: String): Long = TableOps.hashBucket(term, TermBuckets)
}
