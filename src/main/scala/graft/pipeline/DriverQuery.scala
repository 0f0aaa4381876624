package graft.pipeline

import graft.functions.TextFunctions.dsum12Local
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.types.{DoubleType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Driver twins of [[MemFuse.query]]'s legs, run over a collected tenant
  * snapshot (see [[MemFuse.SnapshotCap]]). Each returns exactly what its
  * Spark twin returns, row multiplicity included (a re-ingested round
  * repeats its chunk id in m1), so the driver answer is bit-identical to
  * the DataFrame one:
  *  - tokens split as `split(c, " ")` does (Java split, limit -1: empty
  *    tokens from double or trailing spaces are kept);
  *  - scores use the Spark expressions' arithmetic in the same order:
  *    double cosine in index order, `StrictMath.log` as Spark's `log`,
  *    sums through [[dsum12Local]], `trunc6` as floor → long → / 1e6;
  *  - rows order as `orderBy(score.desc, id)` does: doubles by
  *    `SQLOrderingUtil.compareDoubles` (−0.0 = 0.0, NaN largest), ids by
  *    their UTF-8 bytes.
  * PipelineSpec pins each twin to its Spark twin and the whole path to
  * the Spark path on randomized warehouses.
  */
private[graft] object DriverQuery {

  /** One snapshot row: m1's `chunk_id, content, embedding, session_id,
    * token_count`. `tokenCount` passes through to the result as read;
    * `tokens` is split once per snapshot, not per query. */
  final case class Doc(id: String, content: String, embedding: Array[Float],
      sessionId: String, tokenCount: Any) {
    lazy val tokens: Array[String] = DriverQuery.tokens(content)
  }

  object Doc {
    /** A collected row of those five columns, or None when a column the
      * scores read is null (the facade's writers never produce one). */
    def of(r: Row): Option[Doc] =
      if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)) None
      else Some(Doc(r.getString(0), r.getString(1), r.getSeq[Float](2).toArray,
        r.getString(3), r.get(4)))
  }

  /** A tenant's collected rows and the schema of the answers built
    * from them. */
  final case class Snapshot(docs: IndexedSeq[Doc], resultSchema: StructType)

  object Snapshot {
    /** The Spark path's result columns over a corpus of schema `rows`:
      * the passed-through columns keep their nullability (an unwritten
      * bucket reads with m1's declared schema, a written one as parquet's
      * all-nullable), the computed ones are nullable. */
    def of(docs: IndexedSeq[Doc], rows: StructType): Snapshot = Snapshot(docs, new StructType()
      .add("id", StringType).add(rows("content")).add("fused_score", DoubleType)
      .add(rows("session_id")).add(rows("token_count")).add("rerank_score", DoubleType))
  }

  /** One (id, score) row of a leg. */
  final case class Hit(id: String, score: Double)

  /** `TextFunctions.tokens`. */
  def tokens(s: String): Array[String] = s.split(" ", -1)

  /** `TextFunctions.trunc6`. */
  def trunc6(x: Double): Double = math.floor(x * 1e6).toLong / 1e6

  /** `VectorFunctions.cosine`: 0 when the norm product is 0. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]): Double = {
      val n = math.min(x.length, y.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
      acc
    }
    val denom = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
    if (denom == 0d) 0d else dot(a, b) / denom
  }

  /** `orderBy(score.desc, id).limit(k)`. */
  def topK[T](xs: Seq[T], k: Int)(score: T => Double, id: T => String): Seq[T] =
    xs.map(x => (x, UTF8String.fromString(id(x)))).sortWith { case ((a, ka), (b, kb)) =>
      val c = compareDoubles(score(b), score(a))
      if (c != 0) c < 0 else ka.binaryCompare(kb) < 0
    }.take(k).map(_._1)

  def topHits(hits: Seq[Hit], k: Int): Seq[Hit] = topK(hits, k)(_.score, _.id)

  /** `filter(score >= threshold)`. */
  def atLeast(hits: Seq[Hit], threshold: Double): Seq[Hit] =
    hits.filter(h => compareDoubles(h.score, threshold) >= 0)

  /** The scan path's vector leg before its threshold: trunc6 cosine of
    * every doc against `q`. */
  def cosineHits(docs: Seq[Doc], q: Array[Float]): Seq[Hit] =
    docs.map(d => Hit(d.id, trunc6(cosine(d.embedding, q))))

  /** `Retrieval.bm25` over (doc_id = id, text = content): corpus stats
    * from `docs`, tf summed per id over its rows, and one score term per
    * (posting, row of that id), as the Spark joins produce them. */
  def bm25(docs: Seq[Doc], queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): Seq[Hit] = {
    val terms = queryTerms.toSet
    val nDocs = docs.size.toLong
    val avgdl = docs.map(_.tokens.length.toLong).sum.toDouble / nDocs.toDouble
    val tf = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Long]]
    docs.foreach { d =>
      d.tokens.iterator.filter(terms).foreach { t =>
        val m = tf.getOrElse(d.id, Map.empty[String, Long])
        tf(d.id) = m.updated(t, m.getOrElse(t, 0L) + 1L)
      }
    }
    val df = tf.valuesIterator.flatMap(_.keysIterator).toSeq
      .groupBy(identity).map { case (t, ids) => t -> ids.size.toLong }
    val dls = docs.iterator.filter(d => tf.contains(d.id))
      .map(d => d.id -> d.tokens.length.toLong).toSeq.groupMap(_._1)(_._2)
    topHits(tf.toSeq.map { case (id, posting) =>
      val parts = for ((t, f) <- posting.toSeq; dl <- dls(id)) yield {
        val idf = StrictMath.log((nDocs - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
        idf * (f * (k1 + 1)) / (f + k1 * ((1 - b) + b * dl / avgdl))
      }
      Hit(id, trunc6(dsum12Local(parts)))
    }, k)
  }

  /** `Fusion.rrf` over the named legs: rank within each leg in
    * (score desc, id) order, weight / (k + rank) summed per id. */
  def rrf(legs: Seq[(String, Seq[Hit])], k: Double, weights: Map[String, Double],
      topK: Int): Seq[Hit] = {
    val parts = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    legs.foreach { case (store, hits) =>
      val w = weights.getOrElse(store, 0.0)
      topHits(hits, hits.size).zipWithIndex.foreach { case (h, i) =>
        parts(h.id) = parts.getOrElse(h.id, Vector.empty) :+ w / (k + (i + 1))
      }
    }
    topHits(parts.toSeq.map { case (id, ts) => Hit(id, trunc6(dsum12Local(ts))) }, topK)
  }

  /** Hydration (inner join of the fused ids with `scope`, one row per
    * matching doc row) and the reranker's top-`topK`, as result rows. */
  def rerank(fused: Seq[Hit], scope: Seq[Doc], score: String => Double,
      topK: Int): Seq[Row] = {
    val wanted = fused.iterator.map(_.id).toSet
    val byId = scope.filter(d => wanted(d.id)).groupBy(_.id)
    val rows = for (f <- fused; d <- byId.getOrElse(f.id, Nil)) yield (f, d, score(d.content))
    this.topK(rows, topK)(_._3, _._1.id).map { case (f, d, s) =>
      Row(f.id, d.content, f.score, d.sessionId, d.tokenCount, s)
    }
  }

  /** Tenant snapshots by user id (None: over the cap), least recently
    * used dropped first once they total more than `budgetRows` rows.
    * [[clear]] starts a new generation, and a snapshot collected before
    * it is not stored: no snapshot outlives the write that cleared it. */
  final class SnapshotCache(budgetRows: Long) {
    private type Snap = Option[Snapshot]
    private val held = new java.util.LinkedHashMap[String, Snap](16, 0.75f, true)
    private var rows = 0L
    private var gen = 0L
    private def weight(s: Snap) = s.fold(1L)(d => math.max(1L, d.docs.size.toLong))

    def generation: Long = synchronized(gen)
    def get(userId: String): Option[Snap] = synchronized(Option(held.get(userId)))
    def put(userId: String, s: Snap, atGeneration: Long): Unit = synchronized {
      if (atGeneration == gen) {
        Option(held.put(userId, s)).foreach(old => rows -= weight(old))
        rows += weight(s)
        val eldest = held.values.iterator
        while (rows > budgetRows && held.size > 1) {
          rows -= weight(eldest.next()); eldest.remove()
        }
      }
    }
    def clear(): Unit = synchronized { held.clear(); rows = 0; gen += 1 }
  }
}
