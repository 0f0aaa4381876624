package perfbench

import scala.collection.mutable

import graft.pipeline.TableOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared fixture helpers of the facade workloads. */
object Fixture {
  /** The corpus: (doc_id, text) of every generated document, in id order. */
  def documents(spark: SparkSession, dataDir: String): IndexedSeq[String] =
    graft.Tables.documents(spark, dataDir).select("doc_id", "text").orderBy("doc_id")
      .collect().map(_.getString(1)).toIndexedSeq

  /** Distinct tokens of the corpus, sorted — the request vocabulary. */
  def vocabulary(docs: Seq[String]): IndexedSeq[String] =
    docs.iterator.flatMap(_.split(" ")).filter(_.nonEmpty).toSet.toIndexedSeq.sorted

  /** `n` tenant ids whose first 16 cover every user bucket of the
    * warehouse layout (buckets from the program's own layout expression,
    * evaluated for a block of candidate names in one job). */
  def tenants(spark: SparkSession, prefix: String, n: Int): IndexedSeq[String] = {
    import spark.implicits._
    val candidates = (0 until 64 * math.max(n, TableOps.BucketCount)).map(i => f"$prefix$i%03d")
    val buckets = candidates.toDF("user_id").select(col("user_id"), TableOps.userBucket.as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val covering = mutable.LinkedHashMap.empty[Long, String]
    val rest = mutable.ArrayBuffer.empty[String]
    candidates.foreach { id =>
      if (!covering.contains(buckets(id))) covering(buckets(id)) = id
      else if (rest.size < n) rest += id
    }
    require(covering.size == TableOps.BucketCount, "candidate names miss a user bucket")
    (covering.values ++ rest).take(math.max(n, TableOps.BucketCount)).toIndexedSeq
  }

  def messages(spark: SparkSession, rows: Seq[graft.pipeline.Schemas.Message]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  def ts(ms: Long) = new java.sql.Timestamp(ms)

  /** The session id a facade chunk id belongs to (`<session>#<hash>`). */
  def sessionOf(chunkId: String): String = chunkId.substring(0, chunkId.lastIndexOf('#'))

  /** Bytes of all regular files under `dir`. */
  def bytesOnDisk(dir: java.io.File): Long =
    if (dir.isDirectory) Option(dir.listFiles()).map(_.map(bytesOnDisk).sum).getOrElse(0L)
    else dir.length()

  /** Seconds `f` takes, with its result. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
