package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One collect() of every registered query per dataset dir, shared by
  * EntrySpec's "every registered query runs" (no query may throw) and
  * DeterminismSpec (the first of its two runs), so the suite runs the
  * query set twice instead of three times. */
object QueryPass {
  type Outcome = Either[Throwable, Seq[String]]

  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  private val passes = scala.collection.mutable.Map.empty[String, Seq[(String, Outcome)]]

  /** (name, the query's rows or what it threw), in name order. */
  def first(spark: SparkSession, d: String): Seq[(String, Outcome)] =
    synchronized {
      passes.getOrElseUpdate(d,
        SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
          val out: Outcome =
            try Right(rows(fn(spark, d)))
            catch { case e: Throwable => Left(e) }
          name -> out
        })
    }
}
