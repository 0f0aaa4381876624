package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region of the client thread. `parent` is the index of the
  * enclosing span (-1 at top level); `op` the id of the operation that
  * caused it. */
final case class Span(name: String, op: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters of the jobs one job group (or one stream batch) ran. */
final class JobStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var bytesWritten = 0L
}

/** The traced run's instruments. All of them sit outside the program:
  * spans time calls into its public functions, a [[SparkListener]]
  * attributes jobs to the job group the client thread set before the
  * call (or to the stream batch id the stream thread ran it under), and
  * a [[StreamingQueryListener]] keeps Spark's own per-batch progress.
  * When `enabled` is false every method is a pass-through and nothing is
  * registered. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def span[T](name: String, op: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val idx = spans.synchronized { spans += Span(name, op, stack.get.headOption.getOrElse(-1), System.nanoTime(), 0L); spans.size - 1 }
      stack.set(idx :: stack.get)
      try f
      finally {
        stack.set(stack.get.tail)
        spans.synchronized { spans(idx) = spans(idx).copy(endNs = System.nanoTime()) }
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self time per span name: each span's duration minus the time its
    * direct children cover (children of one thread never overlap). */
  def selfTimes: Map[String, Samples] = {
    val all = allSpans
    val childTime = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    all.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.endNs - s.startNs)
    val out = mutable.LinkedHashMap.empty[String, Samples]
    all.zipWithIndex.foreach { case (s, i) =>
      out.getOrElseUpdate(s.name, new Samples).add(((s.endNs - s.startNs) - childTime(i)) / 1e9)
    }
    out.toMap
  }

  def writeSpans(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.zipWithIndex.foreach { case (s, i) =>
      w.println(Json(mutable.LinkedHashMap("id" -> i, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    } finally w.close()
  }

  // ---- Spark listener: job groups and stream batches ----

  val byGroup = new java.util.concurrent.ConcurrentHashMap[String, JobStats]()
  val total = new JobStats
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  /** Zero the run-wide totals (the measured phase starts). */
  def resetTotals(): Unit = synchronized {
    val t = total
    t.jobs = 0; t.stages = 0; t.tasks = 0; t.taskNs = 0; t.gcMs = 0
    t.inputBytes = 0; t.shuffleBytes = 0; t.spillBytes = 0; t.bytesWritten = 0
  }

  private def stats(key: String): JobStats = byGroup.computeIfAbsent(key, _ => new JobStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val key = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map("stream:" + _)
        .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
        .getOrElse("")
      e.stageIds.foreach(id => stageGroup.put(id, key))
      Tracer.this.synchronized { stats(key).jobs += 1; total.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val key = stageGroup.getOrDefault(e.stageInfo.stageId, "")
      Tracer.this.synchronized { stats(key).stages += 1; total.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val key = stageGroup.getOrDefault(e.stageId, "")
      Tracer.this.synchronized {
        Seq(stats(key), total).foreach { s =>
          s.tasks += 1
          s.taskNs += m.executorRunTime * 1000000L
          s.gcMs += m.jvmGCTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Progress of every stream micro-batch, in arrival order. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `f` with this thread's jobs attributed to `group`. */
  def inGroup[T](spark: SparkSession, group: String)(f: => T): T =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }

  /** Waits until the listener bus has delivered every queued event. */
  def drain(spark: SparkSession): Unit = if (enabled) {
    // the bus is asynchronous; a no-op job's end event marks a point
    // every earlier event has passed
    val deadline = System.nanoTime() + 5000000000L
    val before = total.jobs
    spark.sparkContext.parallelize(Seq(1), 1).count()
    while (total.jobs <= before && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }
}

/** Driver JVM counters: GC time from the collector MXBeans and the peak
  * of the heap pools since [[JvmCounters.reset]]. */
object JvmCounters {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcSeconds: Double = gcs.map(g => math.max(0L, g.getCollectionTime)).sum / 1000.0
  def reset(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Used heap after full collections, in MB: the least of three
    * collections a little apart, so objects Spark's cleaner releases
    * between them are not counted. */
  def residentMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }
}
