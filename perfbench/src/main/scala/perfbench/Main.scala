package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    sf: Double,
    dataDir: String,
    workDir: String,
    record: String,
    maxOps: Int,
    digests: String,
    writeDigests: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      sf = m.getOrElse("sf", "0.1").toDouble,
      dataDir = need("data"),
      workDir = need("work"),
      record = need("record"),
      maxOps = m.getOrElse("max-ops", "0").toInt,
      digests = m.getOrElse("digests", ""),
      writeDigests = m.getOrElse("write-digests", "0") == "1")
  }
}

/** State shared by a workload's set-up and measured phase: the session,
  * the seeded random source, the op counters and everything reported. */
final class Run(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  val rnd = new scala.util.Random(args.seed)
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** End-to-end numbers, by name. */
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  /** Per-layer numbers (traced run only), by name. */
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  /** Extra lines for the record: the named timings, notes, self times. */
  val notes = mutable.LinkedHashMap.empty[String, Any]
  private var opSeq = 0L

  /** Whether the measured phase starts another cycle: always the first,
    * then while time is left (and fewer than `--max-ops` cycles ran). A
    * started cycle runs to its end, so every run measures whole cycles
    * of the same op mix. */
  def more(startedAt: Long, done: Long): Boolean =
    done == 0 || ((args.maxOps <= 0 || done < args.maxOps) &&
      (System.nanoTime() - startedAt) / 1e9 < args.seconds)

  /** Seconds since JVM start at each named point of the run. */
  val timeline = mutable.LinkedHashMap.empty[String, Double]
  def mark(label: String): Unit =
    timeline(label) = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def nextOpId(name: String): String = { opSeq += 1; s"$name#$opSeq" }

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
  }

  /** Run one op: counts it as attempted, times it, and counts it failed
    * when it throws or when `check` returns an error message. Returns the
    * result and the seconds taken, or None when it failed. */
  def op[T](name: String, samples: Samples)(f: String => T)(
      check: T => Option[String] = (_: T) => None): Option[T] = {
    attempted += 1
    val id = nextOpId(name)
    val start = System.nanoTime()
    val result =
      try Right(tracer.inGroup(spark, id)(tracer.span(name, id)(f(id))))
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - start) / 1e9
    result match {
      case Left(e) =>
        fail(s"$id threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        None
      case Right(v) =>
        samples.add(secs)
        check(v) match {
          case Some(msg) => fail(s"$id: $msg"); None
          case None => Some(v)
        }
    }
  }

  /** Wrap the measured phase: engine totals and driver GC/heap counters
    * cover exactly this body. */
  def measured[T](body: => T): T = {
    mark("measure_start")
    tracer.resetTotals()
    val gc0 = JvmCounters.gcSeconds
    JvmCounters.reset()
    val r = body
    notes("jvm_gc_s") = JvmCounters.gcSeconds - gc0
    notes("jvm_heap_peak_mb") = JvmCounters.heapPeakMb
    mark("measure_end")
    r
  }

  def put(m: Metric): Unit = e2e(m.name) = m
  def putLayer(name: String, value: Double, unit: String, n: Long): Unit =
    layer(name) = Metric(name, value, unit, n)

  /** Per-op-instance engine stats of the ops whose id starts with `name#`. */
  def groupStats(name: String): Seq[JobStats] = {
    import scala.jdk.CollectionConverters._
    tracer.byGroup.asScala.collect { case (k, v) if k.startsWith(name + "#") => v }.toSeq
  }

  /** Median per op of each engine counter, as `<prefix>.<counter>`. */
  def putGroupLayer(prefix: String, opName: String): Unit = {
    val gs = groupStats(opName)
    def med(f: JobStats => Double) = if (gs.isEmpty) 0.0 else Stats.median(gs.map(f))
    putLayer(s"$prefix.jobs", med(_.jobs.toDouble), "count", gs.size)
    putLayer(s"$prefix.stages", med(_.stages.toDouble), "count", gs.size)
    putLayer(s"$prefix.tasks", med(_.tasks.toDouble), "count", gs.size)
    putLayer(s"$prefix.input_bytes", med(_.inputBytes.toDouble), "bytes", gs.size)
    putLayer(s"$prefix.shuffle_bytes", med(_.shuffleBytes.toDouble), "bytes", gs.size)
  }
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "recall" -> (() => new Recall), "conversation" -> (() => new Conversation),
    "stream_ingest" -> (() => new StreamIngest), "analytics" -> (() => new Analytics))

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val workload = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))()
    val code =
      try { run(args, workload); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    // the stream query and Spark's own threads must not outlive the run
    Runtime.getRuntime.halt(code)
  }

  private def session(args: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val local = new java.io.File(args.workDir, "spark-local").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new java.io.File(args.workDir, "spark-warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(args: Args, workload: Workload): Unit = {
    new java.io.File(args.workDir).mkdirs()
    val sessionStart = System.nanoTime()
    val spark = session(args)
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    DataGen.ensure(spark, args.dataDir, args.sf)
    val tracer = new Tracer(args.trace)
    val run = new Run(spark, args, tracer)
    run.mark("session_ready")
    tracer.register(spark)
    try {
      val setupS = workload.setupAndMeasure(run)
      run.put(Metric("setup_s", sessionS + setupS, "s", 1))
      run.notes("session_start_s") = sessionS
      run.notes("setup_build_s") = setupS
      run.put(Metric("resident_mb", JvmCounters.residentMb(), "MB", 1))
      run.put(Metric("error_rate",
        if (run.attempted == 0) 0.0 else run.failed.toDouble / run.attempted, "ratio",
        run.attempted))
      if (args.trace) {
        tracer.drain(spark)
        workload.layers(run)
        engineLayers(run)
        val spansFile = new java.io.File(args.record.stripSuffix(".json") + ".spans.jsonl")
        tracer.writeSpans(spansFile)
        run.notes("spans_file") = spansFile.getPath
        val self = tracer.selfTimes
        run.notes("self_time_s") = self.toSeq.sortBy(_._1).map { case (k, s) =>
          k -> mutable.LinkedHashMap("total" -> s.values.sum, "median" -> Stats.median(s.values),
            "n" -> s.size)
        }.toMap
      }
    } finally {
      tracer.unregister(spark)
    }
    run.mark("done")
    run.notes("timeline_s") = run.timeline
    writeRecord(run)
  }

  private def engineLayers(run: Run): Unit = {
    val t = run.tracer.total
    run.putLayer("spark.task_s", t.taskNs / 1e9, "s", t.tasks)
    run.putLayer("spark.gc_s", t.gcMs / 1000.0, "s", t.tasks)
    run.putLayer("spark.spill_bytes", t.spillBytes.toDouble, "bytes", t.tasks)
    run.notes.get("jvm_gc_s").foreach(v => run.putLayer("jvm.gc_s", v.asInstanceOf[Double], "s", 1))
    run.notes.get("jvm_heap_peak_mb").foreach(v =>
      run.putLayer("jvm.heap_peak_mb", v.asInstanceOf[Double], "MB", 1))
  }

  private def metricJson(m: Metric) = mutable.LinkedHashMap[String, Any](
    "value" -> m.value, "unit" -> m.unit, "n" -> m.n, "level" -> m.level)

  private def writeRecord(run: Run): Unit = {
    val a = run.args
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "sf" -> a.sf,
      "spark_master" -> run.spark.sparkContext.master,
      "attempted" -> run.attempted, "failed" -> run.failed, "errors" -> run.errors,
      "end_to_end" -> run.e2e.map { case (k, m) => k -> metricJson(m) },
      "per_layer" -> run.layer.map { case (k, m) => k -> metricJson(m) },
      "notes" -> run.notes)
    val f = new java.io.File(a.record)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Json(record).getBytes("UTF-8"))
    System.out.println(s"[perfbench] record written to ${a.record}")
  }
}

/** A benchmark workload: builds its fixture (timed), runs its measured
  * phase, and reports into [[Run]]. */
trait Workload {
  /** Returns the seconds the fixture build took. */
  def setupAndMeasure(run: Run): Double

  /** Per-layer metrics of a traced run. */
  def layers(run: Run): Unit
}
