package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.{HashingEncoder, MemFuse, Schemas}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** `stream_ingest`: open-loop streaming ingest.
  *
  * Set-up: a fresh warehouse with a small indexed history, and
  * `StreamingIngest.start` with `Trigger.ProcessingTime(0)` on a JSON
  * file-source directory. Paced phase: a generator thread, separate from
  * the engine, drops one message file every 1/[[Rate]] s — round-robin
  * over [[NSessions]] sessions, each message stamped `created_at` when it
  * is generated — and never slows down when the engine does. Burst
  * phase: after the paced messages are committed, the generator drops
  * [[Burst]] messages at once. */
final class StreamIngest extends Workload {
  import StreamIngest._

  private val lag = new Samples
  private var progress: Seq[StreamingQueryProgress] = Nil
  private var maxBacklog = 0L

  final class State(val mf: MemFuse, val dir: String, val feed: java.io.File,
      val query: StreamingQuery, val warm: Schemas.Message, val historyBytes: Long)

  private def build(run: Run, docs: IndexedSeq[String], dir: java.io.File): State = {
    val spark = run.spark
    import spark.implicits._
    val mf = new MemFuse(spark, dir.getAbsolutePath)
    val history = (0 until HistoryMessages).map { i =>
      Schemas.Message(s"hist-$i", s"hist-s${i % 8}", s"stream-user-${i % 8}", s"hist-r$i", i,
        if (i % 2 == 0) "user" else "assistant", snippet(docs, i), Fixture.ts(1717200000000L + i))
    }
    mf.ingest(Fixture.messages(spark, history))
    mf.buildIndexes()
    val feed = new java.io.File(dir, "feed")
    feed.mkdirs()
    val source = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Schemas.Message].schema)
      .json(feed.getAbsolutePath).as[Schemas.Message]
    val q = StreamingIngest.start(source, dir.getAbsolutePath, HashingEncoder(),
      maxTokens = 10000, timeoutMs = 0, maxRounds = 1,
      checkpoint = new java.io.File(dir, "ckpt").getAbsolutePath,
      trigger = Trigger.ProcessingTime(0L))
    // the service is up once its first micro-batch has committed: one
    // warm-up message goes through before set-up ends
    val warm = Schemas.Message("warm-0", "warm-s", "stream-user-0", "warm-r", 0,
      "user", snippet(docs, 1), Fixture.ts(System.currentTimeMillis()))
    drop(feed, "warm-up", Seq(line(warm)))
    q.processAllAvailable()
    new State(mf, dir.getAbsolutePath, feed, q, warm, history.map(_.content.length.toLong).sum)
  }

  private def snippet(docs: IndexedSeq[String], i: Int): String =
    docs((i * 7919) % docs.size).split(" ").take(MsgTokens).mkString(" ")

  private val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT

  private def line(m: Schemas.Message): String = Json(mutable.LinkedHashMap(
    "message_id" -> m.message_id, "session_id" -> m.session_id, "user_id" -> m.user_id,
    "round_id" -> m.round_id, "sequence_number" -> m.sequence_number, "role" -> m.role,
    "content" -> m.content, "created_at" -> fmt.format(m.created_at.toInstant)))

  /** Write `lines` as one file that appears atomically in the feed. */
  private def drop(feed: java.io.File, name: String, lines: Seq[String]): Unit = {
    val tmp = new java.io.File(feed, s".$name.tmp")
    java.nio.file.Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    if (!tmp.renameTo(new java.io.File(feed, s"$name.json")))
      throw new IllegalStateException(s"rename of $tmp failed")
  }

  def setupAndMeasure(run: Run): Double = {
    val spark = run.spark
    val late = new Samples
    val docs = Fixture.documents(spark, run.args.dataDir)
    val (st, setupS) = Fixture.timed(build(run, docs, new java.io.File(run.args.workDir, "stream_ingest")))
    val created = mutable.LinkedHashMap.empty[String, Long] // message id -> created_at ms
    val sent = mutable.LinkedHashMap.empty[String, Schemas.Message]
    created(st.warm.message_id) = st.warm.created_at.getTime
    sent(st.warm.message_id) = st.warm
    var contentBytes = st.historyBytes + st.warm.content.length
    val seqs = mutable.Map.empty[String, Int].withDefaultValue(0)
    def message(i: Int, burst: Boolean, dueMs: Long): Schemas.Message = {
      val s = (i + run.args.seed.toInt.abs) % NSessions
      val sid = s"stream-s$s"
      val seq = seqs(sid); seqs(sid) = seq + 1
      val id = if (burst) s"burst-$i" else s"paced-$i"
      val m = Schemas.Message(id, sid, s"stream-user-${s % 16}", s"$id-r", seq,
        if (seq % 2 == 0) "user" else "assistant", snippet(docs, i + run.rnd.nextInt(docs.size)),
        Fixture.ts(dueMs))
      created(id) = dueMs
      sent(id) = m
      contentBytes += m.content.length
      m
    }
    val pacedSeconds = run.args.seconds * PacedShare
    val nPaced = math.max(1, if (run.args.maxOps > 0) math.min(run.args.maxOps, (pacedSeconds * Rate).toInt)
      else (pacedSeconds * Rate).toInt)
    val burstN = if (run.args.maxOps > 0) math.min(Burst, run.args.maxOps * 10) else Burst
    var burstAppeared = 0L
    try {
      run.measured {
        // paced phase: one file per message on a fixed schedule; each
        // message is stamped with the time it was due, so a stalled
        // generator shows as lag, and its lateness is reported
        val gen = new Thread(() => {
          val t0 = System.nanoTime()
          val t0Ms = System.currentTimeMillis()
          var i = 0
          while (i < nPaced) {
            val dueOffsetNs = (i * 1e9 / Rate).toLong
            val wait = t0 + dueOffsetNs - System.nanoTime()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            else late.add(-wait / 1e9)
            val m = created.synchronized(message(i, burst = false, t0Ms + dueOffsetNs / 1000000L))
            drop(st.feed, f"paced-$i%06d", Seq(line(m)))
            i += 1
          }
        }, "perfbench-generator")
        gen.setDaemon(true)
        val startNs = System.nanoTime()
        run.tracer.span("stream.paced") {
          gen.start()
          gen.join()
          st.query.processAllAvailable()
        }
        run.notes("paced_s") = (System.nanoTime() - startNs) / 1e9
        val pacedBatches = st.query.recentProgress.length
        // burst phase: B messages appear at once
        val stamp = System.currentTimeMillis()
        val lines = created.synchronized((0 until burstN).map(i =>
          line(message(i, burst = true, stamp))))
        burstAppeared = System.currentTimeMillis()
        run.tracer.span("stream.burst") {
          drop(st.feed, "burst", lines)
          st.query.processAllAvailable()
        }
        run.notes("paced_batches") = pacedBatches
        run.notes("generator_late_s") = if (late.size == 0) 0.0 else late.values.max
      }
      progress = st.query.recentProgress.toSeq
      st.query.exception.foreach(e => throw e)
    } finally {
      st.query.stop()
    }
    report(run, st, created.toMap, sent.toMap, burstN, burstAppeared, contentBytes)
    setupS
  }

  /** Completion time (epoch ms) of each micro-batch, from Spark's own
    * progress: trigger start + triggerExecution. */
  private def completions: Map[Long, Long] = progress.map { p =>
    p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.asScala.getOrElse("triggerExecution", java.lang.Long.valueOf(0L)).longValue)
  }.toMap

  private def report(run: Run, st: State, created: Map[String, Long],
      sent: Map[String, Schemas.Message], burstN: Int, burstAppeared: Long,
      contentBytes: Long): Unit = {
    val spark = run.spark
    val m0 = StreamingIngest.m0Committed(spark, st.dir)
      .filter(col("batch_id").isNotNull).select("message_id", "batch_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val m1Ids = StreamingIngest.m1Committed(spark, st.dir)
      .select(explode(col("m0_raw_ids")).as("mid")).filter(!col("mid").startsWith("hist-"))
      .groupBy("mid").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val done = completions
    run.attempted += created.size
    created.foreach { case (id, _) =>
      if (!m0.contains(id)) run.fail(s"message $id has no committed m0 row")
      else if (m1Ids.getOrElse(id, 0L) != 1L) {
        // name any other message of the same session with the same role
        // and text: the stream's chunk id is content-addressed per session
        val m = sent(id)
        val twins = sent.values.filter(o => o.message_id != id && o.session_id == m.session_id &&
          o.role == m.role && o.content == m.content).map(_.message_id)
        run.fail(s"message $id is in ${m1Ids.getOrElse(id, 0L)} m1 chunks, not 1" +
          (if (twins.isEmpty) "" else s" (same session, role and text as ${twins.mkString(", ")})"))
      }
    }
    val extra = m0.keySet -- created.keySet
    if (extra.nonEmpty) run.fail(s"${extra.size} committed m0 rows were never generated")
    run.notes("committed_m0") = m0.size
    run.notes("generated") = created.size
    created.foreach { case (id, t) =>
      if (id.startsWith("paced-"))
        for (b <- m0.get(id); end <- done.get(b)) lag.add((end - t) / 1000.0)
    }
    val lags = lag.values
    if (lags.nonEmpty) {
      run.put(Metric("ingest_lag_p50_s", Stats.median(lags), "s", lags.size, "p50"))
      run.put(Metric("ingest_lag_p99_s", Stats.percentile(lags, 0.99), "s", lags.size, "p99"))
      run.put(Metric("op_p50_s", Stats.median(lags), "s", lags.size, "p50"))
    }
    val burstBatches = created.keys.filter(_.startsWith("burst-")).flatMap(m0.get).toSet
    val burstEnd = burstBatches.flatMap(done.get)
    if (burstEnd.nonEmpty) {
      val rate = burstN / math.max(1e-3, (burstEnd.max - burstAppeared) / 1000.0)
      run.put(Metric("ingest_burst_msgs_per_s", rate, "1/s", burstN))
      run.put(Metric("ops_per_s", rate, "1/s", burstN))
    }
    run.put(Metric("space_amp",
      (Fixture.bytesOnDisk(new java.io.File(st.dir)) -
        Fixture.bytesOnDisk(st.feed) - Fixture.bytesOnDisk(new java.io.File(st.dir, "ckpt"))).toDouble /
        contentBytes, "ratio", 1))
    run.notes("tail") = Stats.tailNote(lags.size)
    // backlog: messages generated by each paced batch's completion but
    // not yet read by it
    val pacedCreated = created.filter(_._1.startsWith("paced-")).values.toVector.sorted
    var read = 0L
    progress.sortBy(_.batchId).foreach { p =>
      read += p.numInputRows
      done.get(p.batchId).foreach { end =>
        val generated = pacedCreated.count(_ <= end).toLong
        if (generated <= pacedCreated.size && read <= pacedCreated.size)
          maxBacklog = math.max(maxBacklog, generated - read)
      }
    }
  }

  def layers(run: Run): Unit = {
    val ps = run.tracer.progress.asScala.toSeq.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.asScala.get(k).map(_.longValue / 1000.0).getOrElse(0.0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val n = ps.size.toLong
    run.putLayer("stream.batches", n.toDouble, "count", n)
    run.putLayer("stream.rows_per_batch", med(ps.map(_.numInputRows.toDouble)), "rows", n)
    run.putLayer("stream.trigger_s", med(ps.map(d(_, "triggerExecution"))), "s", n)
    run.putLayer("stream.add_batch_s", med(ps.map(d(_, "addBatch"))), "s", n)
    run.putLayer("stream.plan_s", med(ps.map(d(_, "queryPlanning"))), "s", n)
    run.putLayer("stream.offsets_s",
      med(ps.map(p => d(p, "latestOffset") + d(p, "walCommit") + d(p, "commitOffsets"))), "s", n)
    val jobs = ps.map(p => Option(run.tracer.byGroup.get(s"stream:${p.batchId}")).map(_.jobs.toDouble)
      .getOrElse(0.0))
    run.putLayer("stream.jobs_per_batch", med(jobs), "count", n)
    val state = ps.flatMap(_.stateOperators.headOption)
    run.putLayer("stream.state_rows", state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "rows", state.size)
    run.putLayer("stream.state_commit_s", med(state.map(_.commitTimeMs / 1000.0)), "s", state.size)
    run.putLayer("stream.backlog_rows", maxBacklog.toDouble, "rows", n)
  }
}

object StreamIngest {
  /** Paced messages per second. */
  val Rate = 20.0
  val PacedShare = 0.6
  val Burst = 2000
  val NSessions = 64
  val HistoryMessages = 64
  val MsgTokens = 24
}
