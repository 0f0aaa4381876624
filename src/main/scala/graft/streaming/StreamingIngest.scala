package graft.streaming

import graft.pipeline.{IndexUpkeep, Schemas, TableOps, TextEncoder}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured-Streaming replacement for the reference's hand-built
  * buffer machinery (SURVEY §2.8).
  *
  * - [[sessionBatcher]] = RoundBuffer (B1, reference buffer/
  *   round_buffer.py:78-130): per-session token-budget batching in
  *   `flatMapGroupsWithState`; a batch is emitted when the accumulated
  *   token count would exceed the budget, or on processing-time timeout
  *   (the 60 s auto-flush, B9). Session change needs no special case —
  *   each session is its own state key.
  * - [[start]] = HybridBuffer + FlushManager (B2/B3): each emitted batch
  *   is chunked + encoded inside `foreachBatch` and appended to m1.
  * - [[embedBackfill]] = the pg NOTIFY/LISTEN embedding worker (B7,
  *   reference store/pgai_store/immediate_trigger_components.py):
  *   a batch job over `needs_embedding` rows; in production a streaming
  *   query over table changes with the same body.
  */
object StreamingIngest {

  /** One buffered message in session state — carries everything needed to
    * flush the ORIGINAL message to m0 alongside the derived chunk (the
    * reference's dual queue keeps rounds for the DB flush and chunks for
    * the vector flush, hybrid_buffer.py:27-150). */
  case class Buffered(message_id: String, sequence_number: Int, role: String,
      content: String, user_id: String, round_id: String,
      created_at: java.sql.Timestamp, token_count: Int)

  /** State per session: pending messages + running token total. */
  case class SessionBuf(pending: List[Buffered], tokenSum: Int)

  /** An emitted micro-batch: one chunk's worth of messages for a session.
    * `messages` is the original-rounds side of the dual queue. */
  case class SessionBatch(
      session_id: String,
      user_id: String,
      content: String,        // role-prefixed, newline-joined
      m0_raw_ids: Seq[String],
      messages: Seq[Buffered],
      token_count: Int,
      trigger: String)        // token_budget | timeout | oversized

  private def whitespaceTokens(s: String): Int = s.split(" ").count(_.nonEmpty)

  /** Token-budget batching, keyed by session (B1 semantics):
    * accumulate until adding a message would cross `maxTokens`, then emit
    * the pending batch; an oversized single message becomes its own batch
    * (round_buffer.py:104-120); a buffer holding `maxRounds` distinct
    * rounds flushes regardless of token count (round_buffer.max_size=5,
    * reference config/buffer/default.yaml — the reference buffers whole
    * rounds, so its size trigger counts rounds, not messages). Pending
    * data flushes on processing-time timeout (`timeoutMs`, the 60 s
    * auto-flush); pass `timeoutMs <= 0` to disable the timer
    * (deterministic tests, replay jobs — note the timer keeps the stream
    * cycling through no-data micro-batches). */
  def sessionBatcher(
      messages: Dataset[Schemas.Message],
      maxTokens: Int = 800,
      timeoutMs: Long = 60000L,
      maxRounds: Int = 5): Dataset[SessionBatch] = {
    import messages.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    def toBatch(sid: String, msgs: List[Buffered], trig: String): SessionBatch = {
      val sorted = msgs.sortBy(m => (m.sequence_number, m.message_id))
      SessionBatch(
        session_id = sid,
        user_id = sorted.head.user_id,
        content = sorted.map(m => s"[${m.role}]: ${m.content}").mkString("\n"),
        m0_raw_ids = sorted.map(_.message_id),
        messages = sorted,
        token_count = sorted.map(_.token_count).sum,
        trigger = trig)
    }

    messages
      .groupByKey(_.session_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (sid: String, rows: Iterator[Schemas.Message], state: GroupState[SessionBuf]) =>
          if (state.hasTimedOut) {
            // auto-flush (B9): emit whatever is pending
            val out = state.getOption.toList
              .filter(_.pending.nonEmpty)
              .map(b => toBatch(sid, b.pending, "timeout"))
            state.remove()
            out.iterator
          } else {
            var buf = state.getOption.getOrElse(SessionBuf(Nil, 0))
            val out = scala.collection.mutable.ListBuffer.empty[SessionBatch]
            rows.toSeq.sortBy(m => (m.sequence_number, m.message_id)).foreach { m =>
              val tc = whitespaceTokens(m.content)
              val b = Buffered(m.message_id, m.sequence_number, m.role, m.content,
                m.user_id, m.round_id, m.created_at, tc)
              if (buf.tokenSum + tc > maxTokens && buf.pending.nonEmpty) {
                out += toBatch(sid, buf.pending, "token_budget")
                buf = SessionBuf(Nil, 0)
              }
              buf = SessionBuf(buf.pending :+ b, buf.tokenSum + tc)
              if (buf.tokenSum > maxTokens) {
                // oversized single message (or exactly-crossing batch):
                // flush immediately rather than holding an over-budget buffer
                out += toBatch(sid, buf.pending, "oversized")
                buf = SessionBuf(Nil, 0)
              } else if (maxRounds > 0 &&
                  buf.pending.iterator.map(_.round_id).toSet.size >= maxRounds) {
                // B1 max_size trigger: the buffer holds maxRounds rounds —
                // flush even though the token budget was never crossed
                out += toBatch(sid, buf.pending, "max_size")
                buf = SessionBuf(Nil, 0)
              }
            }
            state.update(buf)
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            out.iterator
          }
      }
  }

  /** Full streaming ingest with the dual-queue flush (B2/B3 as one
    * `foreachBatch` sink): every emitted batch appends BOTH the original
    * messages to m0_raw and the encoded chunk to m1_episodic
    * (hybrid_buffer.py:27-150 keeps rounds for the DB flush and chunks
    * for the vector flush). Both writes use the same
    * user_bucket-partitioned layout as MemFuse.ingest, so streaming and
    * batch writers share one table. Caller stops the returned query.
    *
    * Exactly-once across the DUAL flush (the reference gets this from
    * Postgres transactions, postgres.py): blind parquet appends are not
    * idempotent, so a checkpoint replay after a crash would duplicate
    * rows, and a crash BETWEEN the two writes would split the queues.
    * Three pieces close both holes:
    *  1. every row carries the foreachBatch `batch_id` (and the chunk's
    *     created_at derives from its messages, so a replayed batch is
    *     bit-identical, never wall-clock-stamped);
    *  2. after BOTH appends succeed, a marker file
    *     `_streaming_commits/<batch_id>` is created — the cross-table
    *     commit record;
    *  3. readers go through [[m0Committed]]/[[m1Committed]], which drop
    *     rows of unmarked batches (atomicity: a half-flushed batch is
    *     invisible in both tables) and collapse replay duplicates by
    *     primary key (idempotency: replayed rows are identical, any one
    *     survives).
    * `interWriteHook` runs between the two appends — a failpoint for the
    * crash-recovery spec; production leaves it a no-op. Every
    * `compactEvery` batches the sink folds the loose commit markers into
    * their manifest ([[compactCommits]]) so the marker directory stays
    * O(compactEvery) files regardless of stream lifetime. */
  def start(
      messages: Dataset[Schemas.Message],
      basePath: String,
      encoder: TextEncoder,
      maxTokens: Int = 800,
      timeoutMs: Long = 60000L,
      checkpoint: String,
      maxRounds: Int = 5,
      interWriteHook: Long => Unit = _ => (),
      compactEvery: Long = 64L,
      // production cadence ~the reference's flush interval; tests and
      // throughput benches pass ProcessingTime(0) so micro-batches chain
      // without trigger idle
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val batches = sessionBatcher(messages, maxTokens, timeoutMs, maxRounds)
    batches.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[SessionBatch], batchId: Long) =>
        val df = batch.toDF().persist()
        // dual-queue flush 1/2: original messages → m0_raw (an immutable
        // manifest-committed segment — same table protocol as batch ingest)
        TableOps.appendBucketed(
          df.select(col("session_id"), explode(col("messages")).as("m"))
            .select(col("m.message_id").as("message_id"), col("m.content").as("content"),
              col("m.role").as("role"), col("m.user_id").as("user_id"),
              col("session_id"), col("m.round_id").as("round_id"),
              col("m.sequence_number").as("sequence_number"),
              col("m.token_count").as("token_count"),
              col("m.created_at").as("created_at"),
              // updated_at = created_at at insert (replay-deterministic)
              col("m.created_at").as("updated_at"),
              lit("completed").as("processing_status"),
              // the streaming API shape carries no metadata; write the
              // empty map so both m0 writers share one schema
              typedlit(Map.empty[String, String]).as("metadata"),
              lit(batchId).as("batch_id")),
          s"$basePath/m0_raw")
        interWriteHook(batchId) // failpoint: crash between the two writes
        // dual-queue flush 2/2: encoded chunk → m1_episodic. created_at
        // is the batch's max message time — deterministic under replay
        // (current_timestamp() would make replayed rows distinct)
        // chunk id = hash of the batch's m0 ids + content: a replayed
        // batch regenerates its id, while two batches of one session with
        // the same text (two "ok thanks" turns) get distinct ids and
        // survive the committed view's dedup by chunk_id
        val chunks = df
          .withColumn("chunk_id", concat(col("session_id"), lit("#"),
            sha1(concat_ws("|", col("m0_raw_ids"), col("content")))))
          .withColumn("chunking_strategy", lit("token_based"))
          .withColumn("needs_embedding", lit(false))
          .withColumn("created_at",
            array_max(transform(col("messages"), m => m.getField("created_at"))))
        val m1Rows = encoder.encode(chunks, "content")
          .select(col("chunk_id"), col("content"), col("chunking_strategy"),
            col("token_count"), col("embedding"), col("m0_raw_ids"),
            col("user_id"), col("session_id"), col("needs_embedding"),
            col("created_at"), col("created_at").as("updated_at"),
            typedlit(Map.empty[String, String]).as("metadata"),
            lit(batchId).as("batch_id"))
          .persist() // feeds the m1 append AND the index absorption
        TableOps.appendBucketed(m1Rows, s"$basePath/m1_episodic")
        commitBatch(batch.sparkSession, basePath, batchId)
        // per-insert index maintenance, the reference's contract for
        // EVERY write path: absorb the batch into whatever side indexes
        // exist (idempotent — replayed or re-sent ids anti-join away,
        // see IndexUpkeep). After the marker: an indexed-but-uncommitted
        // id would be harmless (live-chunk semi-join), but a committed-
        // but-unindexed one is only a recall gap maintain() closes.
        IndexUpkeep.absorbBatch(batch.sparkSession, basePath,
          m1Rows.select("chunk_id", "content", "embedding"))
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          compactCommits(batch.sparkSession, basePath)
        m1Rows.unpersist()
        df.unpersist()
        ()
      }
      .start()
  }

  private def commitsDir(basePath: String) =
    new org.apache.hadoop.fs.Path(s"$basePath/_streaming_commits")

  /** Write the cross-table commit marker for `batchId` — called only
    * after BOTH queue flushes succeeded. Creation is idempotent
    * (overwrite), so a replayed already-committed batch re-marks
    * harmlessly. */
  private def commitBatch(spark: SparkSession, basePath: String, batchId: Long): Unit = {
    val dir = commitsDir(basePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    fs.create(new org.apache.hadoop.fs.Path(dir, batchId.toString), true).close()
  }

  private val CompactedRe = "_compacted_v(\\d{8})".r

  /** Batch ids with a commit marker: the newest compacted manifest's ids
    * ∪ any loose per-batch markers written since that compaction. */
  def committedBatchIds(spark: SparkSession, basePath: String): Set[Long] = {
    val dir = commitsDir(basePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Set.empty
    else {
      val names = fs.listStatus(dir).map(_.getPath.getName)
      val loose = names.filter(_.forall(_.isDigit)).map(_.toLong).toSet
      val versions = names.collect { case CompactedRe(n) => n.toLong }
      val compacted =
        if (versions.isEmpty) Set.empty[Long]
        else {
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(
            fs.open(new org.apache.hadoop.fs.Path(dir,
              f"_compacted_v${versions.max}%08d")),
            java.nio.charset.StandardCharsets.UTF_8))
          try Iterator.continually(in.readLine()).takeWhile(_ != null)
            .filter(_.nonEmpty).map(_.toLong).toSet
          finally in.close()
        }
      loose ++ compacted
    }
  }

  /** Fold the loose per-batch marker files into one versioned manifest
    * (run on the parquet-compaction cadence; the code's long-stated plan
    * at this spot). Ordered for crash safety at every step: the new
    * manifest (old-manifest ids ∪ loose ids) is fully written and
    * renamed into place BEFORE any loose marker or old manifest is
    * deleted — a crash mid-compaction can only leave an id recorded in
    * BOTH places (a union, never a loss). The rename refuses an existing
    * destination (TableOps' CAS), so racing compactors cannot clobber
    * each other. Returns the number of ids in the manifest. */
  def compactCommits(spark: SparkSession, basePath: String): Int = {
    val dir = commitsDir(basePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0
    val names = fs.listStatus(dir).map(_.getPath.getName)
    val oldVersions = names.collect { case CompactedRe(n) => n.toLong }
    val all = committedBatchIds(spark, basePath)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = new java.io.OutputStreamWriter(
      fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8)
    try out.write(all.toSeq.sorted.mkString("\n")) finally out.close()
    val next = if (oldVersions.isEmpty) 0L else oldVersions.max + 1
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, f"_compacted_v$next%08d"))) {
      fs.delete(tmp, false) // lost a race with another compactor; its
      return all.size       // manifest covers a superset of our loose ids
    }
    // new manifest durable: now safe to drop what it covers
    names.filter(_.forall(_.isDigit))
      .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(dir, n), false))
    oldVersions.foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, f"_compacted_v$v%08d"), false))
    all.size
  }

  /** Committed view of a streaming-written table: rows of uncommitted
    * batches dropped (a crash between the two queue flushes leaves the
    * half-written batch invisible), replay duplicates collapsed by
    * `idCol` (replayed rows are bit-identical, min_by batch_id keeps the
    * first-committed copy deterministically). Rows with no batch_id —
    * written by the synchronous batch ingest, which needs no marker —
    * pass through. The dedup is one hash-shuffle on the primary key,
    * the same cost class as the reference's PK upsert. */
  private def committedView(
      spark: SparkSession, basePath: String, table: String, idCol: String,
      buckets: Option[Seq[Long]]): DataFrame = {
    // mergeSchema: batch-ingested files carry no batch_id column, so a
    // sampled-footer schema would hide (or fabricate) the column on a
    // mixed batch+streaming table
    val df = TableOps.read(spark, s"$basePath/$table", buckets, mergeSchema = true)
    if (!df.columns.contains("batch_id")) df
    else {
      import spark.implicits._
      val commDf = committedBatchIds(spark, basePath).toSeq.toDF("__cb")
      val stream = df.filter(col("batch_id").isNotNull)
        .join(broadcast(commDf), col("batch_id") === col("__cb"), "left_semi")
      val visible = df.filter(col("batch_id").isNull).unionByName(stream)
      val keyed = visible.groupBy(col(idCol).as("__k"))
        .agg(min_by(struct(visible.columns.map(col): _*), coalesce(col("batch_id"), lit(-1L)))
          .as("__r"))
      keyed.select(col("__r.*"))
    }
  }

  /** m0_raw with exactly-once semantics restored on read; `buckets`
    * prunes to the named user buckets at manifest-resolution time. */
  def m0Committed(spark: SparkSession, basePath: String,
      buckets: Option[Seq[Long]] = None): DataFrame =
    committedView(spark, basePath, "m0_raw", "message_id", buckets)

  /** m1_episodic with exactly-once semantics restored on read. */
  def m1Committed(spark: SparkSession, basePath: String,
      buckets: Option[Seq[Long]] = None): DataFrame =
    committedView(spark, basePath, "m1_episodic", "chunk_id", buckets)

  /** Embedding backfill (B7): encode every chunk still flagged
    * `needs_embedding` and rewrite ONLY the user_bucket partitions that
    * contain pending rows — the filter is the partial-index predicate
    * (m1_episodic.py:196-202), and buckets with nothing pending are
    * never read twice or written at all. */
  def embedBackfill(spark: SparkSession, basePath: String, encoder: TextEncoder): Long = {
    val p = s"$basePath/m1_episodic"
    val all = TableOps.read(spark, p, mergeSchema = true)
    // partition-column type inference may read the bucket back as int
    val pendingBuckets = all.filter(col("needs_embedding"))
      .groupBy(col("user_bucket").cast("long").as("user_bucket"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val stamp = new java.sql.Timestamp(System.currentTimeMillis())
    pendingBuckets.foreach { case (bucket, _) =>
      TableOps.rewriteBucket(spark, p, bucket) { cur =>
        val pend = cur.filter(col("needs_embedding"))
        val done = encoder.encode(pend.drop("embedding"), "content")
          .withColumn("needs_embedding", lit(false))
          // the mutation bumps updated_at; untouched rows keep theirs
          // (dropped again by the select if the fixture predates the column)
          .withColumn("updated_at", lit(stamp))
          .select(cur.columns.toIndexedSeq.map(col): _*)
        cur.filter(!col("needs_embedding")).unionByName(done)
      }
    }
    pendingBuckets.map(_._2).sum
  }

  /** Event-time windowed rollup over a stream (the watermarked analogue
    * of EventOps.rollup — SURVEY §2.8 notes the reference has no
    * event-time semantics; Structured Streaming adds them for free). */
  def windowedRollup(events: DataFrame, window_ : String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Event-time SESSION windows on the stream — the native Structured
    * Streaming twin of the batch [[graft.operators.EventOps.sessionize]]
    * gap-based cut: `session_window` merges events of one user into a
    * window that extends `gap` past each event and closes when the gap
    * passes; the watermark both bounds the session state AND finalizes
    * closed sessions (append mode emits a session only once it can no
    * longer grow). One row per (user, session): count + exact sum. */
  def sessionWindowStats(events: DataFrame, gap: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.TextFunctions.dsum(col("value")).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** Watermarked stream-stream interval join — the attribution shape
    * (impression→click, request→response, send→ack): every left event
    * picks up the same-key right events landing within
    * `[left.ts, left.ts + maxDelaySeconds]`. Both sides are
    * watermarked, and the time-range predicate is what lets Spark
    * BOUND the join state: left rows are evicted once the right
    * watermark passes their window's end, right rows once the left
    * watermark passes their ts — without the range condition a
    * stream-stream join would buffer both streams forever. Inner join:
    * unattributed left events simply never emit (the left-outer
    * variant needs only `"leftOuter"` here, at the cost of waiting for
    * the watermark to declare a left row unmatched). Left carries
    * (user_id, ts, left_id), right (user_id, ts, right_id). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      maxDelaySeconds: Int, watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("l_ts"), col("left_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
        col("right_id"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"interval $maxDelaySeconds seconds"))
      .select(col("user_id"), col("l_ts"), col("left_id"),
        col("r_ts"), col("right_id"))
  }

  /** Stateful streaming anomaly screen — the stream twin of
    * [[graft.operators.EventOps.expandingZscore]], kept OP-FOR-OP
    * identical so StreamingSpec can assert stream ≡ batch instead of
    * approximating it: per-user state is the same three centi-scaled
    * LONG moments (n, Σv₂, Σv₂²) the batch window accumulates, each
    * event is z-scored against strictly-prior history, z is trunc6'd
    * before the cut, under-2-prior / zero-variance events emit NULL z
    * and never flag. State is 3 longs per user — effectively unbounded
    * retention is fine; swap in a timeout when user churn demands it.
    * Within a micro-batch events sort by (ts, event_id), so in-order
    * feeds reproduce the batch total order exactly. */
  def streamingZscore(events: DataFrame, zCut: Double = 3.0): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("v2"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long),
        (Long, Long, Option[Double], Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state) =>
          var (n, s, q) = state.getOption.getOrElse((0L, 0L, 0L))
          val out = it.toSeq.sortBy(r => (r._3, r._2)).map {
            case (_, eid, _, v2) =>
              val z: Option[Double] =
                if (n >= 2) {
                  val nD = n.toDouble
                  val mean2 = s.toDouble / nD
                  val var2 = q.toDouble / nD - mean2 * mean2
                  val sd2 = math.sqrt(var2)
                  if (sd2 > 0.0) Some(t6((v2.toDouble - mean2) / sd2))
                  else None
                } else None
              n += 1; s += v2; q += v2 * v2
              (uid, eid, z, z.exists(zz => math.abs(zz) > zCut))
          }
          state.update((n, s, q))
          out.iterator
      }
      .toDF("user_id", "event_id", "z", "is_anomaly")
  }

  /** Stateful streaming EWMA — the stream twin of
    * [[graft.operators.EventOps.ewma]] (depth-limited lag form, α^j
    * weights normalized over present lags), kept op-for-op identical:
    * per-user state is the ≤`depth` most recent values, the weighted
    * sums add in the same j = 0→depth order (absent lags contribute
    * an exact +0.0, as in the batch `when`), and the result is
    * trunc6'd. State is `depth` doubles per user. */
  def streamingEwma(events: DataFrame, alpha: Double = 0.5,
      depth: Int = 5): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val weights = (0 to depth).map(j => math.pow(alpha, j))
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")).as("ts_us"), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[Double], (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state) =>
          var hist = state.getOption.getOrElse(Nil) // most recent first
          val out = it.toSeq.sortBy(r => (r._3, r._2)).map {
            case (_, eid, us, v) =>
              val vals = v :: hist
              val num = weights.indices.map { j =>
                if (j < vals.length) vals(j) * weights(j) else 0.0
              }.reduce(_ + _)
              val den = weights.indices.map { j =>
                if (j < vals.length) weights(j) else 0.0
              }.reduce(_ + _)
              hist = vals.take(depth)
              (uid, eid, us, t6(num / den))
          }
          state.update(hist)
          out.iterator
      }
      .toDF("user_id", "event_id", "ts_us", "ewma")
  }

  /** Streaming exact dedup — the unbounded-stream twin of
    * [[graft.operators.Dedup.exact]]: rows whose content hash was
    * already emitted inside the watermark horizon are dropped, and the
    * dedup state is BOUNDED by that horizon (Spark evicts hashes older
    * than the watermark), which is what makes exact dedup feasible on
    * an endless ingest feed at all. A duplicate arriving later than the
    * horizon re-emits — the batch-side dedup (q28/q69) is the
    * full-history backstop, this is the ingest-time fast filter. */
  def streamingDedup(
      docs: DataFrame, textCol: String, tsCol: String, watermark: String): DataFrame =
    docs
      .withColumn("content_hash",
        graft.functions.TextFunctions.contentHash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** The cleaning recipe ON THE INGEST STREAM — every stage of
    * [[graft.operators.TextAnalysis.cleanCorpus]] that is row-local
    * (language allowlist, quality floor, repetition ceiling,
    * deterministic sample, PII redaction) applied as the rows arrive,
    * then the watermark-bounded exact dedup. Identical predicates and
    * identical trunc6'd scores as the batch recipe, so a row kept here
    * is exactly a row the batch recipe would keep (the only semantic
    * delta is dedup's winner: batch keeps the smallest doc_id per
    * content, a stream keeps the first ARRIVAL inside the horizon — the
    * batch recipe remains the full-history backstop).
    *
    * The scoring expressions are projected once behind a streaming-safe
    * pushdown barrier (a nondeterministic identity UDF — batch
    * cleanCorpus uses monotonically_increasing_id, which streaming
    * plans reject): without it the optimizer substitutes the scoring
    * into one monster filter that breaks whole-stage codegen and
    * re-evaluates the tokenization per reference (measured 20× slower
    * on the batch side). */
  def streamingClean(
      docs: DataFrame,
      markers: Map[String, Seq[String]],
      recipe: graft.operators.TextAnalysis.CleanRecipe,
      tsCol: String, watermark: String): DataFrame = {
    import graft.operators.TextAnalysis.{langGuessExpr, redactedExpr, stagePreds}
    val preds = stagePreds(markers, recipe)
    val barrier = udf((i: Long) => i).asNondeterministic()
    docs
      .select(col("*"),
        langGuessExpr(col("text"), markers).as("lang_guess"),
        preds(1).as("__q"), preds(2).as("__r"), preds(3).as("__s"))
      .withColumn("__barrier", barrier(lit(0L)))
      .filter(col("__s") && col("lang_guess").isin(recipe.langs: _*) &&
        col("__q") && col("__r"))
      .withColumn("redacted", redactedExpr(col("text")))
      .withColumn("content_hash",
        graft.functions.TextFunctions.contentHash(col("redacted")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("doc_id"), col("lang_guess"), col("redacted"), col(tsCol))
  }

  /** Substring (span) dedup ON THE INGEST STREAM — the crawl-ingest
    * deployment of the persisted shingle index, closing the loop the
    * batch operators open ([[graft.operators.Dedup.shingleIndex]] /
    * `shingleIndexMerge` / `incrementalSpansIndexed`): every
    * micro-batch is scanned against the index AS IT STOOD BEFORE the
    * batch (one map-side membership pass + the batch's own small
    * shuffle — cost independent of corpus size), its duplicated spans
    * land under `baseDir/spans/batch_id=N`, and the index advances by
    * the batch's shingle counts — so index maintenance IS the ingest
    * path, exactly like the BM25 postings and minhash signature upkeep.
    *
    * The index is LOG-STRUCTURED AND TIERED (an LSM tree in parquet —
    * the KeywordIndex postings-append / TableOps-compaction lifecycle
    * generalized; reference pattern: staged incremental index upkeep,
    * store/keyword_store/sqlite_store.py:93-145):
    *
    *  - L0: a batch appends ONLY its own shingle counts as a delta
    *    under `spanlog/delta/batch_id=N` — per-batch write cost
    *    ∝ batch, never index.
    *  - L1: every `compactEvery` batches the loose deltas fold into ONE
    *    run dir ([[graft.operators.Dedup.shingleIndexMerge]]; counts
    *    are a mergeable SUM) — compaction cost ∝ the deltas being
    *    folded, NEVER the index (the r11 form re-aggregated and rewrote
    *    the whole base here — O(index) every cadence).
    *  - base: every `compactEvery` runs (compactEvery² batches) the
    *    accumulated runs absorb into the base, which is HASH-BUCKETED
    *    by key shard (`pmod(xxhash64(sh), nShards)` — the same hash
    *    space as the Bloom shards) into per-shard segments tracked
    *    individually in the meta: only shards the runs' keys touch
    *    merge and rewrite; untouched segments carry over by REFERENCE
    *    (no read, no write). Absorption cost ∝ runs + touched
    *    segments — bucket-proportional, index-sized only in the
    *    uniform-key worst case, and then on the compactEvery² cadence
    *    (amortized O(index/compactEvery²) per batch, vs the r11 form's
    *    O(index/compactEvery)).
    *
    * Readers see base segments ∪ ≤ compactEvery runs ∪ ≤ compactEvery
    * batch-sized deltas; detection needs only key MEMBERSHIP and
    * left-semi joins are insensitive to duplicate right-side keys, so
    * the count merge is never paid on the detection path.
    *
    * Exactly-once: the whole index state (last folded batch id, fold
    * point, run list, per-shard segment paths, Bloom snapshot) advances
    * through ONE versioned-meta pointer CAS (TableOps lifecycle, shared
    * with the vector indexes). A replayed batch id at or below the
    * committed one is a NO-OP; span output and the delta land at
    * deterministic per-batch paths as OVERWRITES — a crash anywhere
    * before the meta commit leaves at most partial per-batch dirs that
    * the replay rewrites whole, and orphaned run/base dirs no committed
    * meta ever references (reclaimed by the keep-2 GC).
    *
    * `bloomShards > 0` ENABLES the sharded-Bloom prefilter snapshot;
    * once enabled it is maintained on every subsequent batch REGARDLESS
    * of the flag (a restart with the default 0 must not leave detection
    * probing an ever-staler snapshot — that would be a silent
    * false-negative exactness violation). */
  def spanDedupIngest(
      docs: DataFrame, baseDir: String, k: Int = 8,
      hashKeys: Boolean = true,
      compactEvery: Int = SpanCompactEvery,
      bloomShards: Int = 0,
      nShards: Int = SpanBaseShards): StreamingQuery =
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", s"$baseDir/ckpt_spans")
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        applySpanBatch(b, baseDir, k, hashKeys, batchId, compactEvery,
          bloomShards = bloomShards, nShards = nShards); ()
      }.start()

  /** Default L1 compaction cadence: readers union at most this many
    * batch-sized deltas (and this many runs) onto the base segments;
    * base absorption fires every cadence². */
  private[graft] val SpanCompactEvery = 8

  /** Default base bucket count. At 100 TB this is the knob that sizes
    * a segment to one executor's comfortable merge (thousands); the
    * sandbox default keeps per-segment files non-trivial at sf0.1. */
  private[graft] val SpanBaseShards = 16

  private val SpanMetaPrefix = "shingle_meta"
  private val SpanBasePrefix = "shingle_base"
  private val SpanRunPrefix = "shingle_run"
  private val SpanBloomPrefix = "shingle_bloomshards"

  /** Committed span-log state: last folded batch id, the batch id the
    * log is folded through (deltas above it are loose), the L1 run dir
    * names (oldest first), the per-shard base segment paths (entry s =
    * shard s's segment, relative to baseDir; null until that shard
    * first absorbs keys), the bucket count, and the sharded-Bloom
    * snapshot dir name (None when the snapshot isn't maintained). */
  private[graft] case class SpanLogState(
      lastBatch: Long, foldedThrough: Long,
      runs: Seq[String] = Nil, bases: Seq[String] = Nil,
      nShards: Int = SpanBaseShards,
      bloom: Option[String] = None) {
    def basePaths: Seq[String] = bases.filter(_ != null)
  }

  private[graft] def spanLogState(spark: SparkSession,
      baseDir: String): SpanLogState =
    TableOps.currentArtifactDir(spark, baseDir, SpanMetaPrefix) match {
      case Some(v) =>
        val r = spark.read.parquet(s"$baseDir/$v").head()
        // parquet arrays deserialize as mutable.ArraySeq — copy to the
        // immutable Seq the state (and its equality contract) carries
        def seqOf(name: String): Seq[String] =
          r.getAs[scala.collection.Seq[String]](name).toIndexedSeq
        SpanLogState(r.getAs[Long]("last_batch"),
          r.getAs[Long]("folded_through"),
          seqOf("runs"), seqOf("bases"),
          r.getAs[Int]("n_shards"),
          Option(r.getAs[String]("bloom")))
      case None => SpanLogState(-1L, -1L)
    }

  private def writeSpanMeta(spark: SparkSession, baseDir: String,
      st: SpanLogState): Unit = {
    import spark.implicits._
    val metaName = TableOps.nextArtifactDir(spark, baseDir, SpanMetaPrefix)
    Seq((st.lastBatch, st.foldedThrough, st.runs, st.bases, st.nShards,
      st.bloom.orNull))
      .toDF("last_batch", "folded_through", "runs", "bases", "n_shards",
        "bloom")
      .coalesce(1).write.parquet(s"$baseDir/$metaName")
    TableOps.commitArtifactDir(spark, baseDir, SpanMetaPrefix, metaName)
  }

  private def deltaDir(baseDir: String, id: Long): String =
    s"$baseDir/spanlog/delta/batch_id=$id"

  /** The index as its PARTS — per-shard base segments, L1 runs, and the
    * loose per-batch count deltas — WITHOUT the count merge: rows may
    * repeat a key across parts. Detection consumes exactly this (key
    * membership only); [[currentSpanIndex]] adds the merge for
    * consumers that need true counts. */
  private def spanIndexParts(spark: SparkSession, baseDir: String,
      st: SpanLogState, hashKeys: Boolean): DataFrame = {
    val dirs = (st.basePaths ++ st.runs).map(p => s"$baseDir/$p") ++
      ((st.foldedThrough + 1) to st.lastBatch).map(deltaDir(baseDir, _))
    if (dirs.isEmpty) {
      val shType: org.apache.spark.sql.types.DataType =
        if (hashKeys) org.apache.spark.sql.types.LongType
        else org.apache.spark.sql.types.StringType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sh", shType),
        org.apache.spark.sql.types.StructField("n_occ",
          org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else spark.read.parquet(dirs: _*).select("sh", "n_occ")
  }

  /** Current committed (merged index frame, last folded batch id) —
    * empty index / -1 before the first commit. The frame is the
    * merge-on-read view over base + deltas; its counts equal a
    * from-scratch [[graft.operators.Dedup.shingleIndex]] over
    * everything folded so far. */
  private[graft] def currentSpanIndex(spark: SparkSession, baseDir: String,
      hashKeys: Boolean): (DataFrame, Long) = {
    val st = spanLogState(spark, baseDir)
    (graft.operators.Dedup.shingleIndexMerge(
      Seq(spanIndexParts(spark, baseDir, st, hashKeys))), st.lastBatch)
  }

  /** One ingest step: detect the batch's spans against the committed
    * index parts, append the batch's count delta, advance the meta (and
    * compact on cadence). Idempotent on batch-id replay. Per-batch work
    * is O(batch): one membership scan of the parts (map-side vs the
    * broadcast batch keys) + a batch-sized delta write. Every
    * `compactEvery` batches the loose deltas fold into one L1 run
    * (cost ∝ the deltas — the index is NEVER re-aggregated here), and
    * every `compactEvery` runs the runs absorb into the shard-bucketed
    * base, rewriting only the segments their keys touch (see
    * [[spanDedupIngest]] for the full tier story).
    *
    * `bloomShards > 0` ENABLES the SHARDED Bloom snapshot
    * ([[graft.operators.Dedup.shingleIndexBloomShards]]) as a second
    * versioned artifact; once a snapshot exists it is maintained on
    * every batch regardless of the flag (detection probes it, so
    * leaving it stale would be a silent false-negative violation).
    * Detection probes the snapshot as it stood BEFORE the batch ahead
    * of the exact membership confirm, and the batch's keys fold in
    * afterwards — only touched shards rewrite
    * ([[graft.operators.Dedup.shingleIndexBloomShardsFold]]); when a
    * shard's insertions run ≥ 2× past its built capacity the whole
    * snapshot rebuilds at the current size (the doubling schedule —
    * amortized O(1) extra work per key, and the fpp contract holds
    * over an unbounded ingest). Index and snapshot advance through the
    * SAME meta CAS, so they can never commit out of step.
    *
    * Per-batch FS footprint: spans + delta + meta (+ snapshot when
    * maintained) writes and the meta pointer listing; the keep-2 GC
    * listings run only on L1-compaction cadence, so between compactions
    * superseded snapshot/meta generations accumulate but stay bounded
    * by compactEvery. */
  private[graft] def applySpanBatch(batch: DataFrame, baseDir: String,
      k: Int, hashKeys: Boolean, batchId: Long,
      compactEvery: Int = SpanCompactEvery,
      absorbEvery: Int = 0, // runs threshold for base absorption;
      // <= 0 couples it to compactEvery (the default LSM shape) —
      // the bench rungs decouple it to price the L1 step alone
      bloomShards: Int = 0,
      nShards: Int = SpanBaseShards): Unit = {
    val spark = batch.sparkSession
    val st = spanLogState(spark, baseDir)
    if (batchId <= st.lastBatch) return // replay of an already-folded batch
    // pin the micro-batch: it feeds detection AND the delta write, and a
    // foreachBatch frame re-executes its source per action otherwise.
    // (localCheckpoint is the sandbox trade — executor loss recomputes
    // nothing here; cluster deployments prefer reliable persistence)
    val b = batch.select("doc_id", "text").localCheckpoint()
    val parts = spanIndexParts(spark, baseDir, st, hashKeys)
    val spans = st.bloom match {
      case Some(snap) => graft.operators.Dedup.incrementalSpansBloomSharded(
        b, parts.select("sh"), spark.read.parquet(s"$baseDir/$snap"),
        k, hashKeys)
      case None => graft.operators.Dedup.incrementalSpansIndexed(
        b, parts.select("sh"), k, hashKeys)
    }
    spans.write.mode(SaveMode.Overwrite)
      .parquet(s"$baseDir/spans/batch_id=$batchId")
    graft.operators.Dedup.shingleIndex(b, k, hashKeys)
      .write.mode(SaveMode.Overwrite).parquet(deltaDir(baseDir, batchId))
    // ---- L1 compaction + base absorption (tier cadence) ----
    // the bucket count is pinned at the log's FIRST commit: segments
    // and snapshot shards key the same hash space for the log's life
    val shards = if (st.lastBatch >= 0) st.nShards else nShards
    val compactDue = batchId - st.foldedThrough >= compactEvery
    val (newRuns, newBases, newFolded) =
      if (!compactDue) (st.runs, st.bases, st.foldedThrough)
      else {
        val deltas = spark.read.parquet(
          ((st.foldedThrough + 1) to batchId)
            .map(deltaDir(baseDir, _)): _*)
        val absorbAt = if (absorbEvery > 0) absorbEvery else compactEvery
        if (st.runs.size + 1 < absorbAt) {
          // fold the loose deltas into ONE run — cost ∝ deltas, the
          // index untouched (this is the flat-compaction claim x6a/x6b
          // measure)
          val name = TableOps.nextArtifactDir(spark, baseDir, SpanRunPrefix)
          graft.operators.Dedup.shingleIndexMerge(Seq(deltas))
            .write.parquet(s"$baseDir/$name")
          (st.runs :+ name, st.bases, batchId)
        } else {
          // absorption: runs + these deltas merge into the base,
          // PER SHARD — only segments the incoming keys touch read,
          // merge and rewrite; the rest carry over by reference
          val shardOf = pmod(xxhash64(col("sh")), lit(shards.toLong))
            .cast("int").as("shard")
          val incoming = (st.runs.map(r =>
            spark.read.parquet(s"$baseDir/$r").select("sh", "n_occ")) :+
            deltas.select("sh", "n_occ"))
            .reduce(_ unionByName _).select(col("sh"), col("n_occ"), shardOf)
          val touched = incoming.select("shard").distinct()
            .collect().map(_.getInt(0)).toSet // ≤ nShards ints
          val oldBases = if (st.bases.nonEmpty) st.bases
            else Seq.fill[String](shards)(null)
          val touchedSegs = touched.toSeq.sorted
            .flatMap(s => Option(oldBases(s)))
            .map(p => spark.read.parquet(s"$baseDir/$p")
              .select(col("sh"), col("n_occ"), shardOf))
          val container =
            TableOps.nextArtifactDir(spark, baseDir, SpanBasePrefix)
          (incoming +: touchedSegs).reduce(_ unionByName _)
            .groupBy("shard", "sh").agg(sum(col("n_occ")).as("n_occ"))
            .write.partitionBy("shard").parquet(s"$baseDir/$container")
          val bases = (0 until shards).map { s =>
            if (touched(s)) s"$container/shard=$s" else oldBases(s)
          }
          (Nil, bases, batchId)
        }
      }
    // ---- Bloom snapshot maintenance ----
    val maintainBloom = bloomShards > 0 || st.bloom.isDefined
    val newBloom =
      if (!maintainBloom) None
      else {
        def freshBuild(nBloomShards: Int): DataFrame =
          graft.operators.Dedup.shingleIndexBloomShards(
            graft.operators.Dedup.shingleIndexMerge(Seq(spanIndexParts(
              spark, baseDir,
              st.copy(lastBatch = batchId, foldedThrough = newFolded,
                runs = newRuns, bases = newBases), hashKeys))),
            shards = nBloomShards)
        val name = TableOps.nextArtifactDir(spark, baseDir, SpanBloomPrefix)
        st.bloom match {
          // fold ONLY the batch's keys in — touched shards rewrite,
          // untouched pass through byte-identical
          case Some(cur) =>
            graft.operators.Dedup.shingleIndexBloomShardsFold(
              spark.read.parquet(s"$baseDir/$cur"), b, k, hashKeys)
              .write.parquet(s"$baseDir/$name")
            // capacity check on the (tiny, nShards-row) folded stats:
            // a shard ≥ 2× past its built capacity triggers a rebuild
            // at the current size — the superseded fold dir becomes an
            // unreferenced orphan for the keep-2 GC
            val over = spark.read.parquet(s"$baseDir/$name")
              .filter(col("n_keys") > col("expected") * 2).limit(1)
              .count() > 0
            if (!over) Some(name)
            else {
              val rn = spark.read.parquet(s"$baseDir/$name")
                .select("n_shards").head().getInt(0)
              val rebuilt =
                TableOps.nextArtifactDir(spark, baseDir, SpanBloomPrefix)
              freshBuild(rn).write.parquet(s"$baseDir/$rebuilt")
              Some(rebuilt)
            }
          // enable-time build: one pass over the merged index INCLUDING
          // this batch (with the doubling rebuilds, the only O(index)
          // snapshot moments are enable + ~log(growth) rebuilds)
          case None =>
            freshBuild(bloomShards).write.parquet(s"$baseDir/$name")
            Some(name)
        }
      }
    writeSpanMeta(spark, baseDir, SpanLogState(batchId, newFolded,
      newRuns, newBases, shards, newBloom))
    // keep-2 GC on compaction cadence only (per-batch listings would
    // dominate the FS footprint at high trigger rates): everything
    // referenced by neither the new meta nor the previous one goes
    if (compactDue)
      vacuumSpanLog(spark, baseDir, st,
        SpanLogState(batchId, newFolded, newRuns, newBases, shards,
          newBloom))
  }

  /** Seed a span-log warehouse from an index frame built elsewhere
    * (bench/test fixture): the frame becomes the shard-bucketed base,
    * lastBatch = foldedThrough = `seedBatchId` — as if a prior ingest
    * had folded and absorbed through that batch. */
  private[graft] def seedSpanLog(index: DataFrame, baseDir: String,
      seedBatchId: Long = 0L, nShards: Int = SpanBaseShards): Unit = {
    val spark = index.sparkSession
    val container = TableOps.nextArtifactDir(spark, baseDir, SpanBasePrefix)
    val shardOf = pmod(xxhash64(col("sh")), lit(nShards.toLong))
      .cast("int").as("shard")
    index.select(col("sh"), col("n_occ"), shardOf)
      .write.partitionBy("shard").parquet(s"$baseDir/$container")
    val present = spark.read.parquet(s"$baseDir/$container")
      .select("shard").distinct().collect()
      .map(_.getAs[Number]("shard").intValue()).toSet
    val bases = (0 until nShards).map(s =>
      if (present(s)) s"$container/shard=$s" else null)
    writeSpanMeta(spark, baseDir, SpanLogState(seedBatchId, seedBatchId,
      Nil, bases, nShards, None))
  }

  /** GC after a compaction commit, keep-2 semantics (the TableOps
    * vacuum convention): artifacts referenced by NEITHER the new meta
    * nor the previous one are unreachable — readers pin a meta at open,
    * and only those two generations can be live. Deltas at or below the
    * previous fold point, run dirs and base containers outside both
    * reference sets, and snapshot generations beyond the last two all
    * go. */
  private def vacuumSpanLog(spark: SparkSession, baseDir: String,
      prev: SpanLogState, cur: SpanLogState): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val deltas = new org.apache.hadoop.fs.Path(s"$baseDir/spanlog/delta")
    val fs = deltas.getFileSystem(conf)
    if (fs.exists(deltas))
      fs.listStatus(deltas).map(_.getPath)
        .filter { p =>
          val n = p.getName.stripPrefix("batch_id=")
          n.forall(_.isDigit) && n.nonEmpty && n.toLong <= prev.foldedThrough
        }.foreach(fs.delete(_, true))
    val base = new org.apache.hadoop.fs.Path(baseDir)
    def gcFamily(prefix: String, keep: Set[String]): Unit = {
      val re = (prefix + "_v(\\d{8})").r
      fs.listStatus(base).map(_.getPath)
        .filter(p => re.findFirstIn(p.getName).contains(p.getName))
        .filterNot(p => keep.contains(p.getName))
        .foreach(fs.delete(_, true))
    }
    gcFamily(SpanRunPrefix, (prev.runs ++ cur.runs).toSet)
    // a base container stays while ANY shard path of either meta points
    // into it (segment paths are container/shard=N)
    gcFamily(SpanBasePrefix,
      (prev.basePaths ++ cur.basePaths).map(_.split("/")(0)).toSet)
    gcFamily(SpanBloomPrefix, (prev.bloom.toSet ++ cur.bloom.toSet))
  }
}
