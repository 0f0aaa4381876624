package graft

import graft.pipeline.{HashingEncoder, Schemas, TableOps}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Int) =
    new java.sql.Timestamp(java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime + sec * 1000L)

  private def msg(id: String, session: String, seq: Int, nTokens: Int) =
    Schemas.Message(id, session, "u1", s"r$seq", seq, "user",
      Seq.fill(nTokens)(s"w$seq").mkString(" "), ts(seq))

  test("session batcher emits on token budget and isolates sessions") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Schemas.Message]
    val batches = StreamingIngest.sessionBatcher(source.toDS(), maxTokens = 100,
      timeoutMs = 0) // no auto-flush timer: deterministic micro-batch test
    val q = batches.writeStream.outputMode("append")
      .format("memory").queryName("batches_out").start()
    try {
      // s1: 60 + 60 tokens → adding the second would cross 100 → first
      // flushes; s2: 30 tokens stays buffered
      source.addData(
        msg("m1", "s1", 1, 60), msg("m2", "s1", 2, 60), msg("m3", "s2", 1, 30))
      q.processAllAvailable()
      val out = spark.table("batches_out")
        .select("session_id", "m0_raw_ids", "token_count", "trigger")
        .as[(String, Seq[String], Int, String)].collect()
      assert(out.length == 1)
      assert(out.head == (("s1", Seq("m1"), 60, "token_budget")))

      // oversized single message: pending flushes first, then the
      // oversized message becomes its own batch (round_buffer.py:104-120)
      source.addData(msg("m4", "s2", 2, 200))
      q.processAllAvailable()
      val out2 = spark.table("batches_out")
        .filter(col("session_id") === "s2")
        .select("m0_raw_ids", "token_count", "trigger")
        .as[(Seq[String], Int, String)].collect().sortBy(_._2)
      assert(out2.toSeq == Seq(
        (Seq("m3"), 30, "token_budget"), (Seq("m4"), 200, "oversized")))
    } finally q.stop()
  }

  test("streamed chunks reach the side indexes: indexed query sees them, absorption is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TempDirs.create("streamidx").toString
    val engine = new graft.pipeline.MemFuse(spark, dir)
    // batch-ingest a seed corpus and build kw+ivf indexes over it
    engine.ingest(Seq(
      Schemas.Message("b1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("b2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2))).toDF())
    engine.buildIndexes(nlist = 2)
    // stream a NEW message into the SAME warehouse
    val source = MemoryStream[Schemas.Message]
    val q = StreamingIngest.start(source.toDS(), dir, HashingEncoder(),
      maxTokens = 2, timeoutMs = 0, checkpoint = s"$dir/ckpt")
    try {
      source.addData(Schemas.Message("m9", "s1", "u1", "r9", 9, "user",
        "zanzibar quorum replication", ts(9)))
      q.processAllAvailable()
    } finally q.stop()
    // the streamed chunk is reachable through the INDEXED query path
    // with no rebuild — the reference's per-insert maintenance contract
    val hit = engine.query("zanzibar replication", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect()
    assert(hit.exists(_.getAs[String]("content").contains("zanzibar")),
      s"streamed chunk must be index-reachable: ${hit.mkString(";")}")
    // absorbing the same rows again is a no-op (replay / re-sent content):
    // posting and vector row counts stay fixed
    val m1 = TableOps.read(spark, s"$dir/m1_episodic", mergeSchema = true)
      .select(col("chunk_id"), col("content"), col("embedding"))
    val kw = new graft.pipeline.KeywordIndex(spark, s"$dir/index")
    val ivf = graft.pipeline.IvfIndex.load(spark, s"$dir/index")
    val (nDocs0, nVec0) = (kw.indexedDocIds.count(), ivf.assigned.count())
    graft.pipeline.IndexUpkeep.absorbBatch(spark, dir, m1)
    val kw2 = new graft.pipeline.KeywordIndex(spark, s"$dir/index")
    val ivf2 = graft.pipeline.IvfIndex.load(spark, s"$dir/index")
    assert(kw2.indexedDocIds.count() == nDocs0, "re-absorption must not duplicate postings")
    assert(ivf2.assigned.count() == nVec0, "re-absorption must not duplicate vectors")
  }

  // the same per-insert maintenance contract on the OTHER vector
  // backends: a streamed chunk must be reachable through a pq / ivfpq
  // index with no rebuild, and re-absorption must not duplicate codes
  for (backend <- Seq("pq", "ivfpq"))
    test(s"streamed chunks reach the $backend-backed index; absorption idempotent") {
      implicit val sqlCtx = spark.sqlContext
      val dir = graft.TempDirs.create(s"streamidx_$backend").toString
      val engine = new graft.pipeline.MemFuse(spark, dir)
      engine.ingest(Seq(
        Schemas.Message("b1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
        Schemas.Message("b2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2))).toDF())
      engine.buildIndexes(nlist = 2, vectorIndex = backend)
      val source = MemoryStream[Schemas.Message]
      val q = StreamingIngest.start(source.toDS(), dir, HashingEncoder(),
        maxTokens = 2, timeoutMs = 0, checkpoint = s"$dir/ckpt")
      try {
        source.addData(Schemas.Message("m9", "s1", "u1", "r9", 9, "user",
          "zanzibar quorum replication", ts(9)))
        q.processAllAvailable()
      } finally q.stop()
      val hit = engine.query("zanzibar replication", "u1", topK = 3,
        useIndexes = true, nProbe = 2).collect()
      assert(hit.exists(_.getAs[String]("content").contains("zanzibar")),
        s"streamed chunk must be $backend-index-reachable: ${hit.mkString(";")}")
      val m1 = TableOps.read(spark, s"$dir/m1_episodic", mergeSchema = true)
        .select(col("chunk_id"), col("content"), col("embedding"))
      def nCodes() = backend match {
        case "pq" => graft.pipeline.PqIndex.load(spark, s"$dir/index").codesArr.count()
        case _    => graft.pipeline.IvfPq.load(spark, s"$dir/index").codesArr.count()
      }
      val n0 = nCodes()
      assert(n0 == 3, s"all three chunks coded in the $backend index, got $n0")
      graft.pipeline.IndexUpkeep.absorbBatch(spark, dir, m1)
      assert(nCodes() == n0, "re-absorption must not duplicate code rows")
    }

  test("refresh() reopens held index handles: a streamed chunk becomes index-reachable") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TempDirs.create("streamrefresh").toString
    val engine = new graft.pipeline.MemFuse(spark, dir)
    engine.ingest(Seq(
      Schemas.Message("b1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("b2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2))).toDF())
    engine.buildIndexes(nlist = 2)
    // an indexed query opens the keyword and vector handles and holds them
    engine.query("spark partition", "u1", topK = 3, useIndexes = true, nProbe = 2).collect()
    val source = MemoryStream[Schemas.Message]
    val q = StreamingIngest.start(source.toDS(), dir, HashingEncoder(),
      maxTokens = 2, timeoutMs = 0, checkpoint = s"$dir/ckpt")
    try {
      source.addData(Schemas.Message("m9", "s1", "u1", "r9", 9, "user",
        "zanzibar quorum replication", ts(9)))
      q.processAllAvailable()
    } finally q.stop()
    engine.refresh()
    def found(useIndexes: Boolean) = engine.query("zanzibar replication", "u1", topK = 3,
      useIndexes = useIndexes, nProbe = 2).collect()
      .exists(_.getAs[String]("content").contains("zanzibar"))
    assert(found(useIndexes = false), "the scan path sees the streamed chunk")
    assert(found(useIndexes = true), "the indexed path must see it after refresh()")
  }

  test("batches of one session with the same text keep one m1 chunk per message") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TempDirs.create("streamsametext").toString
    val source = MemoryStream[Schemas.Message]
    // maxTokens = 1: every message is oversized, so each is its own batch
    val q = StreamingIngest.start(source.toDS(), dir, HashingEncoder(),
      maxTokens = 1, timeoutMs = 0, checkpoint = s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      Seq("a1" -> "ok thanks", "a2" -> "ok thanks", "a3" -> "see you tomorrow")
        .zipWithIndex.foreach { case ((id, text), i) =>
          source.addData(Schemas.Message(id, "s1", "u1", s"r$i", i, "user", text, ts(i)))
          q.processAllAvailable()
        }
    } finally q.stop()
    val m0Ids = StreamingIngest.m0Committed(spark, dir)
      .select("message_id").as[String].collect().sorted.toSeq
    val lineage = StreamingIngest.m1Committed(spark, dir)
      .select(explode(col("m0_raw_ids"))).as[String].collect().sorted.toSeq
    assert(m0Ids == Seq("a1", "a2", "a3"))
    assert(lineage == m0Ids, "every m0 id must be in exactly one m1 chunk")
  }

  test("streaming ingest flushes the dual queue: m0 originals AND m1 chunks") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TempDirs.create("stream").toString
    val source = MemoryStream[Schemas.Message]
    val q = StreamingIngest.start(source.toDS(), dir, HashingEncoder(),
      maxTokens = 50, timeoutMs = 0, checkpoint = s"$dir/ckpt")
    try {
      source.addData(msg("m1", "s1", 1, 40), msg("m2", "s1", 2, 40))
      q.processAllAvailable()
      val m1 = TableOps.read(spark, s"$dir/m1_episodic", mergeSchema = true)
      assert(m1.count() >= 1)
      val row = m1.orderBy("created_at").collect().head
      assert(row.getAs[scala.collection.Seq[String]]("m0_raw_ids").toSeq == Seq("m1"))
      assert(row.getAs[scala.collection.Seq[Float]]("embedding").length == Schemas.EmbeddingDim)
      // B2 dual queue: the flushed batch's ORIGINAL message landed in m0
      // with matching lineage and the shared partitioned layout
      val m0 = TableOps.read(spark, s"$dir/m0_raw", mergeSchema = true)
      val m0Ids = m0.select("message_id").as[String].collect().toSet
      assert(m0Ids == row.getAs[scala.collection.Seq[String]]("m0_raw_ids").toSet)
      assert(m0.columns.contains("user_bucket"))
      assert(m1.columns.contains("user_bucket"))
      val m0Row = m0.collect().head
      assert(m0Row.getAs[String]("round_id") == "r1")
      assert(m0Row.getAs[String]("processing_status") == "completed")
    } finally q.stop()
  }

  test("session batcher flushes on the 5-round max_size trigger under budget") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Schemas.Message]
    // 5 rounds × 10 tokens = 50 ≪ the 800 budget: only the round-count
    // trigger (round_buffer.max_size) can flush this buffer
    val batches = StreamingIngest.sessionBatcher(source.toDS(), maxTokens = 800,
      timeoutMs = 0, maxRounds = 5)
    val q = batches.writeStream.outputMode("append")
      .format("memory").queryName("maxsize_out").start()
    try {
      source.addData((1 to 5).map(i => msg(s"m$i", "s1", i, 10)): _*)
      q.processAllAvailable()
      val out = spark.table("maxsize_out")
        .select("m0_raw_ids", "token_count", "trigger")
        .as[(Seq[String], Int, String)].collect()
      assert(out.length == 1)
      assert(out.head == ((Seq("m1", "m2", "m3", "m4", "m5"), 50, "max_size")))
    } finally q.stop()
  }

  test("dual flush survives a crash between the two writes: no dupes, lineage 1:1") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TempDirs.create("stream_crash").toString
    val source = MemoryStream[Schemas.Message]
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    // failpoint: die AFTER the m0 append, BEFORE the m1 append —
    // the exact split the reference's Postgres transaction prevents
    val q1 = StreamingIngest.start(source.toDS(), dir, HashingEncoder(),
      maxTokens = 50, timeoutMs = 0, checkpoint = s"$dir/ckpt",
      interWriteHook = _ => if (fired.compareAndSet(false, true))
        throw new RuntimeException("injected crash between m0 and m1 flush"))
    source.addData(msg("m1", "s1", 1, 40), msg("m2", "s1", 2, 40))
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()

    // the half-flushed batch is physically in m0 but logically invisible
    assert(TableOps.read(spark, s"$dir/m0_raw").count() == 1)
    assert(StreamingIngest.m0Committed(spark, dir).count() == 0)

    // restart from the SAME checkpoint without the failpoint: the epoch
    // replays, appending m0 rows a second time + m1 + the commit marker
    val q2 = StreamingIngest.start(source.toDS(), dir, HashingEncoder(),
      maxTokens = 50, timeoutMs = 0, checkpoint = s"$dir/ckpt")
    try q2.processAllAvailable() finally q2.stop()

    // physical m0 holds the replay duplicate; the committed view doesn't
    assert(TableOps.read(spark, s"$dir/m0_raw").count() == 2)
    val m0 = StreamingIngest.m0Committed(spark, dir)
    val m1 = StreamingIngest.m1Committed(spark, dir)
    assert(m0.count() == 1)
    assert(m0.select("message_id").as[String].collect().toSeq == Seq("m1"))
    assert(m1.count() == 1)
    // m0 ↔ m1 lineage still exactly 1:1
    val lineage = m1.select(explode(col("m0_raw_ids")).as("message_id"))
    assert(lineage.as[String].collect().toSeq == Seq("m1"))
    assert(lineage.join(m0, Seq("message_id")).count() == 1)
    assert(m0.join(lineage, Seq("message_id"), "left_anti").count() == 0)
  }

  test("commit-marker compaction preserves the committed view exactly") {
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TempDirs.create("compact").toString
    val source = MemoryStream[Schemas.Message]
    val q = StreamingIngest.start(source.toDS(), dir, HashingEncoder(),
      maxTokens = 50, timeoutMs = 0, checkpoint = s"$dir/ckpt")
    try {
      source.addData(msg("m1", "s1", 1, 60)) // oversized → flush per batch
      q.processAllAvailable()
      source.addData(msg("m2", "s1", 2, 60))
      q.processAllAvailable()
    } finally q.stop()
    val idsBefore = StreamingIngest.committedBatchIds(spark, dir)
    assert(idsBefore.size >= 2)
    def committedRows =
      StreamingIngest.m0Committed(spark, dir)
        .select("message_id").as[String].collect().sorted.toSeq
    val rowsBefore = committedRows
    assert(StreamingIngest.compactCommits(spark, dir) == idsBefore.size)
    // the id set is identical through the manifest, the loose markers gone
    assert(StreamingIngest.committedBatchIds(spark, dir) == idsBefore)
    val loose = new java.io.File(s"$dir/_streaming_commits").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit))
    assert(loose.isEmpty, "per-batch marker files must be folded away")
    assert(committedRows == rowsBefore, "committed view unchanged")
    // idempotent re-compaction
    assert(StreamingIngest.compactCommits(spark, dir) == idsBefore.size)
    assert(committedRows == rowsBefore)
  }

  test("embedding backfill encodes rows flagged needs_embedding") {
    val dir = graft.TempDirs.create("backfill").toString
    val pending = Seq(
      ("c1", "some chunk text", "token_based", 3,
        Array.empty[Float], Seq("m1"), "u1", "s1", true, ts(0), ts(0)),
      ("c2", "already embedded", "token_based", 2,
        HashingEncoder().encodeOne("already embedded"), Seq("m2"), "u1", "s1", false, ts(1), ts(1)))
      .toDF("chunk_id", "content", "chunking_strategy", "token_count",
        "embedding", "m0_raw_ids", "user_id", "session_id", "needs_embedding",
        "created_at", "updated_at")
    TableOps.appendBucketed(pending, s"$dir/m1_episodic")
    // a second user in a DIFFERENT bucket with nothing pending: the
    // backfill must never touch that bucket's files
    val otherUser = (1 to 40).map(i => s"z$i").find(u =>
      TableOps.bucketOf(spark, u) != TableOps.bucketOf(spark, "u1")).get
    val settled = Seq((
      "c3", "other bucket chunk", "token_based", 3,
      HashingEncoder().encodeOne("other bucket chunk"), Seq("m3"),
      otherUser, "s2", false, ts(2), ts(2)))
      .toDF("chunk_id", "content", "chunking_strategy", "token_count",
        "embedding", "m0_raw_ids", "user_id", "session_id", "needs_embedding",
        "created_at", "updated_at")
    TableOps.appendBucketed(settled, s"$dir/m1_episodic")
    // the settled bucket's data files, wherever its segments put them
    def bucketFiles(bucket: Long): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/m1_episodic"))
        .filter(_.getPath.contains(s"user_bucket=$bucket/"))
        .map(f => f.getPath -> f.lastModified).toMap
    }
    val otherBucket = TableOps.bucketOf(spark, otherUser)
    val before = bucketFiles(otherBucket)

    val n = StreamingIngest.embedBackfill(spark, dir, HashingEncoder())
    assert(n == 1)
    val after = TableOps.read(spark, s"$dir/m1_episodic")
    assert(after.filter(col("needs_embedding")).count() == 0)
    assert(after.filter(size(col("embedding")) === Schemas.EmbeddingDim).count() == 3)
    val afterFiles = bucketFiles(otherBucket)
    assert(afterFiles == before, "settled bucket must be untouched by backfill")
    // the mutation bumped ONLY the encoded row's updated_at
    val upd = after.select("chunk_id", "created_at", "updated_at").collect()
      .map(r => r.getString(0) -> (r.getTimestamp(1), r.getTimestamp(2))).toMap
    assert(upd("c1")._2.after(upd("c1")._1), "backfilled row: updated_at bumped")
    assert(upd("c2")._1 == upd("c2")._2 && upd("c3")._1 == upd("c3")._2,
      "untouched rows keep updated_at = created_at")
  }

  test("windowed rollup with watermark runs on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(java.sql.Timestamp, String, Double)]
    val rollup = StreamingIngest.windowedRollup(
      source.toDS().toDF("ts", "event_type", "value"), "1 minute", "2 minutes")
    val q = rollup.writeStream.outputMode("update")
      .format("memory").queryName("rollup_out").start()
    try {
      source.addData((ts(0), "click", 1.0), (ts(10), "click", 2.0), (ts(70), "view", 3.0))
      q.processAllAvailable()
      val out = spark.table("rollup_out")
        .select("event_type", "n", "total_value")
        .as[(String, Long, Double)].collect().toSet
      assert(out == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("session windows on the stream: gap merges, close, finalize once") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val source = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sessions = StreamingIngest.sessionWindowStats(
      source.toDS().toDF("user_id", "ts", "value"),
      gap = "30 seconds", watermark = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // u1: two events 10 s apart (one session), then a 100 s gap
      // (new session); u2: one event — interleaved arrival order
      source.addData((1L, ts(0), 1.0), (2L, ts(5), 5.0), (1L, ts(10), 2.0))
      q.processAllAvailable()
      source.addData((1L, ts(110), 4.0))
      q.processAllAvailable()
      // advance the watermark far enough to close + emit every session
      source.addData((9L, ts(500), 0.0))
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .select("user_id", "n_events", "session_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(out.contains((1L, 2L, 3.0)), s"merged first session: $out")
      assert(out.contains((1L, 1L, 4.0)), "the post-gap event is its own session")
      assert(out.contains((2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("stream-stream interval join: in-window clicks attribute, stragglers don't") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val imps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamingIngest.intervalJoin(
      imps.toDS().toDF("user_id", "ts", "left_id"),
      clicks.toDS().toDF("user_id", "ts", "right_id"),
      maxDelaySeconds = 30, watermark = "10 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      imps.addData((1L, ts(0), "i1"), (2L, ts(0), "i2"))
      clicks.addData(
        (1L, ts(5), "c1"),   // in window → attributes to i1
        (1L, ts(100), "c2"), // 100 s late → outside the 30 s window
        (2L, ts(10), "c3"),  // in window, other user → i2
        (3L, ts(5), "c4"))   // no matching impression
      q.processAllAvailable()
      val out = spark.table("attr_out")
        .select("user_id", "left_id", "right_id")
        .as[(Long, String, String)].collect().toSet
      assert(out == Set((1L, "i1", "c1"), (2L, "i2", "c3")), out.toString)
    } finally q.stop()
  }

  test("stream-static enrichment: dim table joins per micro-batch, late dim rows invisible") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val source = MemoryStream[(Long, Double)]
    val enriched = source.toDS().toDF("user_id", "value")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enrich_out").start()
    try {
      source.addData((1L, 10.0), (2L, 20.0), (3L, 30.0))
      q.processAllAvailable()
      val out = spark.table("enrich_out")
        .as[(Long, Double, Option[String])].collect().toSet
      assert(out == Set((1L, 10.0, Some("gold")), (2L, 20.0, Some("basic")),
        (3L, 30.0, None)), s"got $out")
    } finally q.stop()
  }

  test("streaming dedup drops in-horizon duplicates, within and across batches") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val source = MemoryStream[(Long, java.sql.Timestamp, String)]
    val deduped = StreamingIngest.streamingDedup(
      source.toDS().toDF("doc_id", "ts", "text"), "text", "ts", "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      // batch 1: an in-batch duplicate
      source.addData((1L, ts(0), "alpha"), (2L, ts(1), "alpha"), (3L, ts(2), "beta"))
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate inside the horizon + a new doc
      source.addData((4L, ts(30), "beta"), (5L, ts(31), "gamma"))
      q.processAllAvailable()
      val kept = spark.table("dedup_out")
        .select("doc_id", "text").as[(Long, String)].collect().toSet
      // first occurrence of each content survives; 2 (in-batch) and
      // 4 (cross-batch, within the 10-minute horizon) are dropped
      assert(kept.map(_._2) == Set("alpha", "beta", "gamma"))
      assert(kept.map(_._1) == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("streaming clean: stream-kept rows == batch cleanCorpus on the same data") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val markers = Map(
      "en" -> Seq("the", "and", "of"),
      "de" -> Seq("der", "und", "das"))
    val recipe = TextAnalysis.CleanRecipe(
      langs = Seq("en"), minQuality = 0.1, maxRepRatio = 0.6, sampleRate = 1.0)
    val rows = Seq(
      (1L, "the quick brown fox and the lazy dog of the farm"), // kept
      (2L, "der hund und das haus und der baum und das auto"), // lang-dropped
      (3L, "call me at 55-555-123-4567 about the offer and the price of it"), // kept, redacted
      (4L, "the quick brown fox and the lazy dog of the farm"), // dup of 1
      (5L, "a a a a a a a a a a a a a a a a a a a a the and of")) // repetition-dropped
    // batch reference on the identical rows
    val batch = TextAnalysis.cleanCorpus(
      rows.toDF("doc_id", "text"), markers, recipe)
      .as[(Long, String, String)].collect().toSeq
    val source = MemoryStream[(Long, java.sql.Timestamp, String)]
    val cleaned = StreamingIngest.streamingClean(
      source.toDS().toDF("doc_id", "ts", "text"), markers, recipe,
      "ts", "10 minutes")
    val q = cleaned.writeStream.outputMode("append")
      .format("memory").queryName("clean_out").start()
    try {
      // arrival in doc_id order so the stream's first-arrival dedup
      // winner coincides with batch's smallest-doc_id winner
      source.addData(rows.map { case (id, t) => (id, ts(id.toInt), t) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("clean_out")
        .select("doc_id", "lang_guess", "redacted")
        .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
      assert(streamed == batch)
      assert(streamed.map(_._1) == Seq(1L, 3L))
      assert(streamed.find(_._1 == 3L).get._3.contains("[PHONE]"))
    } finally q.stop()
  }

  test("streaming zscore ≡ batch expanding zscore across micro-batches") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1: stable 10±1 history then a 100 spike; user 2: too little
    // history to ever score
    val rows = Seq(
      (1L, 1L, ts(0), 10.0), (2L, 1L, ts(1), 11.0), (3L, 1L, ts(2), 9.0),
      (4L, 1L, ts(3), 10.0), (5L, 1L, ts(4), 100.0),
      (6L, 2L, ts(0), 50.0), (7L, 2L, ts(1), 60.0))
    val batch = EventOps.expandingZscore(
      rows.toDF("event_id", "user_id", "ts", "value"))
      .as[(Long, Long, Option[Double], Boolean)].collect().toSet
    val source = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val q = StreamingIngest.streamingZscore(
      source.toDS().toDF("event_id", "user_id", "ts", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("zscore_out").start()
    try {
      // the spike arrives in a LATER micro-batch — state must carry the
      // exact integer moments across the batch boundary
      source.addData(rows.take(4): _*)
      q.processAllAvailable()
      source.addData(rows.drop(4): _*)
      q.processAllAvailable()
      val streamed = spark.table("zscore_out")
        .as[(Long, Long, Option[Double], Boolean)].collect().toSet
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      assert(streamed.exists { case (_, e, _, flag) => e == 5L && flag },
        "the planted spike is flagged")
      assert(streamed.filter(_._1 == 2L).forall(r => r._3.isEmpty && !r._4),
        "under-2-prior users never score or flag")
    } finally q.stop()
  }

  test("streaming ewma ≡ batch lag-form ewma across micro-batches") {
    import graft.operators.EventOps
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1 has 8 events (beyond depth=5 so the window slides); user 2
    // has a short history exercising the present-lag normalization
    val rows = (0 until 8).map(i => (i + 1L, 1L, ts(i), 10.0 + i * 3.0)) ++
      Seq((9L, 2L, ts(0), 5.0), (10L, 2L, ts(1), 7.0))
    val batch = EventOps.ewma(
      rows.toDF("event_id", "user_id", "ts", "value"), alpha = 0.5, depth = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val source = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val q = StreamingIngest.streamingEwma(
      source.toDS().toDF("event_id", "user_id", "ts", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ewma_out").start()
    try {
      // split mid-history: the lag window must carry across the boundary
      source.addData(rows.take(5): _*)
      q.processAllAvailable()
      source.addData(rows.drop(5): _*)
      q.processAllAvailable()
      val streamed = spark.table("ewma_out")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(streamed == batch, s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("span-dedup ingest maintains the shingle index; stream ≡ batch; replay is a no-op") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TempDirs.create("graft_spanstream").toString
    val b1 = Seq((1L, "x a b c d y"), (2L, "k l m n o p"))
    val b2 = Seq((10L, "w a b c d q"), (11L, "m n o z m n o"))
    val source = MemoryStream[(Long, String)]
    val q = StreamingIngest.spanDedupIngest(
      source.toDS().toDF("doc_id", "text"), dir, k = 3, hashKeys = false)
    try {
      source.addData(b1: _*); q.processAllAvailable()
      source.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // the ingest-maintained index equals a from-scratch build over
    // everything ingested so far
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val (idx, lastBatch) =
      StreamingIngest.currentSpanIndex(spark, dir, hashKeys = false)
    assert(lastBatch == 1L)
    assert(idx.as[(String, Long)].collect().toMap ==
      Dedup.shingleIndex(all, k = 3).as[(String, Long)].collect().toMap)
    // batch 2's spans were detected against the index as it stood
    // BEFORE the batch — exactly the batch operator's answer
    val got = spark.read.parquet(s"$dir/spans/batch_id=1")
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val want = Dedup.incrementalSpans(
      b2.toDF("doc_id", "text"), b1.toDF("doc_id", "text"), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got == want && got.nonEmpty, s"$got vs $want")
    // a replayed batch id is a committed no-op: index state unchanged
    StreamingIngest.applySpanBatch(b2.toDF("doc_id", "text"), dir,
      k = 3, hashKeys = false, batchId = 1L)
    val (idx2, last2) =
      StreamingIngest.currentSpanIndex(spark, dir, hashKeys = false)
    assert(last2 == 1L)
    assert(idx2.as[(String, Long)].collect().toMap ==
      idx.as[(String, Long)].collect().toMap)
  }

  test("span-dedup ingest maintains the sharded-Bloom snapshot with the " +
      "index: spans exact, snapshot advances through the same meta CAS, replay no-op") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val dir = graft.TempDirs.create("graft_spanstream_bloom").toString
    val b1 = Seq((1L, "x a b c d y"), (2L, "k l m n o p"))
    val b2 = Seq((10L, "w a b c d q"), (11L, "m n o z m n o"))
    val source = MemoryStream[(Long, String)]
    val q = StreamingIngest.spanDedupIngest(
      source.toDS().toDF("doc_id", "text"), dir, k = 3, hashKeys = false,
      bloomShards = 4)
    try {
      source.addData(b1: _*); q.processAllAvailable()
      source.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val st = StreamingIngest.spanLogState(spark, dir)
    assert(st.lastBatch == 1L && st.bloom.isDefined)
    // batch 2's spans went through the Bloom-prefiltered detection and
    // are still EXACT — identical to the recompute operator
    val got = spark.read.parquet(s"$dir/spans/batch_id=1")
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val want = Dedup.incrementalSpans(
      b2.toDF("doc_id", "text"), b1.toDF("doc_id", "text"), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got == want && got.nonEmpty, s"$got vs $want")
    // a third batch detects against the FOLD-maintained snapshot
    // (corpus = b1 ∪ b2) and still matches the recompute answer
    val b3 = Seq((20L, "u a b c d v"), (21L, "h m n o z w"))
    StreamingIngest.applySpanBatch(b3.toDF("doc_id", "text"), dir,
      k = 3, hashKeys = false, batchId = 2L, bloomShards = 4)
    val got3 = spark.read.parquet(s"$dir/spans/batch_id=2")
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val want3 = Dedup.incrementalSpans(b3.toDF("doc_id", "text"),
      (b1 ++ b2).toDF("doc_id", "text"), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got3 == want3 && got3.nonEmpty, s"$got3 vs $want3")
    // snapshot advanced with the meta; replay is a full-state no-op
    val st3 = StreamingIngest.spanLogState(spark, dir)
    assert(st3.lastBatch == 2L && st3.bloom.isDefined &&
      st3.bloom != st.bloom)
    StreamingIngest.applySpanBatch(b3.toDF("doc_id", "text"), dir,
      k = 3, hashKeys = false, batchId = 2L, bloomShards = 4)
    assert(StreamingIngest.spanLogState(spark, dir) == st3)
  }

  test("span-log tiers: batch-sized deltas, L1 run compaction ∝ deltas, " +
      "per-shard base absorption, merged ≡ from-scratch, vacuum reclaims") {
    import graft.operators.Dedup
    val dir = graft.TempDirs.create("graft_spanlog_fold").toString
    val batches = (0 until 5).map { i =>
      Seq((i * 10L + 1, s"a b c d shared tail x$i"),
          (i * 10L + 2, s"p q r s t u v y$i"))
    }
    // compactEvery = 2 with foldedThrough starting at -1:
    // batch 1 folds deltas 0-1 into a run; batch 3 hits the runs
    // threshold and ABSORBS (run + deltas 2-3) into the sharded base;
    // batches 0/2/4 are pure folds
    def fold(i: Int): Unit = StreamingIngest.applySpanBatch(
      batches(i).toDF("doc_id", "text"), dir, k = 3, hashKeys = false,
      batchId = i.toLong, compactEvery = 2, nShards = 4)
    (0 to 1).foreach(fold)
    val st1 = StreamingIngest.spanLogState(spark, dir)
    // L1 compaction folded the loose deltas into ONE run and left the
    // base alone — the step the r11 form paid O(index) for
    assert(st1.lastBatch == 1L && st1.foldedThrough == 1L &&
      st1.runs.size == 1 && st1.basePaths.isEmpty)
    (2 to 3).foreach(fold)
    val st3 = StreamingIngest.spanLogState(spark, dir)
    // absorption consumed the runs into per-shard base segments
    assert(st3.lastBatch == 3L && st3.foldedThrough == 3L &&
      st3.runs.isEmpty && st3.basePaths.nonEmpty && st3.nShards == 4)
    fold(4)
    val st4 = StreamingIngest.spanLogState(spark, dir)
    // the non-compacting batch advanced the log WITHOUT touching base
    // or runs: its only data write is the batch-sized delta (per-batch
    // work independent of index size)
    assert(st4.lastBatch == 4L && st4.foldedThrough == 3L &&
      st4.bases == st3.bases && st4.runs.isEmpty)
    val delta4 = spark.read.parquet(s"$dir/spanlog/delta/batch_id=4")
    assert(delta4.count() ==
      Dedup.shingleIndex(batches(4).toDF("doc_id", "text"), k = 3).count())
    // merged view over base segments ∪ runs ∪ deltas equals a
    // from-scratch build (5 batches, through a run compaction AND a
    // base absorption)
    val all = batches.flatten.toDF("doc_id", "text")
    val (idx, last) = StreamingIngest.currentSpanIndex(spark, dir, hashKeys = false)
    assert(last == 4L)
    assert(idx.as[(String, Long)].collect().toMap ==
      Dedup.shingleIndex(all, k = 3).as[(String, Long)].collect().toMap)
    // each batch's spans were detected against the log as it stood
    // BEFORE the batch — identical to the recompute operator's answer
    val got = spark.read.parquet(s"$dir/spans/batch_id=4")
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val want = Dedup.incrementalSpans(batches(4).toDF("doc_id", "text"),
      batches.take(4).flatten.toDF("doc_id", "text"), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got == want, s"$got vs $want")
    // vacuum (keep-2): the absorption event reclaimed deltas at or
    // below the PREVIOUS fold point; newer deltas survive, and the
    // just-consumed run survives one more generation (prev meta
    // still references it)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/spanlog/delta/batch_id=0")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/spanlog/delta/batch_id=1")))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/spanlog/delta/batch_id=4")))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/${st1.runs.head}")))
    // replay below the committed frontier is a no-op
    fold(2)
    assert(StreamingIngest.spanLogState(spark, dir) == st4)
  }

  test("span-log absorption touches only the shards its keys hash to; " +
      "untouched base segments carry over by reference") {
    import graft.operators.Dedup
    val dir = graft.TempDirs.create("graft_spanlog_touch").toString
    // seed a 64-shard base from a wide corpus (many occupied shards)
    val corpus = (0 until 40).map(i =>
      (i.toLong, s"w$i x$i y$i z$i q$i r$i")).toDF("doc_id", "text")
    StreamingIngest.seedSpanLog(
      Dedup.shingleIndex(corpus, k = 3), dir, nShards = 64)
    val st0 = StreamingIngest.spanLogState(spark, dir)
    assert(st0.basePaths.size > 10, s"seed too narrow: ${st0.basePaths.size}")
    // one tiny batch absorbed straight into the base (compactEvery=1):
    // its ~4 keys hash to a handful of shards
    val batch = Seq((100L, "n1 n2 n3 n4 n5 n6")).toDF("doc_id", "text")
    StreamingIngest.applySpanBatch(batch, dir, k = 3, hashKeys = false,
      batchId = 1L, compactEvery = 1)
    val st1 = StreamingIngest.spanLogState(spark, dir)
    val touched = (0 until 64).count(s =>
      st1.bases(s) != null && st1.bases(s) != st0.bases(s))
    val carried = (0 until 64).count(s =>
      st0.bases(s) != null && st1.bases(s) == st0.bases(s))
    // the batch's distinct keys bound the touched-shard count; every
    // other occupied segment keeps its OLD path — absorption cost is
    // bucket-proportional, never index-proportional
    val nBatchKeys = Dedup.shingleIndex(batch, k = 3).count()
    assert(touched > 0 && touched <= nBatchKeys,
      s"touched $touched vs batch keys $nBatchKeys")
    assert(carried > 5, s"only $carried segments carried by reference")
    // and the merged view is still exactly the from-scratch index
    val (idx, _) = StreamingIngest.currentSpanIndex(spark, dir, hashKeys = false)
    assert(idx.as[(String, Long)].collect().toMap ==
      Dedup.shingleIndex(corpus.unionByName(batch), k = 3)
        .as[(String, Long)].collect().toMap)
  }

  test("span-log bloom: once enabled the snapshot keeps folding even when " +
      "a restart drops the flag — detection stays exact, never stale") {
    import graft.operators.Dedup
    val b1 = Seq((1L, "x a b c d y"), (2L, "k l m n o p"))
    val b2 = Seq((10L, "w a b c d q"), (11L, "m n o z m n o"))
    val b3 = Seq((20L, "u a b c d v"), (21L, "h m n o z w"))
    val dir = graft.TempDirs.create("graft_spanlog_bloomoff").toString
    StreamingIngest.applySpanBatch(b1.toDF("doc_id", "text"), dir,
      k = 3, hashKeys = false, batchId = 0L, bloomShards = 4)
    val st0 = StreamingIngest.spanLogState(spark, dir)
    assert(st0.bloom.isDefined)
    // the restart-with-default scenario (advice r11): bloomShards = 0
    // on a log whose snapshot exists — the fold must continue (b2's
    // keys enter the snapshot) or b3 would miss cross-batch duplicates
    StreamingIngest.applySpanBatch(b2.toDF("doc_id", "text"), dir,
      k = 3, hashKeys = false, batchId = 1L, bloomShards = 0)
    val st1 = StreamingIngest.spanLogState(spark, dir)
    assert(st1.bloom.isDefined && st1.bloom != st0.bloom,
      s"snapshot did not advance: ${st0.bloom} -> ${st1.bloom}")
    StreamingIngest.applySpanBatch(b3.toDF("doc_id", "text"), dir,
      k = 3, hashKeys = false, batchId = 2L, bloomShards = 0)
    val got = spark.read.parquet(s"$dir/spans/batch_id=2")
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val want = Dedup.incrementalSpans(b3.toDF("doc_id", "text"),
      (b1 ++ b2).toDF("doc_id", "text"), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // b3 duplicates spans from BOTH earlier batches; a stale snapshot
    // would drop the b2-sourced ones
    assert(got == want && got.nonEmpty, s"$got vs $want")
  }

  test("span-log bloom: a shard run 2x past its built capacity triggers " +
      "a same-batch snapshot rebuild at the current size") {
    import graft.operators.Dedup
    val dir = graft.TempDirs.create("graft_spanlog_bloomcap").toString
    val small = Seq((1L, "x a b c d y"))
    // enable on a tiny corpus: every shard's filter is built at the
    // 16-key capacity floor
    StreamingIngest.applySpanBatch(small.toDF("doc_id", "text"), dir,
      k = 3, hashKeys = false, batchId = 0L, bloomShards = 4)
    val st0 = StreamingIngest.spanLogState(spark, dir)
    val snap0 = spark.read.parquet(s"$dir/${st0.bloom.get}")
    assert(snap0.agg(max(col("expected"))).head().getLong(0) == 16L)
    // a batch with ~300 distinct shingles drives every shard far past
    // 2x its built capacity — the maintainer must rebuild, not let fpp
    // drift toward 1 over an unbounded ingest
    val big = Seq((2L, (0 until 300).map(i => s"t$i").mkString(" ")))
    StreamingIngest.applySpanBatch(big.toDF("doc_id", "text"), dir,
      k = 3, hashKeys = false, batchId = 1L)
    val st1 = StreamingIngest.spanLogState(spark, dir)
    val snap1 = spark.read.parquet(s"$dir/${st1.bloom.get}")
      .select("n_keys", "expected").as[(Long, Long)].collect()
    assert(snap1.forall { case (n, exp) => n <= 2 * exp },
      snap1.mkString(","))
    assert(snap1.map(_._2).max > 16L, "rebuild did not resize")
    // and the rebuilt snapshot still serves detection exactly
    val b2 = Seq((10L, "w a b c d q t5 t6 t7 z"))
    StreamingIngest.applySpanBatch(b2.toDF("doc_id", "text"), dir,
      k = 3, hashKeys = false, batchId = 2L)
    val got = spark.read.parquet(s"$dir/spans/batch_id=2")
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val want = Dedup.incrementalSpans(b2.toDF("doc_id", "text"),
      (small ++ big).toDF("doc_id", "text"), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got == want && got.nonEmpty, s"$got vs $want")
  }
}
