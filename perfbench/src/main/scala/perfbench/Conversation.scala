package perfbench

import scala.collection.mutable

import graft.pipeline.{MemFuse, Schemas, TableOps}
import org.apache.spark.sql.functions._

/** `conversation`: reads beside writes on one warehouse.
  *
  * Set-up: a few users with two sessions of history each, cataloged, then
  * the BM25 + IVF indexes. Each turn the user's new message is an indexed
  * `query` (collected), then `ingest` stores the round (user + assistant
  * message). The run is a sequence of cycles: [[TurnsPerCycle]] turns,
  * then the last user opens a new session and their oldest one is
  * removed with `deleteSession`, then `maintain()` runs in line. A user
  * message carries one rare word, as real messages name things; on the
  * first turn of each cycle an untimed probe checks that the round just
  * written is in the top 10 for its own text. */
final class Conversation extends Workload {
  import Conversation._

  private val turn = new Samples
  private val ingestS = new Samples
  private val deleteS = new Samples
  private val maintainS = new Samples
  private val newSessionS = new Samples
  private val querySamples = new Samples
  private val phases = mutable.LinkedHashMap.empty[String, Samples]
  private var rebuilds = 0
  private var refits = 0
  private var contentBytes = 0L

  final class State(val mf: MemFuse, val dir: String, val users: IndexedSeq[String]) {
    val sessions = mutable.Map.empty[String, mutable.Queue[String]]
    var nextSession = 0
    var seq = mutable.Map.empty[String, Int].withDefaultValue(0)
  }

  private def build(run: Run, docs: IndexedSeq[String], dir: java.io.File): State = {
    val spark = run.spark
    // history contents are fixed; the seed drives the measured turns
    val rnd = new scala.util.Random(0)
    val mf = new MemFuse(spark, dir.getAbsolutePath)
    val users = Fixture.tenants(spark, "conv-user-", NUsers).take(NUsers)
    val st = new State(mf, dir.getAbsolutePath, users)
    mf.createAgent("agent-0", "assistant")
    val history = mutable.ArrayBuffer.empty[Schemas.Message]
    var bytes = 0L
    users.foreach { u =>
      mf.createUser(u, u)
      st.sessions(u) = mutable.Queue.empty
      (0 until 2).foreach { _ =>
        val sid = newSessionId(st)
        mf.createSession(sid, u, "agent-0")
        st.sessions(u).enqueue(sid)
        (0 until HistoryRounds).foreach { r =>
          val (um, am) = round(st, u, sid, docs, s"h-$sid-$r", None, rnd)
          history += um += am
          bytes += um.content.length + am.content.length
        }
      }
    }
    mf.ingest(Fixture.messages(spark, history.toSeq))
    mf.buildIndexes()
    contentBytes = bytes
    st
  }

  private def newSessionId(st: State): String = { st.nextSession += 1; s"conv-s${st.nextSession}" }

  /** The user message and the assistant reply of one round. */
  private def round(st: State, user: String, sid: String, docs: IndexedSeq[String],
      roundId: String, rare: Option[String], rnd: scala.util.Random): (Schemas.Message, Schemas.Message) = {
    def snippet() = docs(rnd.nextInt(docs.size)).split(" ").take(MsgTokens).mkString(" ")
    val userText = (snippet() +: rare.toSeq).mkString(" ")
    val seq = st.seq(sid); st.seq(sid) = seq + 2
    val t = System.currentTimeMillis()
    (Schemas.Message(s"$roundId-u", sid, user, roundId, seq, "user", userText, Fixture.ts(t)),
      Schemas.Message(s"$roundId-a", sid, user, roundId, seq + 1, "assistant", snippet(),
        Fixture.ts(t + 1)))
  }

  def setupAndMeasure(run: Run): Double = {
    val spark = run.spark
    val docs = Fixture.documents(spark, run.args.dataDir)
    val (st, setupS) = Fixture.timed(build(run, docs, new java.io.File(run.args.workDir, "conversation")))
    val mf = st.mf
    def ivfVersion = TableOps.currentArtifactDir(spark, s"${st.dir}/index", "ivf")
    var lastIvf = ivfVersion
    // untimed warm-up cycle (one turn, a session rotation, maintain()), so
    // the measured phase starts with every path it times compiled
    locally {
      val user = st.users.head
      val (um, am) = round(st, user, st.sessions(user).last, docs, "warm-up", Some("warmupword"),
        run.rnd)
      mf.query(um.content, user, topK = 10, useIndexes = true).collect()
      mf.ingest(Fixture.messages(spark, Seq(um, am)))
      contentBytes += um.content.length + am.content.length
      val sid = newSessionId(st)
      mf.createSession(sid, user, "agent-0")
      st.sessions(user).enqueue(sid)
      mf.deleteSession(st.sessions(user).dequeue())
      mf.maintain()
      lastIvf = ivfVersion
    }
    run.measured {
      val start = System.nanoTime()
      var t = 0
      var cycles = 0
      var untimedNs = 0L // output checks, left out of the turn rate's wall time
      def untimed(f: => Unit): Unit = {
        val p0 = System.nanoTime(); f; untimedNs += System.nanoTime() - p0
      }
      // one cycle: TurnsPerCycle turns, then the last user rotates a
      // session (create + deleteSession), then maintain()
      while (run.more(start, cycles)) {
        var user = ""
        (0 until TurnsPerCycle).foreach { k =>
          // users take turns in a fixed order, so every seed deletes the
          // same sessions and maintain() meets the same tombstone share
          user = st.users(t % st.users.size)
          val sid = st.sessions(user).last
          val rare = f"w${run.args.seed.abs}%d${t}%05dx${run.rnd.nextInt(1000)}%03d"
          val (um, am) = round(st, user, sid, docs, s"turn-$t", Some(rare), run.rnd)
          val t0 = System.nanoTime()
          run.op("query_indexed", querySamples) { id =>
            val df = run.tracer.span("query_indexed.build", id)(
              mf.query(um.content, user, topK = 10, useIndexes = true))
            if (run.tracer.enabled) run.tracer.span("query_indexed.plan", id)(df.queryExecution.executedPlan)
            run.tracer.span("query_indexed.exec", id)(df.collect())
          }(rows => if (rows.length > 10) Some(s"${rows.length} rows > 10") else None)
          val stored = run.op("ingest", ingestS) { _ =>
            mf.ingest(Fixture.messages(spark, Seq(um, am)))
          }()
          turn.add((System.nanoTime() - t0) / 1e9)
          contentBytes += um.content.length + am.content.length
          val v = ivfVersion
          if (v != lastIvf) { refits += 1; lastIvf = v }
          if (stored.isDefined && k == 0) untimed(probe(run, st, user, um))
          t += 1
        }
        rotateSession(run, st, user, untimed)
        run.op("maintain", maintainS) { _ =>
          if (mf.maintain(onPhase = (p, s) =>
              phases.getOrElseUpdate(p, new Samples).add(s))) rebuilds += 1
        }()
        cycles += 1
      }
      val wall = (System.nanoTime() - start - untimedNs) / 1e9
      run.notes("turns") = t
      run.notes("turn_s") = turn.values
      run.notes("cycles") = cycles
      run.notes("measured_s") = wall
      Stats.timing("turn", turn.values, 0.9).foreach(run.put)
      run.put(Metric("turns_per_s", t / wall, "1/s", t))
      run.put(Metric("op_p50_s", Stats.median(turn.values), "s", turn.size, "p50"))
      run.put(Metric("ops_per_s", t / wall, "1/s", t))
    }
    run.put(Metric("space_amp",
      Fixture.bytesOnDisk(new java.io.File(st.dir)).toDouble / contentBytes, "ratio", 1))
    run.notes("tail") = Stats.tailNote(turn.size)
    run.notes("m1_segments") = TableOps.segmentCount(spark, s"${st.dir}/m1_episodic")
    setupS
  }

  /** Untimed: the round just written must be in the top 10 for its own
    * user message; a miss counts the turn's ingest as failed. */
  private def probe(run: Run, st: State, user: String, um: Schemas.Message): Unit = {
    val rows = st.mf.query(um.content, user, topK = 10, useIndexes = true).collect()
    val hit = rows.exists(_.getAs[String]("content").contains(um.content))
    if (!hit) run.fail(s"probe: round ${um.round_id} not in top-10 for its own text")
  }

  /** Open a new session for `user`, then delete their oldest; the
    * deleted session must have no m0/m1 rows left. */
  private def rotateSession(run: Run, st: State, user: String, untimed: (=> Unit) => Unit): Unit = {
    val sid = newSessionId(st)
    run.op("create_session", newSessionS)(_ => st.mf.createSession(sid, user, "agent-0"))()
    st.sessions(user).enqueue(sid)
    val victim = st.sessions(user).dequeue()
    if (run.op("delete_session", deleteS)(_ => st.mf.deleteSession(victim))().isDefined)
      untimed {
        val left = st.mf.m0ForUser(user).filter(col("session_id") === victim).count() +
          st.mf.m1ForUser(user).filter(col("session_id") === victim).count()
        if (left != 0) run.fail(s"session $victim has $left m0/m1 rows after deleteSession")
      }
  }

  def layers(run: Run): Unit = {
    val ss = run.tracer.allSpans
    for (part <- Seq("build", "plan", "exec")) {
      val xs = ss.filter(_.name == s"query_indexed.$part").map(_.seconds)
      run.putLayer(s"query_indexed.${part}_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s", xs.size)
    }
    run.putGroupLayer("query_indexed", "query_indexed")
    def med(s: Samples) = if (s.size == 0) 0.0 else Stats.median(s.values)
    run.putLayer("ingest.s", med(ingestS), "s", ingestS.size)
    val ing = run.groupStats("ingest")
    def gmed(f: JobStats => Double) = if (ing.isEmpty) 0.0 else Stats.median(ing.map(f))
    run.putLayer("ingest.jobs", gmed(_.jobs.toDouble), "count", ing.size)
    run.putLayer("ingest.bytes_written", gmed(_.bytesWritten.toDouble), "bytes", ing.size)
    run.putLayer("upkeep.ivf_refits", refits.toDouble, "count", 1)
    run.putLayer("m1.segments", run.notes("m1_segments").asInstanceOf[Int].toDouble, "count", 1)
    run.putLayer("delete.s", med(deleteS), "s", deleteS.size)
    for (p <- Seq("commit_fold", "compact", "rebuild", "vacuum"))
      run.putLayer(s"maintain.${p}_s", phases.get(p).map(med).getOrElse(0.0), "s",
        phases.get(p).map(_.size.toLong).getOrElse(0L))
    run.putLayer("maintain.rebuilds", rebuilds.toDouble, "count", maintainS.size)
  }
}

object Conversation {
  val NUsers = 3
  val HistoryRounds = 6
  val MsgTokens = 24
  val TurnsPerCycle = 3
}
