package perfbench

import scala.collection.mutable

import graft.operators.{Fusion, Retrieval}
import graft.pipeline.{HashingEncoder, IvfIndex, KeywordIndex, MemFuse, OverlapReranker}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** `recall`: read-only hybrid top-k over a multi-tenant warehouse.
  *
  * Set-up ingests every document as a one-message round, over tenants
  * of Zipf-skewed size that cover all 16 user buckets, then builds the
  * BM25 + IVF indexes. Each request picks a seeded tenant (uniformly, so
  * the median request hits a small tenant and the 90th percentile a
  * large one) and a never-repeated 3–8-term text; one in four is scoped
  * to a session. It runs as `query(...).collect()` on the scan path (op
  * `query`) and with `useIndexes = true` (op `query_indexed`), with the
  * order alternating. */
final class Recall extends Workload {
  import Recall._

  final case class State(mf: MemFuse, dir: String, tenants: IndexedSeq[String],
      sessions: Map[String, IndexedSeq[String]], sessionTenant: Map[String, String],
      vocab: IndexedSeq[String])

  private val samples = mutable.LinkedHashMap(
    "query" -> new Samples, "query_indexed" -> new Samples, "request" -> new Samples)
  private val recallAt10 = new Samples
  private val traced = mutable.LinkedHashMap.empty[String, Samples]
  private def tr(name: String) = traced.getOrElseUpdate(name, new Samples)

  def build(spark: SparkSession, dataDir: String, dir: java.io.File, seed: Long): State = {
    val tStart = System.nanoTime()
    val docs = Fixture.documents(spark, dataDir)
    val tenants = Fixture.tenants(spark, "tenant-", NTenants)
    // Zipf(1.1) tenant sizes; which tenant is large is the seed's choice
    val rnd = new scala.util.Random(seed)
    val order = rnd.shuffle(tenants.indices.toVector)
    val weights = order.map(r => 1.0 / math.pow(r + 1, 1.1))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val owner = docs.indices.map { _ =>
      val x = rnd.nextDouble(); tenants(math.min(cum.indexWhere(_ >= x), tenants.size - 1))
    }
    val perTenant = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
    docs.indices.foreach(i => perTenant.getOrElseUpdate(owner(i), mutable.ArrayBuffer.empty) += i)
    val sessionTenant = mutable.LinkedHashMap.empty[String, String]
    val msgs = perTenant.toSeq.flatMap { case (t, ids) =>
      ids.zipWithIndex.map { case (doc, k) =>
        val sid = s"$t-s${k / SessionRounds}"
        sessionTenant(sid) = t
        graft.pipeline.Schemas.Message(s"m$doc", sid, t, s"r$doc", k % SessionRounds, "user",
          docs(doc), Fixture.ts(1717200000000L + doc * 1000L))
      }
    }
    val mf = new MemFuse(spark, dir.getAbsolutePath)
    val t0 = System.nanoTime()
    mf.ingest(Fixture.messages(spark, msgs))
    val t1 = System.nanoTime()
    mf.buildIndexes()
    System.out.println(f"[perfbench] recall set-up: docs+tenants ${(t0 - tStart) / 1e9}%.2f s, ingest ${(t1 - t0) / 1e9}%.2f s, buildIndexes ${(System.nanoTime() - t1) / 1e9}%.2f s")
    val sessions = sessionTenant.toSeq.groupBy(_._2).map { case (t, s) => t -> s.map(_._1).toIndexedSeq }
    State(mf, dir.getAbsolutePath, perTenant.toSeq.sortBy(_._2.size).map(_._1).toIndexedSeq,
      sessions, sessionTenant.toMap,
      Fixture.vocabulary(docs))
  }

  def setupAndMeasure(run: Run): Double = {
    val (st, setupS) = Fixture.timed(build(run.spark, run.args.dataDir,
      new java.io.File(run.args.workDir, "recall"), run.args.seed))
    run.mark("setup_done")
    val seen = mutable.HashSet.empty[String]
    val rotation = run.rnd.nextInt(NStrata)
    val scopeRotation = run.rnd.nextInt(NStrata)
    def nextRequest(i: Int): Request = {
      // tenants ordered by size, cut into NStrata equal strata; requests
      // visit the strata in turn and pick a seeded tenant inside one, so
      // every run sees the same mix of small and large tenants
      val per = st.tenants.size / NStrata
      val stratum = (i + rotation) % NStrata
      val tenant = st.tenants(stratum * per + run.rnd.nextInt(per))
      var text = ""
      while (text.isEmpty || seen.contains(text)) {
        val n = 3 + run.rnd.nextInt(6)
        text = Seq.fill(n)(st.vocab(run.rnd.nextInt(st.vocab.size))).mkString(" ")
      }
      seen += text
      // one request in four is session-scoped: one per cycle, on a
      // stratum that rotates from cycle to cycle
      val session =
        if (i % NStrata == (i / NStrata + scopeRotation) % NStrata) {
          val ss = st.sessions(tenant); Some(ss(run.rnd.nextInt(ss.size)))
        } else None
      Request(tenant, text, session, scanFirst = i % 2 == 0)
    }
    val ivf = IvfIndex.load(run.spark, s"${st.dir}/index")
    val kw = new KeywordIndex(run.spark, s"${st.dir}/index")
    // untimed warm-up, one unscoped and one session-scoped request on
    // both paths: the first queries of a JVM compile the query path's
    // code, so the measured phase starts warm
    Seq((scopeRotation + 1) % NStrata, scopeRotation).foreach { i =>
      val warm = nextRequest(i)
      Seq(false, true).foreach(ix => st.mf.query(warm.text, warm.tenant, topK = TopK,
        sessionId = warm.session, useIndexes = ix).collect())
    }
    run.mark("warm_done")
    run.measured {
      val start = System.nanoTime()
      var i = NStrata
      var cycles = 0
      // one cycle = one request per tenant-size stratum
      while (run.more(start, cycles)) {
        (0 until NStrata).foreach { _ =>
          val req = nextRequest(i)
          val t0 = System.nanoTime()
          val results = (if (req.scanFirst) Seq(false, true) else Seq(true, false)).map { indexed =>
            indexed -> query(run, st, req, indexed)
          }.toMap
          samples("request").add((System.nanoTime() - t0) / 1e9)
          for (scan <- results(false); idx <- results(true) if scan.nonEmpty) {
            val s = scan.map(_.getAs[String]("id")).toSet
            recallAt10.add(idx.map(_.getAs[String]("id")).count(s).toDouble / s.size)
          }
          if (run.tracer.enabled) replayLegs(run, st, req, ivf, kw)
          i += 1
        }
        cycles += 1
      }
      run.notes("requests") = i - NStrata
      run.notes("request_s") = samples("request").values
      run.notes("measured_s") = (System.nanoTime() - start) / 1e9
    }
    report(run)
    setupS
  }

  private def query(run: Run, st: State, req: Request, indexed: Boolean): Option[Array[Row]] = {
    val name = if (indexed) "query_indexed" else "query"
    run.op(name, samples(name)) { id =>
      val df = run.tracer.span(s"$name.build", id)(
        st.mf.query(req.text, req.tenant, topK = TopK, sessionId = req.session,
          useIndexes = indexed))
      if (run.tracer.enabled) run.tracer.span(s"$name.plan", id)(df.queryExecution.executedPlan)
      run.tracer.span(s"$name.exec", id)(df.collect())
    }(rows => checkRows(st, req, rows))
  }

  /** Every id belongs to the tenant (and to the session when scoped), at
    * most topK rows, rerank scores never increase down the list. */
  def checkRows(st: State, req: Request, rows: Array[Row]): Option[String] = {
    val ids = rows.map(_.getAs[String]("id"))
    val scores = rows.map(_.getAs[Double]("rerank_score"))
    val sessions = ids.map(Fixture.sessionOf)
    if (rows.length > TopK) Some(s"${rows.length} rows > topK $TopK")
    else if (sessions.exists(s => !st.sessionTenant.get(s).contains(req.tenant)))
      Some(s"row outside tenant ${req.tenant}: ${ids.mkString(",")}")
    else if (req.session.exists(s => sessions.exists(_ != s)))
      Some(s"row outside session ${req.session.get}")
    else if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a })
      Some(s"rerank scores increase: ${scores.mkString(",")}")
    else None
  }

  /** Re-run each leg of the request on the same inputs through the
    * program's public leg functions, one span per leg. */
  private def replayLegs(run: Run, st: State, req: Request, ivf: IvfIndex, kw: KeywordIndex): Unit = {
    val spark = run.spark
    import spark.implicits._
    val k2 = 2 * TopK
    val terms = req.text.split(" ").filter(_.nonEmpty).toSeq
    def leg[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = run.tracer.span(s"leg.$name", "replay")(f)
      tr(s"leg.${name}_s").add((System.nanoTime() - t0) / 1e9)
      r
    }
    run.tracer.inGroup(spark, run.nextOpId("replay")) {
      val qArr = leg("encode")(HashingEncoder().encodeOne(req.text))
      val chunks0 = st.mf.m1ForUser(req.tenant).filter(col("user_id") === req.tenant)
      val chunks = req.session.fold(chunks0)(s => chunks0.filter(col("session_id") === s))
      val vec = leg("vector_scan")(chunks
        .withColumn("score", graft.functions.VectorFunctions.cosine(col("embedding"), typedLit(qArr.toSeq)))
        .select(col("chunk_id").as("id"), col("score"))
        .orderBy(col("score").desc, col("id")).limit(k2).collect())
      val kwRows = leg("keyword_scan")(Retrieval.bm25(
        chunks.select(col("chunk_id").as("doc_id"), col("content").as("text")), terms, k2).collect())
      leg("ivf_probe")(ivf.query(qArr, 4 * k2, 2).collect())
      leg("kw_index")(kw.bm25(terms, 4 * k2).collect())
      val united = (vec.map(r => (r.getString(0), r.getDouble(1), "vector")) ++
        kwRows.map(r => (r.getString(0), r.getDouble(1), "keyword")))
        .toSeq.toDF("id", "score", "store_type")
      val fused = leg("fusion")(Fusion.rrf(united, 60.0,
        Map("vector" -> 1.0, "keyword" -> 0.5), k2).collect())
      val cands = fused.map(_.getAs[String]("id")).toSeq.toDF("id")
        .join(chunks.select(col("chunk_id").as("id"), col("content")), "id")
      leg("rerank")(OverlapReranker().rerank(cands, req.text, TopK).collect())
    }
  }

  private def report(run: Run): Unit = {
    val q = samples("query").values
    val qi = samples("query_indexed").values
    val req = samples("request").values
    Stats.timing("query", q, 0.9).foreach(run.put)
    Stats.timing("query_indexed", qi, 0.9).foreach(run.put)
    if (recallAt10.size > 0)
      run.put(Metric("recall_at_10", recallAt10.values.sum / recallAt10.size, "ratio", recallAt10.size))
    if (req.nonEmpty) {
      run.put(Metric("op_p50_s", Stats.median(req), "s", req.size, "p50"))
      run.put(Metric("ops_per_s", req.size / run.notes("measured_s").asInstanceOf[Double], "1/s", req.size))
    }
    run.notes("tail") = Stats.tailNote(q.size)
  }

  def layers(run: Run): Unit = {
    for (name <- Seq("query", "query_indexed")) {
      val ss = run.tracer.allSpans
      for (part <- Seq("build", "plan", "exec")) {
        val xs = ss.filter(_.name == s"$name.$part").map(_.seconds)
        run.putLayer(s"$name.${part}_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s", xs.size)
      }
      run.putGroupLayer(name, name)
    }
    for (l <- Seq("encode", "vector_scan", "keyword_scan", "ivf_probe", "kw_index", "fusion", "rerank")) {
      val xs = tr(s"leg.${l}_s").values
      run.putLayer(s"leg.${l}_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s", xs.size)
    }
    val parts = Seq("build", "plan", "exec").map(p => run.layer(s"query.${p}_s").value).sum
    run.notes("query_split_sum_s") = parts
    run.notes("query_traced_p50_s") = run.e2e.get("query_p50_s").map(_.value).getOrElse(0.0)
  }
}

object Recall {
  val TopK = 10
  val NTenants = 24
  val NStrata = 4
  val SessionRounds = 8

  final case class Request(tenant: String, text: String, session: Option[String], scanFirst: Boolean)
}
