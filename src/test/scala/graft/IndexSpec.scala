package graft

import graft.operators.Retrieval
import graft.pipeline.{IvfPq, KeywordIndex, MemFuse, PqIndex, Schemas}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IndexSpec extends SparkSpec {
  import spark.implicits._

  test("keyword index bm25 equals on-the-fly bm25") {
    val docs = Tables.documents(spark, sf())
    val dir = graft.TempDirs.create("kwidx").toString
    val idx = new KeywordIndex(spark, dir)
    idx.build(docs)
    val fromIndex = idx.bm25(Seq("join", "filter", "table", "scan"), 50)
      .as[(Long, Double)].collect().toSeq
    val onTheFly = Retrieval.bm25(docs, Seq("join", "filter", "table", "scan"), 50)
      .as[(Long, Double)].collect().toSeq
    assert(fromIndex == onTheFly)
  }

  test("termBucketOf equals the term_bucket dir the postings are written under") {
    // `tokens` splits on single spaces, so a one-term text indexes
    // exactly that term ("" included); punctuation and non-ASCII survive
    val terms = (0 until 188).map(i => s"term$i") ++ Seq("", "|", "a|b", "don't",
      "C++", "e.g.", "ü", "naïve", "日本語", "emoji\uD83D\uDE42", "tab\tx", "x" * 300)
    val dir = graft.TempDirs.create("kwbucket").toString
    new KeywordIndex(spark, dir).build(
      terms.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
    val ver = graft.pipeline.TableOps.currentArtifactDir(spark, dir, "kw").get
    val written = spark.read.parquet(s"$dir/$ver/postings").select(col("term"),
        regexp_extract(input_file_name(), "term_bucket=(\\d+)", 1).cast("long"))
      .as[(String, Long)].collect()
    assert(written.map(_._1).sorted.toSeq == terms.sorted)
    val wrong = written.filter { case (t, b) => KeywordIndex.termBucketOf(t) != b }
    assert(wrong.isEmpty, wrong.take(5).mkString(", "))
  }

  private def ts(i: Int) =
    new java.sql.Timestamp(java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime + i * 1000L)

  test("indexed hybrid query equals the on-the-fly path on the same corpus") {
    val dir = graft.TempDirs.create("idxq").toString
    val engine = new MemFuse(spark, dir)
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2)),
      Schemas.Message("m3", "s2", "u1", "r3", 3, "user", "cast iron cooking recipe", ts(3)),
      Schemas.Message("m4", "s2", "u1", "r4", 4, "user", "spark partition pruning", ts(4))).toDF())
    engine.buildIndexes(nlist = 2)
    val scan = engine.query("spark partition", "u1", topK = 3).collect().toSeq
    // exhaustive probe (nProbe = nlist) → IVF scans everything → results
    // must be IDENTICAL to the corpus-scan path (single-tenant corpus, so
    // global and tenant-scoped BM25 statistics coincide)
    val indexed = engine.query("spark partition", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect().toSeq
    assert(indexed == scan)
  }

  test("facade warm-miss plan pins its m1 scan count (x98 guard)") {
    // the x98_facade_warm_query rung's MISS path is MemFuse.query on
    // the default (scan) flags. Below MemFuse.SnapshotCap that query
    // runs on the driver (pinned first, below); this guards the plan of
    // the Spark path it takes above the cap or with a fallback option.
    // Like q46's postings pin, it guards that no plan fan-in ever hides
    // under ambient drift — the corpus table must be scanned a FIXED
    // number of times per query regardless of warehouse growth
    val dir = graft.TempDirs.create("idxwarm").toString
    val engine = new MemFuse(spark, dir)
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2)),
      Schemas.Message("m3", "s2", "u1", "r3", 3, "user", "spark partition pruning", ts(3))).toDF())
    assert(engine.query("spark partition", "u1", topK = 10).queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "the default-flag query of a small tenant runs on the driver")
    // the plan under guard is the Spark path's: this engine has no cap
    engine.snapshotCap = -1
    val df = engine.query("spark partition", "u1", topK = 10)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val m1Scans = exec.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("m1_episodic")) => s
    }
    // 6 pruned-projection scans: vector leg (chunk_id+embedding),
    // keyword leg tf + df + doclen, hydration, buffer-union probe —
    // each reads only its columns with the tenant filter PUSHED; a
    // 7th scan appearing here is a plan regression, not ambient
    assert(m1Scans.size == 6, s"m1 scans: ${m1Scans.size}\n" + exec.toString.take(1500))
    m1Scans.foreach { s =>
      assert(s.metadata("PushedFilters").contains("EqualTo(user_id,u1)"),
        "tenant filter must reach every m1 scan:\n" + s.toString.take(400))
      assert(!s.schema.fieldNames.contains("metadata"),
        "no scan should read the wide metadata map:\n" + s.toString.take(400))
    }
  }

  test("keyword index incremental add equals a fresh full build") {
    val docs = Tables.documents(spark, sf())
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val incDir = graft.TempDirs.create("kwinc").toString
    val inc = new KeywordIndex(spark, incDir)
    inc.build(half1)
    inc.addDocuments(half2)
    val full = new KeywordIndex(spark, graft.TempDirs.create("kwfull").toString)
    full.build(docs)
    val terms = Seq("join", "filter", "table", "scan")
    // reopen after the incremental update (same contract as after build)
    val incScores = new KeywordIndex(spark, incDir).bm25(terms, 50)
      .as[(Long, Double)].collect().toSeq
    assert(incScores == full.bm25(terms, 50).as[(Long, Double)].collect().toSeq)
    assert(incScores == Retrieval.bm25(docs, terms, 50).as[(Long, Double)].collect().toSeq)
  }

  test("corpus stats stay readable while incremental adds commit them") {
    // stats now commit as versioned dirs behind a pointer CAS — a reader
    // racing addDocuments always resolves a COMPLETE stats file (the old
    // in-place overwrite had a window where stats were half-written)
    val docs = Tables.documents(spark, sf())
    val dir = graft.TempDirs.create("kwstats").toString
    new KeywordIndex(spark, dir).build(docs.filter(col("doc_id") < 100))
    @volatile var failure: Option[Throwable] = None
    @volatile var writing = true
    val reader = new Thread(() => {
      try while (writing) {
        val n = new KeywordIndex(spark, dir).nDocs
        assert(n >= 100, s"stats must never regress or vanish, saw $n")
      } catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    (0 until 4).foreach { i =>
      new KeywordIndex(spark, dir).addDocuments(
        docs.filter(col("doc_id") >= 100 + i * 25 && col("doc_id") < 125 + i * 25))
    }
    writing = false
    reader.join()
    assert(failure.isEmpty, s"concurrent stats read failed: ${failure.map(_.getMessage)}")
    assert(new KeywordIndex(spark, dir).nDocs == 200)
  }

  test("ivf incremental add: nearest-centroid assignment, probe completeness") {
    import graft.pipeline.IvfIndex
    val emb = Tables.embeddings(spark, sf())
    val dir = graft.TempDirs.create("ivfinc").toString
    IvfIndex.build(spark, emb.filter(col("vec_id") < 100), nlist = 4).save(dir)
    val idx = IvfIndex.load(spark, dir)
    val drift = idx.addVectors(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 150), dir)
    assert(drift > 0.3 && drift < 0.4, s"50 unfit of 150 → drift ≈ 1/3, got $drift")
    val reopened = IvfIndex.load(spark, dir)
    assert(reopened.assigned.count() == 150)
    // every appended vector sits in its NEAREST existing centroid
    val cents = reopened.centroids.toMap
    reopened.assigned.filter(col("vec_id") >= 100)
      .select("vec_id", "embedding", "cluster").collect().foreach { r =>
        val e = r.getAs[scala.collection.Seq[Float]]("embedding")
        def d2(c: Array[Double]) =
          c.zip(e).map { case (a, b) => (a - b) * (a - b) }.sum
        val best = cents.minBy { case (_, c) => d2(c) }._1
        assert(r.getAs[Number]("cluster").intValue() == best,
          s"vec ${r.get(0)} assigned ${r.get(2)}, nearest is $best")
      }
    // exhaustive probe over the grown index = brute force over all 150
    val fromIndex = reopened.query(
      emb.filter(col("vec_id") === SparkEntry.KnnQueryId)
        .select("embedding").head().getAs[scala.collection.Seq[Float]](0).toArray,
      topK = 20, nProbe = reopened.nlist, excludeId = Some(SparkEntry.KnnQueryId))
      .as[(Long, Double)].collect().toSeq
    val brute = Retrieval.cosineKnn(emb.filter(col("vec_id") < 150),
      SparkEntry.KnnQueryId, 20).as[(Long, Double)].collect().toSeq
    assert(fromIndex == brute)
  }

  test("facade ingest after buildIndexes maintains the indexes incrementally") {
    val dir = graft.TempDirs.create("incfacade").toString
    val engine = new MemFuse(spark, dir)
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2)),
      Schemas.Message("m3", "s2", "u1", "r3", 3, "user", "cast iron cooking recipe", ts(3))).toDF())
    engine.buildIndexes(nlist = 2)
    def postingFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val ver = graft.pipeline.TableOps
        .currentArtifactDir(spark, s"$dir/index", "kw").get
      walk(new java.io.File(s"$dir/index/$ver/postings"))
        .map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
    val builtFiles = postingFiles()
    // second ingest: indexes must absorb the new chunk WITHOUT a rebuild
    engine.ingest(Seq(
      Schemas.Message("m4", "s2", "u1", "r4", 4, "user", "zanzibar quorum replication", ts(4))).toDF())
    assert(builtFiles.subsetOf(postingFiles()),
      "incremental update must append, never rewrite existing posting files")
    assert(postingFiles().size > builtFiles.size, "new postings appended")
    // indexed path ≡ scan path on the grown corpus (exhaustive probe),
    // and the post-build document is reachable through the indexes
    val scan = engine.query("zanzibar replication", "u1", topK = 3).collect().toSeq
    val indexed = engine.query("zanzibar replication", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect().toSeq
    assert(indexed == scan)
    assert(indexed.exists(_.getAs[String]("content").contains("zanzibar")))
  }

  test("pq vector backend: indexed ≡ scan, incremental ingest, delete + maintain") {
    val dir = graft.TempDirs.create("pqfacade").toString
    val engine = new MemFuse(spark, dir)
    engine.createUser("u1", "User One")
    engine.createAgent("a1", "Agent")
    engine.createSession("s1", "u1", "a1")
    engine.createSession("s2", "u1", "a1")
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2)),
      Schemas.Message("m3", "s2", "u1", "r3", 3, "user", "cast iron cooking recipe", ts(3)),
      Schemas.Message("m4", "s2", "u1", "r4", 4, "user", "spark partition pruning", ts(4))).toDF())
    // the PQ backend instead of IVF: ADC candidates + exact rescore
    // return the same trunc6'd cosines as the scan path, so at this
    // oversample the whole pipeline is value-identical
    engine.buildIndexes(vectorIndex = "pq")
    val scan = engine.query("spark partition", "u1", topK = 3).collect().toSeq
    val indexed = engine.query("spark partition", "u1", topK = 3,
      useIndexes = true).collect().toSeq
    assert(indexed == scan, "pq-indexed path must equal the scan path")
    // incremental ingest: the new chunk encodes against the EXISTING
    // codebook and is reachable with no rebuild
    engine.ingest(Seq(
      Schemas.Message("m5", "s1", "u1", "r5", 5, "user", "zanzibar quorum replication", ts(5))).toDF())
    val grown = engine.query("zanzibar replication", "u1", topK = 3,
      useIndexes = true).collect().toSeq
    assert(grown.exists(_.getAs[String]("content").contains("zanzibar")))
    // deletes tombstone; live-chunk semi-join hides stale entries;
    // maintain() rebuilds the PQ table past the threshold
    engine.deleteSession("s2")
    assert(engine.indexStaleFraction > 0.3)
    val afterDel = engine.query("spark partition", "u1", topK = 3,
      useIndexes = true).collect().toSeq
    assert(!afterDel.exists(_.getAs[String]("content").contains("pruning")),
      "deleted session's chunks must not surface through stale PQ codes")
    // the stale rebuild drops dead rows but must NOT retrain: live drift
    // (1 unfit of 5 = 0.2) is under the 0.5 re-fit threshold, so the
    // committed codebook is bit-identical to the live one (re-encode
    // only) and the carried fitRows is the EXACT surviving-fit count
    // (per-row fit flags), not a proportional estimate
    val preCb = PqIndex.load(spark, s"$dir/index").codebook
      .map(t => (t._1, t._2, t._3.toSeq)).toSeq
    engine.maintain()
    assert(engine.indexStaleFraction == 0.0)
    val rebuilt = PqIndex.load(spark, s"$dir/index")
    assert(rebuilt.codebook.map(t => (t._1, t._2, t._3.toSeq)).toSeq == preCb,
      "below-drift stale rebuild must reuse the live codebooks")
    assert(rebuilt.nVectors == 3 && rebuilt.fitRows == 2,
      "reuse rebuild re-encodes only live rows and carries drift proportionally")
    assert(engine.query("spark partition", "u1", topK = 3,
      useIndexes = true).collect().toSeq == afterDel,
      "rebuilt pq index still answers identically")
    // switching back to IVF retires the pq artifact — the explicit
    // backend choice takes effect instead of a leftover pq winning
    engine.buildIndexes(nlist = 2, vectorIndex = "ivf")
    assert(graft.pipeline.TableOps
      .currentArtifactDir(spark, s"$dir/index", "pq").isEmpty,
      "pq pointers must be retired by an ivf build")
    assert(engine.query("spark partition", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect().toSeq == afterDel,
      "ivf backend answers identically after the switch")
  }

  test("ivfpq vector backend: indexed ≡ scan, incremental ingest, delete + maintain, switch retires") {
    val dir = graft.TempDirs.create("ivfpqfacade").toString
    val engine = new MemFuse(spark, dir)
    engine.createUser("u1", "User One")
    engine.createAgent("a1", "Agent")
    engine.createSession("s1", "u1", "a1")
    engine.createSession("s2", "u1", "a1")
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2)),
      Schemas.Message("m3", "s2", "u1", "r3", 3, "user", "cast iron cooking recipe", ts(3)),
      Schemas.Message("m4", "s2", "u1", "r4", 4, "user", "spark partition pruning", ts(4))).toDF())
    // 2 coarse cells, nProbe=2 → exhaustive probe: residual-ADC
    // candidates + exact rescore return the scan path's trunc6 cosines,
    // so the whole pipeline is value-identical (same contract the ivf
    // backend's exhaustive-probe test pins)
    engine.buildIndexes(nlist = 2, vectorIndex = "ivfpq")
    val scan = engine.query("spark partition", "u1", topK = 3).collect().toSeq
    val indexed = engine.query("spark partition", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect().toSeq
    assert(indexed == scan, "ivfpq-indexed path must equal the scan path")
    // incremental ingest: the new chunk coarse-assigns + residual-encodes
    // against the EXISTING quantizers and is reachable with no rebuild
    engine.ingest(Seq(
      Schemas.Message("m5", "s1", "u1", "r5", 5, "user", "zanzibar quorum replication", ts(5))).toDF())
    val grown = engine.query("zanzibar replication", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect().toSeq
    assert(grown.exists(_.getAs[String]("content").contains("zanzibar")))
    // deletes tombstone; live-chunk semi-join hides stale entries;
    // maintain() rebuilds the code table past the threshold
    engine.deleteSession("s2")
    assert(engine.indexStaleFraction > 0.3)
    val afterDel = engine.query("spark partition", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect().toSeq
    assert(!afterDel.exists(_.getAs[String]("content").contains("pruning")),
      "deleted session's chunks must not surface through stale ivfpq codes")
    // same reuse contract as the pq backend: below-drift stale rebuild
    // keeps BOTH quantizers (coarse + residual codebooks) bit-identical
    def ivfpqCbs() = {
      val m = IvfPq.load(spark, s"$dir/index").model
      (m.coarse.map(t => (t._1, t._2, t._3.toSeq)).toSeq,
        m.pq.map(t => (t._1, t._2, t._3.toSeq)).toSeq)
    }
    val preModel = ivfpqCbs()
    engine.maintain()
    assert(engine.indexStaleFraction == 0.0)
    assert(ivfpqCbs() == preModel,
      "below-drift ivfpq stale rebuild must reuse both live quantizers")
    assert(engine.query("spark partition", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect().toSeq == afterDel,
      "rebuilt ivfpq index still answers identically")
    // switching to pq retires the ivfpq artifact
    engine.buildIndexes(vectorIndex = "pq")
    assert(graft.pipeline.TableOps
      .currentArtifactDir(spark, s"$dir/index", "ivfpq").isEmpty,
      "ivfpq pointers must be retired by a pq build")
    assert(engine.query("spark partition", "u1", topK = 3,
      useIndexes = true).collect().toSeq == afterDel,
      "pq backend answers identically after the switch")
  }

  test("maintain() vacuums the superseded versions of every vector family") {
    val dir = graft.TempDirs.create("vacvec").toString
    val engine = new MemFuse(spark, dir)
    engine.ingest((1 to 6).map(i => Schemas.Message(s"m$i", s"s${i % 2}", "u1", s"r$i",
      i, "user", s"spark partition note $i", ts(i))).toDF())
    def versions(family: String) = new java.io.File(s"$dir/index").list()
      .filter(_.matches(family + "_v\\d{8}")).sorted.toSeq
    for (backend <- Seq("pq", "ivfpq")) {
      (1 to 3).foreach(_ => engine.buildIndexes(nlist = 2, vectorIndex = backend))
      assert(versions(backend).size == 3)
      engine.maintain(keepVersions = 2)
      assert(versions(backend) == Seq(s"${backend}_v00000001", s"${backend}_v00000002"),
        s"$backend versions beyond keepVersions must be vacuumed")
      assert(engine.query("spark partition", "u1", topK = 3, useIndexes = true,
        nProbe = 2).count() == 3, s"the kept $backend version still answers")
    }
    assert(versions("kw").size == 2)
  }

  test("maintain() reclaims the version dirs of retired vector families") {
    val dir = graft.TempDirs.create("vacretired").toString
    val engine = new MemFuse(spark, dir)
    engine.ingest((1 to 6).map(i => Schemas.Message(s"m$i", s"s${i % 2}", "u1", s"r$i",
      i, "user", s"spark partition note $i", ts(i))).toDF())
    def versions(family: String) = new java.io.File(s"$dir/index").list()
      .filter(_.matches(family + "_v\\d{8}")).sorted.toSeq
    engine.buildIndexes(nlist = 2, vectorIndex = "pq")
    engine.buildIndexes(nlist = 2, vectorIndex = "pq")
    engine.buildIndexes(nlist = 2, vectorIndex = "ivf")
    assert(versions("pq") == Seq("pq_v00000000", "pq_v00000001"))
    engine.maintain(keepVersions = 1)
    assert(versions("pq").isEmpty, "retired pq versions must be reclaimed")
    assert(versions("ivf") == Seq("ivf_v00000000"))
    assert(engine.query("spark partition", "u1", topK = 3, useIndexes = true,
      nProbe = 2).count() == 3, "the live ivf version still answers")
    // a later build of the family still numbers past what it retired
    engine.buildIndexes(nlist = 2, vectorIndex = "pq")
    assert(versions("pq") == Seq("pq_v00000002"))
  }

  test("an uncommitted index build dir survives maintain()") {
    val dir = graft.TempDirs.create("vacinflight").toString
    val engine = new MemFuse(spark, dir)
    engine.ingest((1 to 6).map(i => Schemas.Message(s"m$i", s"s${i % 2}", "u1", s"r$i",
      i, "user", s"spark partition note $i", ts(i))).toDF())
    engine.buildIndexes(nlist = 2, vectorIndex = "pq")
    engine.buildIndexes(nlist = 2, vectorIndex = "ivf") // retires pq_v00000000
    // builds in flight: dirs named and written, no pointer committed yet
    val inFlight = Seq("pq", "ivf").map { family =>
      val name = graft.pipeline.TableOps.nextArtifactDir(spark, s"$dir/index", family)
      val d = new java.io.File(s"$dir/index/$name")
      d.mkdirs()
      Files.writeString(d.toPath.resolve("part-0"), "partial")
      d
    }
    assert(inFlight.map(_.getName) == Seq("pq_v00000001", "ivf_v00000001"))
    engine.maintain(keepVersions = 1)
    assert(!new java.io.File(s"$dir/index/pq_v00000000").exists(),
      "the retired version is reclaimed")
    inFlight.foreach(d => assert(new java.io.File(d, "part-0").exists(),
      s"${d.getName} is a build in flight and must survive"))
  }

  test("maintain() keeps a version whose pointer outlived its retirement record") {
    val dir = graft.TempDirs.create("vaclive").toString
    val engine = new MemFuse(spark, dir)
    engine.ingest((1 to 6).map(i => Schemas.Message(s"m$i", s"s${i % 2}", "u1", s"r$i",
      i, "user", s"spark partition note $i", ts(i))).toDF())
    engine.buildIndexes(nlist = 2, vectorIndex = "pq")
    // a record over a live pointer, as a retirement cut short between
    // its two steps would leave were the record written first
    Files.createFile(java.nio.file.Paths.get(s"$dir/index/_ptr/pq_retired_v00000000"))
    engine.maintain(keepVersions = 1)
    assert(new java.io.File(s"$dir/index/pq_v00000000").isDirectory,
      "a version with a committed pointer is never reclaimed")
    engine.refresh()
    assert(engine.query("spark partition", "u1", topK = 3, useIndexes = true,
      nProbe = 2).count() == 3)
  }

  test("keyword bm25 binds the corpus stats as literals, bit-identical to the stats join") {
    val docs = Tables.documents(spark, sf())
    val dir = graft.TempDirs.create("kwlit").toString
    val idx = new KeywordIndex(spark, dir)
    idx.build(docs.filter(col("doc_id") % 2 === 0))
    idx.addDocuments(docs.filter(col("doc_id") % 2 === 1))
    val ops = graft.pipeline.TableOps
    val ver = s"$dir/${ops.currentArtifactDir(spark, dir, "kw").get}"
    val statsUpd = ops.currentArtifactDir(spark, ver, "stats_upd")
    assert(statsUpd.isDefined, "addDocuments commits the incremental stats")
    // the previous form: the stats row cross-joined as a broadcast
    val terms = Seq("join", "filter", "table", "scan", "query")
    val postings = spark.read.parquet(s"$ver/postings").filter(col("term").isin(terms: _*))
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val (k1, b) = (1.2, 0.75)
    val joined = postings.join(broadcast(dfreq), "term").hint("shuffle_hash")
      .join(spark.read.parquet(s"$ver/doclen"), "doc_id")
      .crossJoin(broadcast(spark.read.parquet(s"$ver/${statsUpd.get}")))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("tscore", col("idf") * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(graft.functions.TextFunctions.trunc6(
        graft.functions.TextFunctions.dsum12(col("tscore"))).as("score"))
      .select(col("doc_id").as("id"), col("score"))
      .orderBy(col("score").desc, col("id")).limit(50)
    val fresh = new KeywordIndex(spark, dir).bm25(terms, 50)
    assert(!fresh.inputFiles.exists(_.contains("stats")), "no stats scan per query")
    assert(fresh.as[(Long, Double)].collect().toSeq == joined.as[(Long, Double)].collect().toSeq)
  }

  test("pq stale rebuild re-encodes committed-but-unindexed live rows") {
    val dir = graft.TempDirs.create("pqgap").toString
    val engine = new MemFuse(spark, dir)
    engine.createUser("u1", "User One")
    engine.createAgent("a1", "Agent")
    engine.createSession("s1", "u1", "a1")
    engine.createSession("s2", "u1", "a1")
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2)),
      Schemas.Message("m3", "s2", "u1", "r3", 3, "user", "cast iron cooking recipe", ts(3)),
      Schemas.Message("m4", "s2", "u1", "r4", 4, "user", "spark partition pruning", ts(4))).toDF())
    engine.buildIndexes(vectorIndex = "pq")
    // simulate the committed-but-unindexed crash gap (a batch dying
    // between the m1 append and index upkeep): drop one LIVE chunk's
    // code row from the committed table, behind the facade's back
    val gapId = engine.m1.filter(col("content").contains("broadcast"))
      .select("chunk_id").as[String].head()
    val vp = s"$dir/index/" + graft.pipeline.TableOps
      .currentArtifactDir(spark, s"$dir/index", "pq").get
    val gapped = spark.read.parquet(s"$vp/pq_codes")
      .filter(col("vec_id") =!= gapId).localCheckpoint()
    gapped.write.mode("overwrite").parquet(s"$vp/pq_codes")
    // fresh facade: the old handle pins the overwritten file set
    val engine2 = new MemFuse(spark, dir)
    engine2.deleteSession("s2") // 2 tombstoned of 3 indexed → stale 0.67
    val preCb = PqIndex.load(spark, s"$dir/index").codebook
      .map(t => (t._1, t._2, t._3.toSeq)).toSeq
    engine2.maintain() // unfit 0 of 3 → below-drift REUSE rebuild
    val rebuilt = PqIndex.load(spark, s"$dir/index")
    assert(rebuilt.codebook.map(t => (t._1, t._2, t._3.toSeq)).toSeq == preCb,
      "gap re-encode must reuse the live codebooks")
    // the missing live row is re-encoded (recall gap closed), counted
    // conservatively as unfit (fit provenance was lost with the row)
    assert(rebuilt.nVectors == 2 && rebuilt.fitRows == 1,
      s"nVectors=${rebuilt.nVectors} fitRows=${rebuilt.fitRows}")
    val hits = engine2.query("broadcast join", "u1", topK = 2,
      useIndexes = true).collect().toSeq
    assert(hits.exists(_.getAs[String]("content").contains("broadcast")),
      "re-encoded row must be reachable through the rebuilt index")
  }

  test("facade fusion strategies × freshness boost: indexed ≡ scan; boost scales fused scores") {
    val dir = graft.TempDirs.create("idxknobs").toString
    val engine = new MemFuse(spark, dir)
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2)),
      Schemas.Message("m3", "s2", "u1", "r3", 3, "user", "cast iron cooking recipe", ts(3)),
      Schemas.Message("m4", "s2", "u1", "r4", 4, "user", "spark partition pruning", ts(4))).toDF())
    engine.buildIndexes(nlist = 2)
    for (fusion <- Seq("rrf", "weighted", "normalized"); fresh <- Seq(None, Some(1.0))) {
      val scan = engine.query("spark partition", "u1", topK = 3,
        fusion = fusion, freshness = fresh).collect().toSeq
      val indexed = engine.query("spark partition", "u1", topK = 3,
        useIndexes = true, nProbe = 2, fusion = fusion, freshness = fresh).collect().toSeq
      assert(indexed == scan, s"fusion=$fusion freshness=$fresh")
    }
    // the boost is really multiplied in: same candidates, scaled fused
    // scores (all chunks are seconds apart → factor ≈ 1 + boost)
    val plain = engine.query("spark partition", "u1", topK = 3, fusion = "weighted")
      .collect().map(r => r.getAs[String]("id") -> r.getAs[Double]("fused_score")).toMap
    val boosted = engine.query("spark partition", "u1", topK = 3,
      fusion = "weighted", freshness = Some(1.0)).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Double]("fused_score"))
    boosted.foreach { case (id, s) =>
      assert(s >= plain(id), "freshness boost never lowers a fused score")
    }
    assert(boosted.exists { case (id, s) => plain(id) > 0.0 && s > plain(id) },
      "freshness boost must raise every positive fused score")
    intercept[IllegalArgumentException] {
      engine.query("q", "u1", fusion = "borda").collect()
    }
  }

  test("deletes tombstone the indexes; indexed ≡ scan with no manual rebuild; maintain() rebuilds past threshold") {
    val dir = graft.TempDirs.create("idxdel").toString
    val engine = new MemFuse(spark, dir)
    engine.createUser("u1", "User One")
    engine.createAgent("a1", "Agent")
    engine.createSession("s1", "u1", "a1")
    engine.createSession("s2", "u1", "a1")
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r2", 2, "user", "broadcast join details", ts(2)),
      Schemas.Message("m3", "s2", "u1", "r3", 3, "user", "cast iron cooking recipe", ts(3)),
      Schemas.Message("m4", "s2", "u1", "r4", 4, "user", "spark partition pruning", ts(4))).toDF())
    engine.buildIndexes(nlist = 2)
    assert(engine.indexStaleFraction == 0.0)
    engine.deleteSession("s2")
    // 2 of the 4 indexed chunks are now dead → stale fraction 0.5
    assert(engine.indexStaleFraction == 0.5)
    // NO manual rebuild: the live-chunk semi-join keeps the indexed path
    // equal to the scan path, deleted content unreachable
    val scan = engine.query("spark partition", "u1", topK = 3).collect().toSeq
    val indexed = engine.query("spark partition", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect().toSeq
    assert(indexed == scan)
    assert(!indexed.exists(_.getAs[String]("content").contains("pruning")),
      "deleted session's chunks must not surface through stale index entries")
    // maintain() crosses the 0.3 default threshold → rebuild + reset
    engine.maintain()
    assert(engine.indexStaleFraction == 0.0)
    assert(engine.query("spark partition", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect().toSeq == scan,
      "rebuilt indexes still answer identically")
  }

  test("stale rebuild fires only past threshold — never every maintain cycle") {
    val dir = graft.TempDirs.create("idxcadence").toString
    val engine = new MemFuse(spark, dir)
    engine.createUser("u1", "User One")
    engine.createAgent("a1", "Agent")
    (1 to 4).foreach(i => engine.createSession(s"s$i", "u1", "a1"))
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s2", "u1", "r2", 2, "user", "broadcast join details", ts(2)),
      Schemas.Message("m3", "s3", "u1", "r3", 3, "user", "cast iron cooking recipe", ts(3)),
      Schemas.Message("m4", "s4", "u1", "r4", 4, "user", "spark partition pruning", ts(4))).toDF())
    engine.buildIndexes(nlist = 2)
    // 1 of 4 chunks dead → stale 0.25, UNDER the 0.3 default threshold:
    // maintain must report no rebuild and leave the tombstone log alone
    engine.deleteSession("s4")
    assert(engine.indexStaleFraction == 0.25)
    val phases = scala.collection.mutable.Map.empty[String, Double]
    assert(!engine.maintain(onPhase = (p, t) => phases(p) = t),
      "rebuild must not fire under the stale threshold")
    assert(engine.indexStaleFraction == 0.25,
      "tombstones survive a maintain that did not rebuild")
    assert(Set("commit_fold", "compact", "rebuild", "vacuum")
      .subsetOf(phases.keySet))
    // crossing the threshold (2 of 4 dead) fires exactly one rebuild;
    // the cycle after it is again a no-op — the cadence is amortized,
    // not per-maintain
    engine.deleteSession("s3")
    assert(engine.indexStaleFraction == 0.5)
    assert(engine.maintain(), "rebuild must fire past the threshold")
    assert(engine.indexStaleFraction == 0.0)
    assert(!engine.maintain(), "the post-rebuild cycle must be a no-op")
  }

  test("message mutation never re-indexes regenerated identical chunks") {
    // character chunking re-chunks the whole round on update; the
    // untouched message's chunks regenerate IDENTICAL content-addressed
    // ids, which must NOT be appended to the postings/doclen/ivf again
    // (double df + duplicate candidates otherwise)
    val dir = graft.TempDirs.create("idxmut").toString
    val engine = new MemFuse(spark, dir, chunking = "character")
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r1", 2, "user", "broadcast join strategy details", ts(2))).toDF())
    engine.buildIndexes(nlist = 2)
    engine.updateMessage("m1", "adaptive query execution notes")
    val ver = graft.pipeline.TableOps
      .currentArtifactDir(spark, s"$dir/index", "kw").get
    val doclen = spark.read.parquet(s"$dir/index/$ver/doclen")
    val dups = doclen.groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dups == 0, "no doc may carry two doclen rows after a mutation re-chunk")
    // m1's old chunk id was dropped and not regenerated → tombstoned
    assert(engine.indexStaleFraction > 0.0)
    // and the indexed path still equals the scan path on the mutated corpus
    val scan = engine.query("broadcast join", "u1", topK = 2).collect().toSeq
    val indexed = engine.query("broadcast join", "u1", topK = 2,
      useIndexes = true, nProbe = 2).collect().toSeq
    assert(indexed == scan)
  }

  test("scoped indexed queries scale the oversample by scope selectivity (recall)") {
    val dir = graft.TempDirs.create("idxscope").toString
    val engine = new MemFuse(spark, dir)
    // 30 strong-matching s1 messages drown the GLOBAL ranking; s2's two
    // weak matches must still surface for a query scoped to s2 — with a
    // fixed global over-fetch (indexOversample = 1 → 4 hits, all s1) the
    // semi-join back to the scope would return nothing
    val msgs = (1 to 30).map(i =>
      Schemas.Message(s"a$i", "s1", "u1", s"ra$i", i, "user",
        "spark partition tuning spark partition", ts(i))) ++ Seq(
      Schemas.Message("b1", "s2", "u1", "rb1", 31, "user", "notes about spark", ts(31)),
      Schemas.Message("b2", "s2", "u1", "rb2", 32, "user", "partition layout sketch", ts(32)))
    engine.ingest(msgs.toDF())
    engine.buildIndexes(nlist = 2)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[String]("id")).toSeq
    val scan = ids(engine.query("spark partition", "u1", topK = 2,
      sessionId = Some("s2")))
    val indexed = ids(engine.query("spark partition", "u1", topK = 2,
      sessionId = Some("s2"), useIndexes = true, nProbe = 2, indexOversample = 1))
    assert(scan.size == 2)
    assert(indexed == scan,
      "scoped indexed retrieval must reach every scope doc the scan path finds")
  }

  test("facade queries never fail under concurrent ingest, delete and maintenance") {
    // end-to-end MVCC: a reader thread alternating scan/indexed hybrid
    // queries while the writer ingests, cascade-deletes a session and
    // runs maintain() (compaction + vacuum + stale-index rebuild). Every
    // read must answer from SOME committed snapshot — no exceptions, no
    // half-swapped state; afterwards indexed ≡ scan on the final corpus.
    val dir = graft.TempDirs.create("idxchaos").toString
    val engine = new MemFuse(spark, dir)
    engine.createUser("u1", "User One")
    engine.createAgent("a1", "Agent")
    (1 to 3).foreach(i => engine.createSession(s"s$i", "u1", "a1"))
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle partition tuning", ts(1)),
      Schemas.Message("m2", "s2", "u1", "r2", 2, "user", "broadcast join details", ts(2)),
      Schemas.Message("m3", "s3", "u1", "r3", 3, "user", "cast iron cooking recipe", ts(3))).toDF())
    engine.buildIndexes(nlist = 2)
    @volatile var failure: Option[Throwable] = None
    @volatile var writing = true
    val reader = new Thread(() => {
      try {
        var i = 0
        while (writing) {
          engine.query("spark partition", "u1", topK = 2,
            useIndexes = i % 2 == 0, nProbe = 2).collect()
          i += 1
        }
      } catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    (4 to 6).foreach { i =>
      engine.ingest(Seq(Schemas.Message(s"m$i", s"s${(i % 2) + 1}", "u1", s"r$i",
        i, "user", s"spark adaptive execution notes batch $i", ts(i))).toDF())
    }
    engine.deleteSession("s3")
    engine.maintain(indexStaleThreshold = 0.01)
    writing = false
    reader.join()
    assert(failure.isEmpty, s"concurrent query failed: ${failure.map(_.toString)}")
    val scan = engine.query("spark partition", "u1", topK = 3).collect().toSeq
    val indexed = engine.query("spark partition", "u1", topK = 3,
      useIndexes = true, nProbe = 2).collect().toSeq
    assert(indexed == scan)
  }

  test("index rebuild never yanks files from a handle opened before it") {
    import graft.pipeline.IvfIndex
    val emb = Tables.embeddings(spark, sf())
    val dir = graft.TempDirs.create("ivfver").toString
    IvfIndex.build(spark, emb.filter(col("vec_id") < 50), nlist = 2).save(dir)
    val held = IvfIndex.load(spark, dir)
    // full rebuild over different data commits a NEW version
    IvfIndex.build(spark, emb.filter(col("vec_id") < 100), nlist = 2).save(dir)
    assert(held.assigned.count() == 50, "pre-rebuild handle keeps its snapshot")
    assert(IvfIndex.load(spark, dir).assigned.count() == 100, "fresh open sees the rebuild")

    val docs = Tables.documents(spark, sf())
    val kdir = graft.TempDirs.create("kwver").toString
    new KeywordIndex(spark, kdir).build(docs.filter(col("doc_id") < 100))
    val heldKw = new KeywordIndex(spark, kdir)
    val terms = Seq("join", "filter", "table", "scan")
    val before = heldKw.bm25(terms, 10).as[(Long, Double)].collect().toSeq
    new KeywordIndex(spark, kdir).build(docs) // rebuild over the full corpus
    assert(heldKw.bm25(terms, 10).as[(Long, Double)].collect().toSeq == before,
      "pre-rebuild keyword handle keeps serving its version")
    assert(new KeywordIndex(spark, kdir).bm25(terms, 10)
      .as[(Long, Double)].collect().toSeq ==
      Retrieval.bm25(docs, terms, 10).as[(Long, Double)].collect().toSeq)
    // vacuum keeps only the newest version; a fresh handle still works
    graft.pipeline.TableOps.vacuumArtifacts(spark, kdir, "kw", keep = 1)
    assert(new KeywordIndex(spark, kdir).bm25(terms, 5).count() == 5)
  }

  test("three-way hybrid: includeGraph adds the m2 vertex leg to the fusion") {
    val dir = graft.TempDirs.create("graphleg").toString
    val engine = new MemFuse(spark, dir)
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "espresso is coffee", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r2", 2, "user", "latte has milk", ts(2)),
      Schemas.Message("m3", "s2", "u1", "r3", 3, "user", "tea is calming", ts(3))).toDF())
    engine.buildSemanticLayer() // persists m2 vertices WITH embeddings
    val twoWay = engine.query("espresso coffee", "u1", topK = 5)
    assert(!twoWay.collect().exists(_.getAs[String]("session_id") == "graph"),
      "graph leg must be off by default")
    val threeWay = engine.query("espresso coffee", "u1", topK = 5, includeGraph = true)
    val rows = threeWay.collect()
    assert(rows.exists(_.getAs[String]("session_id") == "graph"),
      "a matching entity vertex must surface through the graph leg\n" +
        rows.mkString("\n"))
    // graph hits hydrate with the entity name as content
    val g = rows.filter(_.getAs[String]("session_id") == "graph")
    assert(g.forall(r => r.getAs[String]("content") == r.getAs[String]("id")))
  }

  test("session and agent scope narrow the query corpus (disjoint results)") {
    val dir = graft.TempDirs.create("scope").toString
    val engine = new MemFuse(spark, dir)
    engine.createAgent("a1", "support bot")
    engine.createAgent("a2", "sales bot")
    engine.createSession("s1", "u1", "a1")
    engine.createSession("s2", "u1", "a2")
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "spark shuffle tuning notes", ts(1)),
      Schemas.Message("m2", "s2", "u1", "r2", 1, "user", "spark broadcast join notes", ts(2))).toDF())
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("session_id").as[String].collect().toSet
    // same corpus, same query — different scopes, disjoint results
    assert(ids(engine.query("spark notes", "u1", sessionId = Some("s1"))) == Set("s1"))
    assert(ids(engine.query("spark notes", "u1", sessionId = Some("s2"))) == Set("s2"))
    assert(ids(engine.query("spark notes", "u1", agentId = Some("a1"))) == Set("s1"))
    assert(ids(engine.query("spark notes", "u1", agentId = Some("a2"))) == Set("s2"))
    assert(ids(engine.query("spark notes", "u1")) == Set("s1", "s2"))
  }

  test("query cache: second call is served without recomputation; routing gates on quality") {
    val dir = graft.TempDirs.create("cache").toString
    val engine = new MemFuse(spark, dir)
    engine.ingest(Seq(
      Schemas.Message("m1", "s1", "u1", "r1", 1, "user", "alpha beta gamma", ts(1)),
      Schemas.Message("m2", "s1", "u1", "r2", 2, "user", "delta epsilon zeta", ts(2))).toDF())

    val first = engine.queryCached("alpha beta", "u1", 2)
    val second = engine.queryCached("alpha beta", "u1", 2)
    assert(first eq second) // same cached array instance
    assert(first.nonEmpty)

    // quality gate: recent frame holds a perfect match → buffer serves it
    val recent = engine.m1
    val routed = engine.routedQuery("alpha beta gamma", "u1", 1, recent, qualityGate = 0.7)
    assert(routed.collect().head.getAs[String]("content").contains("alpha"))
    // impossible gate → falls through to full storage query, still correct
    val fallback = engine.routedQuery("alpha beta gamma", "u1", 1, recent, qualityGate = 1.1)
    assert(fallback.collect().head.getAs[String]("content").contains("alpha"))
  }
}
