package graft

import graft.functions.VectorFunctions
import graft.operators._
import org.apache.spark.sql.functions._

class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("cosine expression: exact value and codegen/eval parity") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(1f, 0f, 0f), Array(1f, 1f, 0f))).toDF("a", "b")
    val got = df.select(VectorFunctions.cosine(col("a"), col("b")).as("c"))
      .as[Double].collect()
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - 1.0) < 1e-12)
    assert(math.abs(got(2) - 1.0 / math.sqrt(2)) < 1e-12)
    // interpreted path must agree with codegen
    val interp = df.withColumn("c",
      VectorFunctions.dot(col("a"), col("b")))
      .select("c").as[Double].collect()
    assert(interp.toSeq == Seq(0.0, 14.0, 1.0))
  }

  test("rrf fusion: exact reciprocal-rank arithmetic") {
    val results = Seq(
      ("d1", 0.9, "vector"), ("d2", 0.8, "vector"),
      ("d2", 5.0, "keyword"), ("d3", 4.0, "keyword")).toDF("id", "score", "store_type")
    val fused = Fusion.rrf(results, 60.0, Map("vector" -> 1.0, "keyword" -> 0.5), 10)
      .as[(String, Double)].collect().toMap
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(fused("d1") == t6(1.0 / 61))
    assert(fused("d2") == t6(1.0 / 62 + 0.5 / 61))
    assert(fused("d3") == t6(0.5 / 62))
  }

  test("salted self-join splits a hot bucket without changing the pairs") {
    // pathological skew: every doc is a near-copy → ONE LSH/MinHash
    // bucket holds the whole corpus
    val docs = (1L to 30L).map(i => (i, s"the same boilerplate text repeated everywhere v$i"))
      .toDF("doc_id", "text")
    val plain = Dedup.minhashLsh(docs, jaccardThreshold = 0.3, salts = 1,
        ordered = true)
      .as[(Long, Long, Double)].collect().toSeq
    val salted = Dedup.minhashLsh(docs, jaccardThreshold = 0.3, salts = 4,
        ordered = true)
      .as[(Long, Long, Double)].collect().toSeq
    assert(plain.nonEmpty)
    assert(salted == plain)
  }

  test("lsh-bucketed embedding near-dups: subset of exact pairs, salt-invariant") {
    val emb = Tables.embeddings(spark, sf())
    val exact = Dedup.embeddingNearDups(emb, 0.25) // uncapped exact reference
      .as[(Long, Long, Double)].collect().toSet
    val bucketed = Dedup.embeddingNearDupsLsh(emb, 0.25)
      .as[(Long, Long, Double)].collect().toSet
    assert(bucketed.nonEmpty)
    assert(bucketed.subsetOf(exact), "bucket candidates must verify with the exact scorer")
    val saltedB = Dedup.embeddingNearDupsLsh(emb, 0.25, salts = 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(saltedB == bucketed)
  }

  test("exact dedup finds a planted duplicate") {
    val docs = Seq((1L, "aa bb cc"), (2L, "dd ee"), (3L, "aa bb cc"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs).collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash lsh finds a planted near-duplicate pair") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val far = (100 to 140).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, 3, 4, 2, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("docs-taking minhash calls build their index inline and persist nothing") {
    val base = (1 to 40).map(i => s"state$i").mkString(" ")
    val docs = (1L to 12L).map(i => (i, s"$base v${i % 3}")).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(Dedup.minhashLsh(docs, jaccardThreshold = 0.5).count() > 0)
    assert(Dedup.minhashEstimatePairs(docs).count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("simhash: similar docs closer in hamming distance than dissimilar") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i % 13 == 0) "x" else s"tok$i").mkString(" ")
    val far = (100 to 140).map(i => s"other$i").mkString(" ")
    val sims = Dedup.simhash(Seq((1L, base), (2L, near), (3L, far))
      .toDF("doc_id", "text"), 16)
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(1L), sims(2L)) < ham(sims(1L), sims(3L)))
  }

  test("character chunks cover the text with the configured overlap") {
    val text = ('a' to 'z').mkString * 10 // 260 chars
    val chunks = Chunking.characterChunks(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text", 100, 10)
      .select("chunk_idx", "chunk_text").as[(Long, String)].collect().sortBy(_._1)
    assert(chunks.length == 3) // stride 90: starts 0, 90, 180 cover 260
    assert(chunks(0)._2.length == 100)
    // overlap: last 10 chars of chunk k == first 10 of chunk k+1
    assert(chunks(0)._2.takeRight(10) == chunks(1)._2.take(10))
    // full coverage
    assert(chunks.map(_._2).reduce((a, b) => a + b.drop(10)) == text.take(260))
  }

  test("token budget chunks respect the budget for normal messages") {
    val msgs = (1 to 20).map(i => ("g1", i.toLong, Seq.fill(100)(s"w$i").mkString(" ")))
      .toDF("g", "seq", "content")
    val chunks = Chunking.tokenBudgetChunks(msgs, "g", "seq", "content", 250)
      .select("n_tokens").as[Long].collect()
    assert(chunks.forall(_ <= 250))
    assert(chunks.sum == 2000) // nothing lost
  }

  test("bm25 ranks the doc containing the query terms first") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha alpha alpha epsilon"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val top = Retrieval.bm25(docs, Seq("alpha"), 3).as[(Long, Double)].collect()
    assert(top.head._1 == 2L) // highest tf wins
    assert(!top.map(_._1).contains(3L))
  }

  test("sessionize splits on gaps larger than the threshold") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val events = Seq(
      (1L, 10L, ts(0), 1.0), (2L, 10L, ts(100), 2.0),
      (3L, 10L, ts(5000), 3.0), // gap > 3600 → new session
      (4L, 11L, ts(0), 4.0)).toDF("event_id", "user_id", "ts", "value")
    val sessions = EventOps.sessionize(events, 3600L)
      .select("user_id", "session_idx", "n_events").as[(Long, Long, Long)].collect().toSet
    assert(sessions == Set((10L, 1L, 2L), (10L, 2L, 1L), (11L, 1L, 1L)))
  }

  test("repetition ratio: repeated trigrams raise the ratio, short docs are 0") {
    val docs = Seq(
      (1L, "a b c a b c a b c"), // trigram "a b c" dominates
      (2L, "one two three four five"), // all trigrams distinct
      (3L, "x y")) // shorter than a trigram
      .toDF("doc_id", "text")
    val byId = TextAnalysis.repetitionRatio(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(byId(1L)._1 == 7 && byId(1L)._2 == 3) // 7 grams, 3 distinct
    assert(byId(1L)._3 > 0.5)
    assert(byId(2L)._3 == 0.0)
    assert(byId(3L) == ((0L, 0L, 0.0)))
  }

  test("redactPii scrubs phones and emails and counts them") {
    val df = Seq(
      (1L, "call 12-345-678-9012 or mail bob@example.com now"),
      (2L, "nothing sensitive here")).toDF("id", "text")
    val rows = TextAnalysis.redactPii(df, "text")
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(rows(1L)._1 == "call [PHONE] or mail [EMAIL] now")
    assert(rows(1L)._2 == 2L)
    assert(rows(2L) == (("nothing sensitive here", 0L)))
  }

  test("sharedPassages finds verbatim cross-doc n-grams only") {
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (1L, s"intro $shared outro"),
      (2L, s"other words then $shared"),
      (3L, "completely different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val out = Dedup.sharedPassages(docs, n = 8, minDocs = 2)
      .as[(String, Long)].collect()
    assert(out.map(_._1).contains(shared))
    // every reported gram is a window over the shared span, seen twice
    assert(out.forall { case (g, nd) =>
      nd == 2 && g.split(" ").forall(_.startsWith("w"))
    })
  }

  test("kmeans clusters: identical vectors co-cluster; diverse sample caps per cluster") {
    import graft.operators.Retrieval
    val emb = Tables.embeddings(spark, sf())
    val withCopies = emb.select("vec_id", "embedding").unionByName(
      emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val clusters = Retrieval.kmeansClusters(withCopies, k = 8)
      .as[(Long, Long)].collect().toMap
    assert(clusters.size == emb.count() + 10)
    assert(clusters.values.forall(c => c >= 0 && c < 8))
    // an identical vector must quantize to the identical cluster
    (0L until 10L).foreach(i =>
      assert(clusters(i) == clusters(i + 10000), s"copy of $i split clusters"))
    // diversity sampling: at most perCluster rows per cluster, all
    // drawn from the corpus, covering every non-empty cluster
    val sample = Retrieval.diverseSample(emb.select("vec_id", "embedding"),
      k = 8, perCluster = 5).as[(Long, Long)].collect().toSeq
    val perC = sample.groupBy(_._2).view.mapValues(_.size)
    assert(perC.values.forall(_ <= 5))
    val fullSizes = Retrieval.kmeansClusters(emb.select("vec_id", "embedding"), 8)
      .as[(Long, Long)].collect().groupBy(_._2).view.mapValues(_.size)
    fullSizes.foreach { case (c, n) =>
      assert(perC.getOrElse(c, 0) == math.min(5, n), s"cluster $c under-sampled")
    }
  }

  test("sequence packing: corpus reassembles in order, packs near budget") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf())
    val packs = TextAnalysis.packSequences(docs, seqTokens = 500L)
      .as[(Long, Long, Long, String)].collect().toSeq
    // packs, concatenated in seq order, ARE the corpus in doc order
    val repacked = packs.sortBy(_._1).map(_._4).mkString(" ")
    val original = docs.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1).map(_._2).mkString(" ")
    assert(repacked == original, "packing must preserve every token in order")
    // contiguous assignment bounds every non-final pack within one
    // document's length of the budget on either side (a doc straddling
    // the boundary shifts the next pack's start past the line)
    val maxDoc = docs
      .select(size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
      .as[Long].collect().max
    val lens = packs.sortBy(_._1).map(_._3)
    assert(lens.init.forall(l => l >= 500L - maxDoc && l <= 500L + maxDoc),
      s"non-final packs stay within one doc of the budget (maxDoc=$maxDoc)")
    assert(packs.map(_._2).sum == docs.count())
  }

  test("temperature mix: rarest stratum kept whole, rates follow n^(alpha-1) shares") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf())
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val out = TextAnalysis.temperatureMix(docs, "lang", alpha = 0.7)
      .select("doc_id", "lang", "rate")
      .as[(Long, String, Double)].collect().toSeq
    val rates = out.map(r => r._2 -> r._3).toMap
    val nMin = counts.values.min
    counts.foreach { case (lang, n) =>
      val expect = math.floor(math.pow(n.toDouble, -0.3) /
        math.pow(nMin.toDouble, -0.3) * 1e6) / 1e6
      assert(math.abs(rates(lang) - expect) < 1e-9, s"$lang rate")
    }
    // the rarest stratum survives whole; kept fractions track the rates
    val rarest = counts.minBy(_._2)._1
    assert(rates(rarest) == 1.0)
    val keptByLang = out.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    counts.foreach { case (lang, n) =>
      val frac = keptByLang.getOrElse(lang, 0.0) / n
      assert(math.abs(frac - rates(lang)) < 0.2, s"$lang kept $frac vs rate ${rates(lang)}")
    }
  }

  test("incremental dedup classifies a batch against the corpus") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") >= 50 && col("doc_id") < 100)
        .select((col("doc_id") + 20000).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text")))
      .unionByName(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
        .select((col("doc_id") + 30000).as("doc_id"), col("text")))
    val out = Dedup.incrementalDedup(batch, corpus)
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(out.length == 200)
    val byStatus = out.groupBy(_._2)
    // every exact copy resolves to ITS source doc with jaccard 1
    assert(byStatus("exact_dup").forall(r =>
      r._3 == r._1 - 10000 && r._4 == 1.0))
    assert(byStatus("exact_dup").map(_._1).toSet ==
      (0L until 50L).map(_ + 10000).toSet)
    // every near-dup (first word dropped) finds a corpus match above
    // the threshold — overwhelmingly its own source
    assert(byStatus("near_dup").forall(r => r._3 >= 0 && r._3 < 300 && r._4 >= 0.5))
    assert(byStatus("near_dup").count(r => r._3 == r._1 - 20000) >= 45)
    // new docs pass through untouched — except the handful that are
    // GENUINE coincidental near-dups of corpus docs (the small synthetic
    // vocab makes some short docs collide above 0.5 Jaccard; flagging
    // them is correct behavior)
    val uniques = byStatus("unique").map(_._1).toSet
    assert(uniques.subsetOf((300L until 400L).map(_ + 30000).toSet))
    assert(uniques.size >= 90, s"only ${uniques.size} uniques")
    assert(byStatus("unique").forall(r => r._3 == -1L && r._4 == 0.0))
  }

  test("length quantiles: explicit interpolation ≡ the builtin percentile") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf())
    val ours = TextAnalysis.lengthQuantiles(docs)
      .as[(String, Double, Double, Double)].collect()
    assert(ours.nonEmpty)
    val builtin = docs
      .select(col("lang"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("double").as("v"))
      .groupBy("lang")
      .agg(expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("qs"))
      .as[(String, Seq[Double])].collect().toMap
    ours.foreach { case (lang, p50, p90, p99) =>
      val b = builtin(lang)
      // same percentile_cont semantics; ours is trunc6'd
      assert(math.abs(p50 - b(0)) < 2e-6, s"$lang p50 $p50 vs ${b(0)}")
      assert(math.abs(p90 - b(1)) < 2e-6, s"$lang p90 $p90 vs ${b(1)}")
      assert(math.abs(p99 - b(2)) < 2e-6, s"$lang p99 $p99 vs ${b(2)}")
    }
  }

  test("hll sketch: shard-mergeable, estimates within the error bound") {
    import graft.operators.Sketches
    // two overlapping shards, 2000 true distincts (σ ≈ 1.04/√64 = 13%)
    val a = (0 until 1200).map(i => ("s", s"v$i")).toDF("g", "v")
    val b = (800 until 2000).map(i => ("s", s"v$i")).toDF("g", "v")
    val whole = a.unionByName(b)
    val est = Sketches.hllDistinct(whole, Seq("g"), col("v"))
      .select("est_distinct").as[Double].head()
    assert(math.abs(est - 2000) / 2000 < 0.3, s"estimate $est vs exact 2000")
    // the defining property: shard sketches max-merge to EXACTLY the
    // whole-corpus sketch — no raw-data repass
    val merged = Sketches.hllEstimate(
      Sketches.hllSketch(a, Seq("g"), col("v"))
        .unionByName(Sketches.hllSketch(b, Seq("g"), col("v")))
        .groupBy("g", "register").agg(max("max_rho").as("max_rho")),
      Seq("g")).select("est_distinct").as[Double].head()
    assert(merged == est, s"merged $merged != whole $est")
    // real corpus, per-group: every language's estimate lands in-bound
    val docs = Tables.documents(spark, sf())
    val ests = Sketches.hllDistinct(docs, Seq("lang"), col("text"))
      .as[(String, Double)].collect().toMap
    val exacts = docs.groupBy("lang").agg(countDistinct("text").as("n"))
      .as[(String, Long)].collect().toMap
    exacts.foreach { case (lang, n) =>
      val e = ests(lang)
      assert(math.abs(e - n) / n < 0.35, s"$lang: est $e vs exact $n")
    }
  }

  test("paragraph dedup: first occurrence wins, docs reassemble in order") {
    // paraTokens=3 → passages are 3-token windows. doc 1 owns passages
    // A B; doc 2 repeats A (dropped) then contributes C; doc 3 is a full
    // copy of doc 1 (everything dropped, n_kept = 0); doc 4 repeats its
    // own first passage within itself (second occurrence dropped).
    val pA = "a1 a2 a3"; val pB = "b1 b2 b3"; val pC = "c1 c2 c3"
    val docs = Seq(
      (1L, s"$pA $pB"), (2L, s"$pA $pC"), (3L, s"$pA $pB"),
      (4L, s"$pA $pA"))
      .toDF("doc_id", "text")
    // doc 4's repeats of pA lose to doc 1's (smaller doc_id)
    val got = Dedup.paragraphDedup(docs, paraTokens = 3, ordered = true)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 2L, s"$pA $pB"),
      (2L, 2L, 1L, pC),
      (3L, 2L, 0L, ""),
      (4L, 2L, 0L, "")))
    // distributed heap-k=1 cut ≡ an independent local reference over
    // real corpus text with injected copies
    val real = Tables.documents(spark, sf()).select("doc_id", "text")
    val corpus = real.unionByName(
      real.select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val viaSpark = Dedup.paragraphDedup(corpus, ordered = true)
      .as[(Long, Long, Long, String)].collect().toSeq
    val local = corpus.as[(Long, String)].collect().sortBy(_._1)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val expect = local.map { case (id, text) =>
      val paras = text.split(" ").grouped(20).map(_.mkString(" ")).toSeq
      val kept = paras.filter(seen.add) // first occurrence wins, in-doc too
      (id, paras.length.toLong, kept.length.toLong, kept.mkString(" "))
    }.toSeq
    assert(viaSpark == expect, "distributed cut ≡ local first-occurrence scan")
    // every +10000 copy is fully duplicate
    assert(viaSpark.filter(_._1 >= 10000).forall(_._3 == 0L))
  }

  test("multimodal: feature extraction and frame sampling plumbing") {
    val docs = Seq((0L, "abcdefghij"), (1L, "0123456789abcdef")).toDF("doc_id", "text")
    val media = Multimodal.synthesize(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(media, 16).as[(Long, String, Seq[Float])].collect()
    assert(feats.forall(_._3.length == 16))
    assert(feats.forall(f => math.abs(f._3.sum - 1f) < 1e-5)) // L1-normalized
    val frames = Multimodal.sampleFrames(media)
    assert(frames.count() > 0)
    // frames of one media reassemble a prefix of the original payload
    val f0 = frames.filter(col("media_id") === 0L)
      .orderBy("frame_idx").select("frame").as[Array[Byte]].collect()
    assert(new String(f0.flatten) == "abcdefghij".take(f0.map(_.length).sum))
  }

  test("unigram NLL: rare-token docs score higher than boilerplate") {
    // 3 docs sharing "the cat sat"; one appends a hapax token — its mean
    // NLL must exceed the all-common docs'
    val docs = Seq(
      (1L, "the cat sat"), (2L, "the cat sat"), (3L, "the cat sat zyzzyva"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L))
    assert(got(0)._3 == got(1)._3, "identical docs score identically")
    assert(got(2)._3 > got(0)._3, "the hapax-bearing doc is more surprising")
    // hand-check doc 1: p(the)=p(cat)=p(sat)=3/10 → NLL = ln(10/3)
    val expect = math.floor(-math.log(3.0 / 10.0) * 1e6) / 1e6
    assert(math.abs(got(0)._3 - expect) < 1e-9)
  }

  test("tfidf keywords: distinctive terms beat shared terms, heap cut = window cut") {
    val docs = Seq(
      (1L, "spark spark shuffle common"), (2L, "duck pond common"),
      (3L, "common common common")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfKeywords(docs, topK = 2)
      .as[(Long, String, Double, Long)].collect().toSeq
    // doc 1's top keyword is its doubled distinctive term
    assert(got.filter(_._1 == 1L).head._2 == "spark")
    assert(got.filter(_._1 == 2L).map(_._2).toSet == Set("duck", "pond"))
    // 'common' appears in every doc → idf = ln(1) = 0 everywhere
    assert(got.filter(_._2 == "common").forall(_._3 == 0.0))
    // ranks are 1-based and dense per doc (doc 3 has one distinct term)
    assert(got.groupBy(_._1).values.forall(g =>
      g.map(_._4).sorted == (1L to g.length).toSeq))
  }

  test("token sharding: matches a local prefix sum; contiguous and balanced") {
    val docs = Tables.documents(spark, sf())
    val target = 500L
    val got = TextAnalysis.shardByTokens(docs, target)
      .as[(Long, Long, Long)].collect().toSeq
    // local reference: running token total in doc_id order
    val local = docs.select(col("doc_id"),
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    var cum = 0L
    val expect = local.map { case (id, n) =>
      val s = cum / target; cum += n; (id, n, s)
    }.toSeq
    assert(got == expect, "distributed two-phase prefix sum ≡ local scan")
    // shards are contiguous in doc order and nondecreasing
    assert(got.map(_._3) == got.map(_._3).sorted)
    // balance: a shard overshoots the target by at most its last doc
    got.groupBy(_._3).values.foreach { g =>
      assert(g.map(_._2).sum <= target + g.map(_._2).max)
    }
  }

  test("duplicate clusters: transitive min-label over the pair list") {
    // two components, one needing 3-hop transitivity (1-2-3-4), plus an
    // isolated pair; every member labels with its component's min id
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (11L, 10L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("duplicate clusters: star contraction resolves a deep chain in O(log n) rounds") {
    // a 128-node path is the adversarial shape for label propagation
    // (needs ~diameter = 127 rounds); alternating large-star/small-star
    // must close it in logarithmic rounds and label everything with 0
    val chain = (0L until 127L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labelsDf, rounds) = Dedup.duplicateClustersWithRounds(chain, maxIters = 20)
    val labels = labelsDf.as[(Long, Long)].collect()
    assert(labels.length == 128)
    assert(labels.forall(_._2 == 0L), "every chain member joins component 0")
    assert(rounds <= 10, s"star contraction should need ~log2(128) rounds, took $rounds")
  }

  test("duplicate clusters: non-convergence throws instead of returning wrong labels") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Dedup.duplicateClustersWithRounds(chain, maxIters = 1)
    }
  }

  test("dsum12Local is bit-identical to the dsum12 aggregate") {
    // the driver-side fixpoints (markov family, small Bradley–Terry)
    // replay dsum12 locally; this pins the two summation paths equal
    // on adversarial magnitudes (tiny terms, sign mixes, many rows —
    // decimal addition is exact, so shard/fold order cannot matter)
    import graft.functions.TextFunctions.{dsum12, dsum12Local}
    val rnd = new scala.util.Random(20260817L)
    val batches = Seq(
      Seq.fill(257)(rnd.nextDouble()),                      // uniform [0,1)
      Seq.fill(100)(math.pow(10.0, -rnd.nextInt(14)) * rnd.nextDouble()),
      Seq.fill(64)((rnd.nextDouble() - 0.5) * 1e6),         // sign mix, big
      Seq(0.0, 1.0 / 3.0, 2.0 / 3.0, 1e-13, 123456.789012345))
    batches.zipWithIndex.foreach { case (xs, i) =>
      val viaSpark = xs.toDF("v").agg(dsum12(col("v"))).head().getDouble(0)
      val viaLocal = dsum12Local(xs)
      assert(java.lang.Double.compare(viaSpark, viaLocal) == 0,
        s"batch $i: spark=$viaSpark local=$viaLocal")
    }
  }

  test("bigram nll: hand-computed interpolated scores on a fixture") {
    val docs = Seq((1L, "a b"), (2L, "b b")).toDF("doc_id", "text")
    // uni: a=1 b=3, total=4; bi: (a,b)=1 (b,b)=1
    val lam = 0.8
    val pUniB = 3.0 / 4.0
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    val exp1 = t6((-math.log(1.0 / 4.0) + -math.log(lam * (1.0 / 1.0) + (1.0 - lam) * pUniB)) / 2)
    val exp2 = t6((-math.log(pUniB) + -math.log(lam * (1.0 / 3.0) + (1.0 - lam) * pUniB)) / 2)
    val got = TextAnalysis.bigramLogProb(docs).as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L))
    assert(got.map(_._2) == Seq(2L, 2L))
    assert(math.abs(got(0)._3 - exp1) < 2e-6, s"${got(0)._3} vs $exp1")
    assert(math.abs(got(1)._3 - exp2) < 2e-6, s"${got(1)._3} vs $exp2")
  }

  test("block pack: docs split across fixed block boundaries, spans sum exactly") {
    val docs = Seq((1L, "t t t"), (2L, "t t"), (3L, "t t t t"), (4L, "t"))
      .toDF("doc_id", "text")
    // starts: 0,3,5,9; blocks of 4 → b0={d1:3,d2:1} b1={d2:1,d3:3}
    // b2={d3:1,d4:1} (doc3's 4th token, global position 8, lands in b2)
    val got = TextAnalysis.packBlocks(docs, 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 2L, 4L, 1L, 2L), (1L, 2L, 4L, 2L, 3L), (2L, 2L, 2L, 3L, 4L)))
    // every block but the last is exactly full, and totals are conserved
    assert(got.init.forall(_._3 == 4L))
    assert(got.map(_._3).sum == 10L)
  }

  test("shuffled block pack: seeded permutation is deterministic, conserves tokens") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text").filter(col("doc_id") < 60)
    def run(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long, Long)] =
      df.as[(Long, Long, Long, Long, Long)].collect().toSeq
    val plain = run(TextAnalysis.packBlocks(docs, 512))
    val shuf = run(TextAnalysis.packBlocksShuffled(docs, 512, "epoch0"))
    val shuf2 = run(TextAnalysis.packBlocksShuffled(docs, 512, "epoch0"))
    assert(shuf == shuf2) // same seed → bit-identical packing
    assert(shuf != plain) // the permutation genuinely reorders the stream
    assert(shuf.map(_._3).sum == plain.map(_._3).sum) // token conservation
    assert(shuf.init.forall(_._3 == 512L)) // full blocks except the tail
    // a different seed is a different permutation
    assert(run(TextAnalysis.packBlocksShuffled(docs, 512, "epoch1")) != shuf)
  }

  test("bpe pair stats: hand-checked weighted char-pair counts") {
    val docs = Seq((1L, "aa ab aa"), (2L, "ab aa")).toDF("doc_id", "text")
    // cores: aa×3, ab×2 → pairs: "aa"×3, "ab"×2
    val got = TextAnalysis.bpePairStats(docs, 10).as[(String, Long)].collect().toSeq
    assert(got == Seq(("aa", 3L), ("ab", 2L)))
  }

  test("distributed bpe trainer: merge-for-merge identical to the local trainer") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    // local reference: same pre-tokenization, collected to the driver
    val pieceRe = TextAnalysis.BpePattern.r
    val coreRe = "^[\\p{L}\\p{N}]+$".r
    val freq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (t <- docs.select("text").as[String].collect();
         piece <- pieceRe.findAllIn(t)) {
      val core = if (piece.startsWith(" ")) piece.substring(1) else piece
      if (coreRe.findFirstIn(core).isDefined) freq(core) += 1
    }
    val local = graft.tools.TrainBpe.train(freq, 30)
    assert(local.size == 30) // the corpus genuinely supports 30 merges
    // checkpointEvery=12 exercises the lineage-cut path mid-run
    val dist = TextAnalysis.bpeTrain(docs, 30, checkpointEvery = 12)
    assert(dist == local)
  }

  test("bloom might-contain: filter members always hit (no false negatives)") {
    import graft.functions.TextFunctions.bloomMightContain
    val grams = Seq("a b", "c d", "e f", "g h").toDF("s")
    val bf = grams.stat.bloomFilter("s", 4, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
    }
    // every member probes true — a hash-scheme mismatch between the
    // aggregate builder and the expression probe would fail here
    assert(grams.filter(bloomMightContain(col("s"), bytes)).count() == 4)
  }

  test("bloom contamination: result identical to the broadcast-exact path") {
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val ev = docs.filter(col("doc_id") % 10 === 0)
    val exact = Dedup.contamination(train, ev, n = 6, minShared = 2)
      .as[(Long, Long)].collect().toSeq
    val bloomed = Dedup.contaminationBloom(train, ev, n = 6, minShared = 2)
      .as[(Long, Long)].collect().toSeq
    assert(exact.nonEmpty) // the corpus genuinely overlaps at these params
    assert(bloomed == exact) // false positives die in the verify join
  }

  test("canonical per cluster: argmax quality, id tie-break, singletons keep themselves") {
    // cluster {1,2,3}: 3 has the best score; cluster {10,11}: scores tie
    // so the smaller id wins; 99 is in no pair and keeps itself
    val docs = Seq((1L, 0.5), (2L, 0.7), (3L, 0.9), (10L, 0.4), (11L, 0.4),
      (99L, 0.1)).toDF("doc_id", "quality")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster_rep")
    val got = Dedup.canonicalPerCluster(docs, labels, "quality")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(got == Seq((1L, 1L, 3L, 0), (2L, 1L, 3L, 0), (3L, 1L, 3L, 1),
      (10L, 10L, 10L, 1), (11L, 10L, 10L, 0), (99L, 99L, 99L, 1)))
    // exactly one keeper per cluster
    assert(got.groupBy(_._2).values.forall(_.count(_._4 == 1) == 1))
  }

  test("bpe merge loop: exact counts under a fixture rank table") {
    val ranks = Map("a b" -> 1, "ab c" -> 2, "x y" -> 3)
    assert(TextAnalysis.bpeMergeCount("abcd", ranks) == 2) // [abc, d]
    assert(TextAnalysis.bpeMergeCount("abcabc", ranks) == 2) // [abc, abc]
    assert(TextAnalysis.bpeMergeCount("xyxy", ranks) == 2) // leftmost first
    assert(TextAnalysis.bpeMergeCount("zzz", ranks) == 3) // OOV → chars
    assert(TextAnalysis.bpeMergeCount("ab", ranks) == 1)
    assert(TextAnalysis.bpeMergeCount("a", ranks) == 1)
    // rank priority, not scan order: 'a b' (rank 1) fires before 'x a'
    assert(TextAnalysis.bpeMergeCount("xabcy",
      Map("x a" -> 3, "a b" -> 1, "ab c" -> 2)) == 3) // [x, abc, y]
  }

  test("shipped bpe vocab loads, deterministically compresses real words") {
    val ranks = TextAnalysis.BpeMergeRanks
    assert(ranks.nonEmpty)
    // every trained merge's concatenation tokenizes to ONE symbol
    val learned = ranks.toSeq.sortBy(_._2).map(_._1.split(" ", 2))
    learned.take(20).foreach { case Array(a, b) =>
      assert(TextAnalysis.bpeMergeCount(a + b, ranks) == 1,
        s"'$a$b' must collapse to its own merge token")
    }
  }

  test("bpeExactTokenCount: piece decomposition with the space-folding convention") {
    val df = Seq((1L, "par par\nrow"), (2L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeExactTokenCount(df)
      .as[(Long, Long)].collect().toMap
    val ranks = TextAnalysis.BpeMergeRanks
    // pieces: "par", " par" (space folds into the word), "\n" (1), "row"
    val expected = 2L * TextAnalysis.bpeMergeCount("par", ranks) +
      1L + TextAnalysis.bpeMergeCount("row", ranks)
    assert(got(1L) == expected)
    assert(got(2L) == 0L)
  }

  test("asof join: latest at-or-before match per key, unmatched stays null") {
    val left = Seq(("u1", 10L, "p1"), ("u1", 20L, "p2"), ("u2", 5L, "p3"))
      .toDF("user_id", "ts_us", "pid")
    val right = Seq(("u1", 10L, "a"), ("u1", 15L, "b"), ("u2", 50L, "x"))
      .toDF("user_id", "ts_us", "rv")
    val got = Joins.asofJoin(left, right, Seq("user_id"), "ts_us", Seq("rv"))
      .select("pid", "rv").as[(String, Option[String])].collect().toMap
    // equal instants match (>= rule); u2's only right row is in the future
    assert(got == Map("p1" -> Some("a"), "p2" -> Some("b"), "p3" -> None))
  }

  test("range join: half-open containment, bin-spanning intervals, no dup pairs") {
    val points = Seq(("u1", 5L, 100L), ("u1", 10L, 101L), ("u1", 25L, 102L),
      ("u2", 5L, 103L)).toDF("user_id", "pt", "point_id")
    val intervals = Seq(("u1", 0L, 10L, 200L), ("u1", 10L, 20L, 201L),
      // long interval spanning 3 bins: must match each point exactly once
      ("u1", 3L, 28L, 202L)).toDF("user_id", "s", "e", "iv_id")
    val got = Joins.rangeJoin(points, intervals, Seq("user_id"),
        "pt", "s", "e", binWidth = 10L)
      .select("point_id", "iv_id").as[(Long, Long)].collect().sorted.toSeq
    // pt=5 ∈ [0,10) and [3,28); pt=10 ∈ [10,20) (half-open: NOT [0,10))
    // and [3,28); pt=25 ∈ [3,28) only; u2's point matches nothing
    assert(got == Seq((100L, 200L), (100L, 202L), (101L, 201L),
      (101L, 202L), (102L, 202L)))
  }

  test("rolling window: trailing count and exact scaled-long sum") {
    def t(sec: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime + sec * 1000L)
    val ev = Seq((1L, 7L, t(0), 1.5), (2L, 7L, t(5), 2.25), (3L, 7L, t(11), 4.0),
      (4L, 8L, t(5), 10.0)).toDF("event_id", "user_id", "ts", "value")
    // 10-second trailing window: event 3 sees only events at t=5..11
    val got = EventOps.rollingWindow(ev, windowUs = 10000000L)
      .select("event_id", "n_trailing", "sum_trailing")
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, s) => id -> ((n, s)) }.toMap
    assert(got(1L) == ((1L, 1.5)))
    assert(got(2L) == ((2L, 3.75)))
    assert(got(3L) == ((2L, 6.25))) // event 1 aged out
    assert(got(4L) == ((1L, 10.0))) // other user unaffected
  }

  test("funnel: strict ordering, broken chains stop, non-starters absent") {
    def t(sec: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime + sec * 1000L)
    val ev = Seq(
      (1L, 1L, t(1), "view"), (2L, 1L, t(2), "click"), (3L, 1L, t(3), "purchase"),
      // user 2: purchase BEFORE the view → chain stops at click
      (4L, 2L, t(4), "purchase"), (5L, 2L, t(5), "view"), (6L, 2L, t(6), "click"),
      // user 3 never views → no funnel row at all
      (7L, 3L, t(7), "click"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventOps.funnel(ev, Seq("view", "click", "purchase"))
      .select("user_id", "depth").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 2L))
  }

  test("gopher rules: repetitive and short docs fail, varied prose passes") {
    // 43 words, 43 distinct (dup frac 0, every bigram unique), 3 stop hits
    val good = "the " + (1 to 40).map(i => s"word$i").mkString(" ") + " of and"
    val spam = Seq.fill(60)("spam").mkString(" ")
    val short = "the tiny of doc"
    val df = Seq((1L, good), (2L, spam), (3L, short), (4L, "a b a b a b"))
      .toDF("doc_id", "text")
    val rows = TextAnalysis.gopherQuality(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Boolean]("keep"))
    assert(!rows(2L).getAs[Boolean]("keep")) // dup_word_frac ≈ 0.98
    assert(rows(2L).getAs[Double]("dup_word_frac") > 0.9)
    assert(!rows(3L).getAs[Boolean]("keep")) // under minWords
    // hand-checked mode count: bigrams of "a b a b a b" = [ab,ba,ab,ba,ab]
    // → top bigram 3 of 5
    assert(math.abs(rows(4L).getAs[Double]("top_bigram_frac") - 0.6) < 1e-9)
    assert(rows(1L).getAs[Long]("stop_hits") >= 3L)
  }

  test("semantic dedup: within-cluster near-dups drop, lowest id survives") {
    val base = Array.fill(8)(0f)
    def vec(hot: Int, v: Float) = { val a = base.clone(); a(hot) = v; a }
    val emb = Seq(
      (0L, vec(0, 1f)), (10L, vec(0, 2f)),  // same direction: cos = 1
      (20L, vec(1, 1f)),                     // orthogonal: kept
      (30L, vec(0, 1.01f)))                  // near-dup of 0 too
      .toDF("vec_id", "embedding")
    // k=1 pins every vector into one cluster: the test isolates the
    // pairwise drop rule (co-clustering of identical vectors is pinned
    // by the kmeans test above)
    val got = Dedup.semanticDedup(emb, k = 1, threshold = 0.9)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(got(0L), "lowest id in the near-dup family survives")
    assert(!got(10L) && !got(30L), "same-direction vectors drop")
    assert(got(20L), "orthogonal vector survives")
    assert(got.size == 4, "every input row is present with a keep flag")
  }

  test("pagerank: symmetric path graph — center outranks ends, mass conserved") {
    // a—b—c symmetrized: b receives from both ends every iteration
    val pairs = Seq((1L, 2L), (2L, 3L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val got = GraphOps.pageRank(edges, iters = 5)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == got(3L), "symmetric ends must tie exactly")
    assert(got(2L) > got(1L), "the center vertex dominates")
    assert(math.abs(got.values.sum - 1.0) < 1e-5, "rank mass conserved")
  }

  test("label propagation: a clique converges to its min label") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"$got")
  }

  test("triangle count: shared-edge triangles counted once each") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val edges = pairs.toDF("src", "dst")
    val got = GraphOps.triangleCount(edges).as[Long].head()
    assert(got == 2L, s"{1,2,3} and {2,3,4}: $got")
  }

  test("image header parse: real-world byte layouts, truncation-safe") {
    def bytes(hexStr: String): Array[Byte] =
      hexStr.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val fixtures = Seq(
      // the canonical 1x1 PNG header (signature + IHDR)
      (1L, bytes("89504E470D0A1A0A0000000D494844520000000100000001080600000" +
        "01F15C489")),
      // JFIF JPEG: SOI | 16-byte APP0 | DQT (skipped) | SOF2 512x256
      (2L, bytes("FFD8FFE000104A46494600010101004800480000FFDB00040000" +
        "FFC20011080100020003")),
      // GIF89a, 3x2 logical screen
      (3L, bytes("47494638396103000200F70000")),
      (4L, "not an image at all".getBytes("UTF-8")),
      (5L, bytes("89504E47"))) // truncated PNG signature
      .toDF("id", "media")
    val got = fixtures
      .select(col("id"), graft.functions.MediaFunctions.imageDims(col("media")).as("d"))
      .select(col("id"), col("d.format"), col("d.width"), col("d.height"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == ("png", 1, 1))
    assert(got(2L) == ("jpeg", 512, 256), s"JPEG SOF scan: ${got(2L)}")
    assert(got(3L) == ("gif", 3, 2))
    assert(got(4L) == null && got(5L) == null, "junk and truncation give null")
  }

  test("wav header parse: fmt/data chunks found past a LIST chunk") {
    def bytes(hexStr: String): Array[Byte] =
      hexStr.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // RIFF/WAVE | LIST chunk (6 bytes, skipped) | fmt: mono 8000 Hz
    // 16-bit | data: 32 bytes = 16 frames
    val wav = bytes("52494646" + "40000000" + "57415645" +
      "4C495354" + "06000000" + "494E464F0000" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" +
      "803E0000" + "0200" + "1000" +
      "64617461" + "20000000")
    val df = Seq((1L, wav), (2L, "junk".getBytes("UTF-8"))).toDF("id", "media")
    val got = df.select(col("id"),
        graft.functions.MediaFunctions.wavMeta(col("media")).as("m"))
      .select(col("id"), col("m.channels"), col("m.sample_rate"), col("m.n_samples"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getInt(1), r.getInt(2), r.getLong(3)))).toMap
    assert(got(1L) == ((1, 8000, 16L)), s"${got(1L)}")
    assert(got(2L) == null)
  }

  test("mp4 box scan: version-1 mvhd behind a free box, junk gives null") {
    def bytes(hexStr: String): Array[Byte] =
      hexStr.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // ftyp | moov [ free (skipped) | mvhd v1: ts=90000, dur=2^32+5 ]
    val mp4 = bytes("00000010" + "66747970" + "69736F6D" + "00000000" +
      "00000038" + "6D6F6F76" +
      "00000008" + "66726565" +
      "00000028" + "6D766864" + "01000000" +
      "0000000000000000" + "0000000000000000" +
      "00015F90" + "0000000100000005")
    val df = Seq((1L, mp4), (2L, "AAAA".getBytes("UTF-8"))).toDF("id", "media")
    val got = df.select(col("id"),
        graft.functions.MediaFunctions.mp4Meta(col("media")).as("m"))
      .select(col("id"), col("m.timescale"), col("m.duration"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((90000L, (1L << 32) + 5L)), s"${got(1L)}")
    assert(got(2L) == null)
  }

  test("centroid outliers: off-class vector scores far below its class") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(0.9f, 0.1f, 0f), 0),
      (2L, Array(0f, 0f, 1f), 0), // mislabeled: orthogonal to class 0
      (3L, Array(0f, 1f, 0f), 1),
      (4L, Array(0.1f, 0.9f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Retrieval.centroidOutliers(emb)
      .select("vec_id", "centroid_sim").as[(Long, Double)].collect().toMap
    assert(got.size == 5)
    assert(got(2L) < 0.5, s"outlier must score low, got ${got(2L)}")
    assert(got(0L) > 0.8 && got(1L) > 0.8, "inliers hug the centroid")
    assert(got(3L) > 0.9 && got(4L) > 0.9)
  }

  test("weighted sample: weight-proportional, partition-invariant") {
    val df = (1L to 1000L).map(i => (i, if (i <= 100) 100L else 1L))
      .toDF("doc_id", "n_chars")
    val got = TextAnalysis.weightedSample(df, "doc_id", col("n_chars"), k = 50)
      .select("doc_id").as[Long].collect().toSeq
    assert(got.length == 50)
    // heavy ids carry ~92% of the total mass — they must dominate
    val heavy = got.count(_ <= 100L)
    assert(heavy >= 35, s"heavy group underrepresented: $heavy of 50")
    // the draw depends only on the id, never the partitioning
    val re = TextAnalysis.weightedSample(df.repartition(7), "doc_id",
      col("n_chars"), k = 50).select("doc_id").as[Long].collect().toSeq
    assert(re == got)
  }

  test("rollup partials: shard-merge + finalize == full rollup over the union") {
    val day = 86400000L
    def ev(rows: Seq[(String, Int, Double)]) = rows.map { case (t, d, v) =>
      (t, new java.sql.Timestamp(d * day), v) }.toDF("event_type", "ts", "value")
    val a = ev(Seq(("click", 0, 1.25), ("click", 0, 2.5), ("view", 1, 0.07)))
    val b = ev(Seq(("click", 0, 3.33), ("view", 1, 10.01), ("error", 2, 5.0)))
    val whole = EventOps.rollup(a.unionByName(b)).collect().toSeq
    val merged = EventOps.finalizeRollup(EventOps.mergeRollupPartials(
      EventOps.rollupPartial(a), EventOps.rollupPartial(b))).collect().toSeq
    assert(merged == whole,
      s"incremental maintenance must reproduce the full rollup\n$merged\n$whole")
  }

  test("rolling distinct actives: window membership hand-checked") {
    val day = 86400000000L
    val ev = Seq((1L, 0L), (1L, 8L), (2L, 1L))
      .map { case (u, d) => (u, new java.sql.Timestamp(d * day / 1000)) }
      .toDF("user_id", "ts")
    val got = EventOps.rollingDistinctUsers(ev, windowDays = 7)
      .as[(Long, Long)].collect().toSeq
    // day 0: {u1}; day 1: {u1 (day 0 in window), u2}; day 8: {u1}
    assert(got == Seq((0L, 1L), (1L, 2L), (8L, 1L)))
  }

  test("minhash estimate: identical docs score 1, estimates bounded") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact copy
      (3L, "alpha beta gamma delta epsilon other"),
      (4L, "totally different words with no overlap at all"))
      .toDF("doc_id", "text")
    val est = Dedup.minhashEstimatePairs(docs)
      .as[(Long, Long, Double)].collect()
    val m = est.map { case (a, b, e) => (a, b) -> e }.toMap
    assert(m.contains((1L, 2L)), s"copies must be banded candidates: $m")
    assert(m((1L, 2L)) == 1.0, "identical signatures estimate exactly 1")
    est.foreach { case (a, b, e) =>
      assert(e >= 0.0 && e <= 1.0, s"estimate out of range: ($a,$b) $e") }
  }

  test("naive bayes: class-separable corpus classifies itself") {
    val docs = Seq(
      (1L, "en", "the cat sat on the mat with the hat"),
      (2L, "en", "the dog ran to the cat and the mat"),
      (3L, "de", "der hund lief zu der katze und der matte"),
      (4L, "de", "die katze sass auf der matte mit der"),
      (5L, "en", "the cat and the dog sat on the mat"))
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.naiveBayesLang(docs)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "en", 3L -> "de", 4L -> "de", 5L -> "en"))
  }

  test("distributed LR matches a local reference trainer and separates classes") {
    val docs = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the dog and the cat sat"),
      (3L, "de", "der hund und die katze"),
      (4L, "de", "die katze sass auf der matte"),
      (5L, "en", "the mat and the hat"),
      (6L, "de", "der hund lief zu der matte")).toDF("doc_id", "lang", "text")
    val B = 16
    val w = TextAnalysis.trainQualityLr(docs, col("lang") === "en",
      buckets = B, epochs = 8, rate = 0.5)
    // local reference: identical features/labels, plain double loops
    val labs = Map(1L -> 1.0, 2L -> 1.0, 3L -> 0.0, 4L -> 0.0, 5L -> 1.0, 6L -> 0.0)
    val ids = labs.keys.toSeq.sorted
    val feat = TextAnalysis.lrFeatures(docs, B).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2))) ++
      ids.map(d => (d, B, 1L))
    var lw = Array.fill(B + 1)(0.0)
    for (_ <- 1 to 8) {
      val errs = ids.map { d =>
        val m = feat.filter(_._1 == d).map { case (_, b, c) => lw(b) * c }.sum
        d -> (1.0 / (1.0 + math.exp(-m)) - labs(d))
      }.toMap
      val grads = Array.fill(B + 1)(0.0)
      feat.foreach { case (d, b, c) => grads(b) += errs(d) * c }
      lw = lw.zipWithIndex.map { case (v, i) => v - 0.5 * grads(i) / ids.size }
    }
    w.zip(lw).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"weight drift: $a vs $b") }
    val scores = TextAnalysis.scoreLr(docs, w)
      .as[(Long, Double)].collect().toMap
    assert(Seq(1L, 2L, 5L).map(scores).min > Seq(3L, 4L, 6L).map(scores).max,
      s"trained gate must separate the classes: $scores")
  }

  test("retention cohorts: hand-checked triangle") {
    // u1 first on day 0, active days 0/1/3; u2 + u3 first on day 1,
    // u3 returns day 2 — two events the same user-day collapse
    val day = 86400000000L
    val ev = Seq(
      (1L, 0L), (1L, 1L), (1L, 3L), (1L, 3L),
      (2L, 1L), (3L, 1L), (3L, 2L))
      .map { case (u, d) => (u, new java.sql.Timestamp(d * day / 1000)) }
      .toDF("user_id", "ts")
    val got = EventOps.retentionCohorts(ev)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 1L), (0L, 1L, 1L), (0L, 3L, 1L),
      (1L, 0L, 2L), (1L, 1L, 1L)))
  }

  test("cms sketch: estimates upper-bound exact counts and shards merge") {
    val toks = (Seq.fill(40)("alpha") ++ Seq.fill(15)("beta") ++
      Seq.fill(5)("gamma") ++ Seq("delta")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("i", "term")
    val sketch = Sketches.cmsSketch(toks, col("term"))
    val exact = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val est = Sketches.cmsEstimate(sketch, exact)
      .select("term", "cnt", "est").as[(String, Long, Long)].collect()
    assert(est.length == 4)
    est.foreach { case (t, cnt, e) =>
      assert(e >= cnt, s"$t: CMS must never underestimate ($e < $cnt)")
      assert(e <= 61, s"$t: estimate bounded by the stream size")
    }
    // mergeability: summing two shard sketches == sketching the union
    val (a, b) = (toks.filter(col("i") < 30), toks.filter(col("i") >= 30))
    val merged = Sketches.cmsSketch(a, col("term"))
      .union(Sketches.cmsSketch(b, col("term")))
      .groupBy("depth", "bucket").agg(sum("cnt").as("cnt"))
    val whole = sketch.orderBy("depth", "bucket")
      .as[(Int, Long, Long)].collect().toSeq
    assert(merged.orderBy("depth", "bucket")
      .as[(Int, Long, Long)].collect().toSeq == whole)
  }

  test("dsir: target-like raw docs outscore off-domain raw docs") {
    val docs = Seq(
      (1L, "en", "the model trains on web text data"),
      (2L, "en", "web text model data and training runs"),
      (3L, "de", "model trains web text data tokens"), // target-like raw
      (4L, "de", "zug bahn straße wurst kartoffel bier")) // off-domain raw
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.dsirWeights(docs, col("lang") === "en")
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, s) => id -> ((n, s)) }.toMap
    assert(got.keySet == Set(3L, 4L), "only raw docs are scored")
    assert(got(3L)._2 > got(4L)._2,
      "doc that looks like the target must carry higher importance")
    assert(got(3L)._1 == 6L, "token count")
  }

  test("sq8: ranking matches exact cosine on separated data; extremes reconstruct exactly") {
    val emb = (0L to 9L).map { i =>
      (i, Array.tabulate(8)(d => (math.sin(i * 8 + d) * 10).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = Retrieval.cosineKnn(emb, queryId = 3L, topK = 3)
      .select("id").as[Long].collect().toSeq
    val got = Retrieval.sq8TopK(emb, queryId = 3L, topK = 3)
      .select("id").as[Long].collect().toSeq
    assert(got == exact, "8-bit quantization preserves a separated ranking")
    // a vector sitting on every per-dim min/max reconstructs exactly:
    // its codes are exactly 0 or 255, so its self-similarity is 1
    val self = Retrieval.sq8TopK(emb, queryId = 0L, topK = 9)
    assert(self.count() == 9L)
  }

  test("ddsketch: α-relative quantile error, shard sketches merge exactly") {
    val vals = (1 to 1000).map(i => ("g", i.toDouble)).toDF("grp", "x")
    val got = Sketches.ddSketchQuantiles(vals, Seq("grp"), col("x"),
      Seq(0.5, 0.99), alpha = 0.01)
      .select("q", "est").as[(Double, Double)].collect().toMap
    // exact rank-⌈q·n⌉ quantiles of 1..1000 are 500 and 990
    assert(math.abs(got(0.5) - 500.0) / 500.0 <= 0.011, s"p50=${got(0.5)}")
    assert(math.abs(got(0.99) - 990.0) / 990.0 <= 0.011, s"p99=${got(0.99)}")
    // shard sketches merge by summing bucket counts — exactly the whole
    val lo = Sketches.ddSketch(vals.filter(col("x") <= 500), Seq("grp"), col("x"))
    val hi = Sketches.ddSketch(vals.filter(col("x") > 500), Seq("grp"), col("x"))
    val merged = lo.unionByName(hi).groupBy("grp", "bucket")
      .agg(sum("cnt").as("cnt"))
    val whole = Sketches.ddSketch(vals, Seq("grp"), col("x"))
    assert(merged.exceptAll(whole).count() == 0 &&
      whole.exceptAll(merged).count() == 0, "merge must equal whole sketch")
  }

  test("gap fill: silent days materialize as zero rows, bounds per type") {
    val ev = Seq(
      (1L, 0L, "click", 2.0),   // day 0
      (2L, 3L, "click", 3.0),   // day 3 → days 1, 2 must zero-fill
      (3L, 1L, "view", 5.0)     // single-day type → one row, no fill
    ).map { case (id, day, t, v) => (id, day * 86400000000L, t, v) }
      .toDF("event_id", "us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = EventOps.gapFillDaily(ev)
      .select("event_type", "day", "n", "day_value")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("click", 0L, 1L, 2.0), ("click", 1L, 0L, 0.0),
      ("click", 2L, 0L, 0.0), ("click", 3L, 1L, 3.0),
      ("view", 1L, 1L, 5.0)))
  }

  test("zscore anomalies: the planted outlier is flagged, uniform users are not") {
    val ev = (1L to 20L).map(i => (i, 1L, 10.0)) :+ (21L, 1L, 1000.0) :+
      (22L, 2L, 5.0) :+ (23L, 2L, 5.0) // zero-variance user → excluded
    val df = ev.toDF("event_id", "user_id", "value")
      .withColumn("ts", timestamp_micros(col("event_id") * 1000000L))
    val got = EventOps.zscoreAnomalies(df, threshold = 2.5)
      .select("event_id").as[Long].collect().toSeq
    assert(got == Seq(21L), s"only the planted outlier: $got")
  }

  test("fuzzy blocked pairs: in-block typos match, dup rows don't multiply") {
    val parts = Seq("red widget", "red widgit", "red bolt", "blue widget",
      "red widget", "red widget").toDF("p_name") // dup rows
    val got = Joins.fuzzyBlockedPairs(parts, "p_name", maxDist = 2)
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("red widget", "red widgit", 1L)),
      s"one distinct in-block pair at dist 1: $got")
    // cross-block near-match ("blue widget"/"red widget") is the
    // documented blocking recall trade — it must NOT appear above
  }

  test("containment: an embedded prefix scores 1.0 where Jaccard halves") {
    val base = "a b c d e f g h i j k l m n o p q r s t"
    val docs = Seq((1L, base), (2L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont == Seq((1L, 2L, 1.0)), s"prefix wholly contained: $cont")
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.9).count()
    assert(jac == 0, "resemblance misses the same pair at the same threshold")
  }

  test("top bigrams per lang: counts hand-checked, 1-token docs are safe") {
    val docs = Seq(
      (1L, "en", "big data big data big"),
      (2L, "en", "big data"),
      (3L, "de", "daten"), // single token — must not fabricate a bigram
      (4L, "de", "viel daten viel daten")).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.topBigramsPerLang(docs, topK = 2)
      .select("lang", "bigram", "cnt", "rank")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("de", "viel daten", 2L, 1L), ("de", "daten viel", 1L, 2L),
      ("en", "big data", 3L, 1L), ("en", "data big", 2L, 2L)), got.toString)
  }

  test("personalized pagerank: mass decays away from the source, absent elsewhere") {
    // two disconnected components: a path from the source, and a
    // far pair that must receive NO mass (plain pagerank gives every
    // vertex teleport mass — personalization must not)
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = GraphOps.personalizedPageRank(edges, source = 1L, iters = 5)
      .as[(Long, Double)].collect()
    val ranks = got.map(r => r._1 -> r._2).toMap
    assert(!ranks.contains(8L) && !ranks.contains(9L),
      s"the disconnected pair gets no relevance: $got")
    assert(ranks.keySet == Set(1L, 2L, 3L), got.mkString(";"))
    // the far end sees strictly less than the middle (the middle also
    // collects from both sides, so it may legitimately outrank the
    // source under out-degree normalization — no source-maximal claim)
    assert(ranks(3L) < ranks(2L), s"relevance thins toward the far end: $got")
    assert(ranks(1L) > ranks(3L), s"the source outranks the far end: $got")
  }

  test("bfs levels: hand-checked path distances, horizon drops the tail") {
    val path = ((1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq)
    val edges = (path ++ path.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = GraphOps.bfsLevels(edges, source = 1L, rounds = 3)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)),
      s"vertices beyond the 3-hop horizon are absent: $got")
  }

  test("clustering coefficient: clique corners score 1, hubs score low") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = GraphOps.clusteringCoefficient(edges)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got(1L) == ((2L, 1L, 1.0)), got.toString)
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 1L, t6(1.0 / 3.0))), "the bridge dilutes v3")
    assert(got(4L) == ((1L, 0L, 0.0)), "degree-1 pendant has no wedges")
  }

  test("k-core: triangle survives the peel, pendants strip; non-convergence throws") {
    def sym(pairs: (Long, Long)*) =
      (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    // triangle 1-2-3 with a pendant path 3-4-5
    val got = GraphOps.kCore(sym((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)),
      k = 2, rounds = 4)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 2L)),
      s"the triangle is the 2-core, each with in-core degree 2: $got")
    // a long path peels only two vertices per round — 2 rounds cannot
    // converge, and the operator must fail loudly rather than return a
    // non-core
    val path = sym((1L to 10L).sliding(2).map(s => (s(0), s(1))).toSeq: _*)
    intercept[IllegalArgumentException] {
      GraphOps.kCore(path, k = 2, rounds = 2)
    }
  }

  test("batched knn: every query's block equals its single-query scan") {
    val emb = (0L to 9L).map { i =>
      (i, Array.tabulate(8)(dd => (math.sin(i * 8 + dd) * 10).toFloat))
    }.toDF("vec_id", "embedding")
    val batch = Retrieval.cosineKnnBatch(emb, Seq(1L, 4L, 8L), topK = 3)
      .select("qid", "id", "score").as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    for (q <- Seq(1L, 4L, 8L)) {
      val single = Retrieval.cosineKnn(emb, q, topK = 3)
        .as[(Long, Double)].collect().toSeq
      assert(batch(q) == single, s"query $q: ${batch(q)} vs $single")
    }
  }

  test("html strip: scripts/chrome dropped, entities decoded, whitespace collapsed") {
    val html = """<html><head><title>T</title><style>p{x}</style>
      |<script>var a = "<p>not text</p>";</script></head>
      |<body><nav>home | about</nav>
      |<p>Hello &amp; welcome to &quot;the&quot; page&#39;s 1 &lt; 2 test</p>
      |<footer>legal junk</footer></body></html>""".stripMargin
    val got = Seq(html).toDF("h")
      .select(TextAnalysis.stripHtml(col("h")).as("t")).as[String].head()
    assert(got == """Hello & welcome to "the" page's 1 < 2 test""", got)
  }

  test("mutual NN: the hub's one-directional attraction is filtered out") {
    val emb = Seq(
      (1L, Array(1f, 0f)),        // a — closest: b
      (2L, Array(0.995f, 0.1f)),  // b — closest: a  → mutual pair
      (3L, Array(0.9f, -0.44f)))  // hub h — closest: a, but a prefers b
      .toDF("vec_id", "embedding")
    val got = Dedup.mutualNnPairs(emb)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L)), s"only the mutual pair survives: $got")
  }

  test("leakage-safe split: every cluster member shares one split; singletons covered") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
      .withColumn("text", lit("x"))
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster_rep") // 5 is a singleton (absent)
    val got = Dedup.leakageSafeSplit(docs, labels)
      .as[(Long, Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L), "all docs assigned")
    val clusterSplits = got.filter(_._2 == 1L).map(_._3).distinct
    assert(clusterSplits.size == 1, s"cluster {1,2,3} must share one split: $got")
    assert(got.find(_._1 == 5L).get._2 == 5L, "singleton is its own rep")
  }

  test("table profile: nulls, distincts and bounds hand-checked in one pass") {
    val df = Seq(
      (Some(3L), "b"), (Some(1L), "a"), (None, "b"), (Some(1L), "c"))
      .toDF("k", "s")
    val got = Profile.tableProfile(df, Seq("k", "s"))
      .as[(String, Long, Long, String, String)].collect().toSeq
    assert(got == Seq(
      ("k", 1L, 2L, "1", "3"),
      ("s", 0L, 3L, "a", "c")), got.toString)
  }

  test("source overlap: shared grams counted once, share against the smaller side") {
    val docs = Seq(
      (1L, "srcA", "a b c d e"),   // grams: abc bcd cde
      (2L, "srcB", "a b c x y"),   // grams: abc bcx cxy → shares {abc}
      (3L, "srcC", "q r s t u"))   // disjoint
      .toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(docs, n = 3)
      .as[(String, String, Long, Double)].collect().toSeq
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got == Seq(("srcA", "srcB", 1L, t6(1.0 / 3.0))), got.toString)
  }

  test("compression ratio: boilerplate compresses far below prose; deterministic") {
    val docs = Seq(
      (1L, ("spam ham " * 200).trim, 1800L),
      (2L, (1 to 200).map(i => s"w${i * 7919 % 1000}x$i").mkString(" "), 1800L))
      .toDF("doc_id", "text", "n_chars")
    val got = TextAnalysis.compressionRatio(docs)
      .select("doc_id", "deflate_ratio").as[(Long, Double)].collect().toMap
    assert(got(1L) < 0.05, s"pure repetition ~deflates away: ${got(1L)}")
    assert(got(2L) > 0.3, s"high-variety text resists: ${got(2L)}")
    val again = TextAnalysis.compressionRatio(docs)
      .select("doc_id", "deflate_ratio").as[(Long, Double)].collect().toMap
    assert(again == got, "deflate output length is a pure function of the bytes")
  }

  test("novelty: a verbatim repeat scores 0, first occurrences score 1") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val got = Dedup.noveltyScores(docs, n = 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 3L, 1.0), (2L, 3L, 0.0), (3L, 3L, 1.0)), got.toString)
  }

  test("token entropy: uniform tokens hit ln(k), repetition collapses to 0") {
    val docs = Seq((1L, "a b c d"), (2L, "a a a a")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs)
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, e) => id -> ((n, e)) }.toMap
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got(1L) == ((4L, t6(math.log(4.0)))), got.toString)
    assert(got(2L)._2 == 0.0, "single-token doc has zero entropy")
  }

  test("matryoshka truncation: prefix ranking flips where tail dims disagree") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),   // best FULL match
      (2L, Array(1f, 0f, 5f, 5f)))       // perfect PREFIX, divergent tail
      .toDF("vec_id", "embedding")
    val full = Retrieval.cosineKnn(emb, queryId = 0L, topK = 2)
      .select("id").as[Long].collect().toSeq
    val pre = Retrieval.cosineKnnTruncated(emb, queryId = 0L, topK = 2, dims = 2)
      .select("id").as[Long].collect().toSeq
    assert(full.head == 1L, s"full-dim ranks the true neighbor first: $full")
    assert(pre.head == 2L, s"the 2-dim prefix cannot see the tail: $pre")
  }

  test("prefix-filtered jaccard: exactly the naive all-pairs result (lossless)") {
    val fixture = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"), (3L, "a b c d e"),
      (4L, "x y z w q"), (5L, "the the a b"))
    val docs = fixture.toDF("doc_id", "text")
    val got = Dedup.prefixFilterJaccardPairs(docs, threshold = 0.6)
      .as[(Long, Long, Double)].collect().toSeq
    // naive reference computed locally over the same distinct token sets
    val sets = fixture.map { case (id, t) => id -> t.split(" ").toSet }
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = t6(sa.intersect(sb).size.toDouble / (sa ++ sb).size.toDouble)
      if j >= 0.6
    } yield (a, b, j)).sortBy(p => (p._1, p._2))
    assert(got == expected, s"got $got expected $expected")
    assert(got.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 1.0))
  }

  test("session gaps: integer µs gaps hand-checked, single-event users excluded") {
    val ev = Seq((1L, 1L, 0L), (2L, 1L, 10L), (3L, 1L, 40L), (4L, 2L, 5L))
      .toDF("event_id", "user_id", "sec")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
    val got = EventOps.sessionGaps(ev)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 30000000L, 20000000.0)),
      s"user 1: gaps 10s+30s → mean 20s; user 2 has no gap: $got")
  }

  test("winsorized stats: the planted outlier is clipped to the p95 bound") {
    val vals = ((1 to 100).map(_.toDouble) :+ 1e6).map(("g", _)).toDF("grp", "x")
    val row = Sketches.winsorizedStats(vals, Seq("grp"), col("x"),
      loQ = 0.05, hiQ = 0.95)
      .select("n", "winsorized_sum", "lo", "hi").head()
    val (n, wsum, lo, hi) = (row.getLong(0), row.getDouble(1),
      row.getDouble(2), row.getDouble(3))
    assert(n == 101)
    assert(lo >= 4.0 && lo <= 6.0, s"p05 of 1..100 ≈ 5, got $lo")
    assert(hi >= 90.0 && hi <= 101.0, s"p95 ≈ 96, got $hi")
    // the 1e6 outlier contributes only `hi`, not a million
    assert(wsum <= n * hi && wsum >= n * lo, s"clipped sum bounded: $wsum")
    assert(wsum < 7000.0, s"raw sum would be ~1005050; clipped is ~5100: $wsum")
  }

  test("random projection: deterministic, sign-exact on a unit vector") {
    val emb = Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 2f, 0f)))
      .toDF("vec_id", "embedding")
    val a = Retrieval.randomProject(emb, outDim = 4, dim = 3)
      .as[(Long, Long, Double)].collect().toSeq
    val b = Retrieval.randomProject(emb.repartition(7), outDim = 4, dim = 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(a == b, "projection is partition-invariant")
    // a one-hot vector's projection is exactly the ±1 sign of its dim
    assert(a.filter(_._1 == 0L).forall { case (_, _, p) => p == 1.0 || p == -1.0 })
    assert(a.filter(_._1 == 1L).forall { case (_, _, p) => p == 2.0 || p == -2.0 })
  }

  test("covariance matrix: hand-checked 2-d moments") {
    // vectors (1,2), (3,6), (5,10): y = 2x exactly, so cov = 2·var(x)
    val emb = Seq((0L, Array(1f, 2f)), (1L, Array(3f, 6f)), (2L, Array(5f, 10f)))
      .toDF("vec_id", "embedding")
    val got = Retrieval.covarianceMatrix(emb, dim = 2)
      .select("i", "j", "cov").as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    // population cov: E[xy] − E[x]E[y]; x: mean 3, var (4+0+4)/3
    assert(got((0L, 0L)) == t6(8.0 / 3.0))
    assert(got((0L, 1L)) == t6(16.0 / 3.0))
    assert(got((1L, 1L)) == t6(32.0 / 3.0))
  }

  test("pmi collocations: the glued pair tops the list, M counts all bigrams") {
    // "new york" always adjacent (8×); "the cat"/"cat the" common words
    // co-occurring by chance rank below it
    val glued = (1L to 8L).map(i => (i, "x", s"new york"))
    val noise = (9L to 16L).map(i => (i, "x", "the cat sat on the mat the cat"))
    val docs = (glued ++ noise).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.pmiCollocations(docs, minCount = 5, topK = 3)
      .select("rank", "bigram", "n_ab").as[(Long, String, Long)].collect().toSeq
    assert(got.head._2 == "new york" && got.head._3 == 8L, got.toString)
    // every ranked pair respects the min-count floor
    assert(got.forall(_._3 >= 5L))
  }

  test("jsd: identical halves → 0; disjoint vocabularies → ln 2") {
    def mk(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, "en", t) }.toDF("doc_id", "lang", "text")
    val same = mk(Seq((0L, "a b c"), (1L, "a b c"), (2L, "a b c"), (3L, "a b c")))
    val js0 = TextAnalysis.corpusDivergence(same, (col("doc_id") % 2).cast("int"))
      .select("jsd").as[Double].head()
    assert(js0 == 0.0, s"identical halves: $js0")
    // even docs say only "x", odd docs only "y" → maximal divergence ln 2
    val disj = mk(Seq((0L, "x x x"), (1L, "y y y"), (2L, "x x"), (3L, "y y")))
    val r = TextAnalysis.corpusDivergence(disj, (col("doc_id") % 2).cast("int"))
      .select("jsd", "jsd_bits", "n_shared").as[(Double, Double, Long)].head()
    assert(math.abs(r._1 - math.log(2.0)) < 1e-6, s"disjoint: ${r._1}")
    assert(math.abs(r._2 - 1.0) < 1e-6, "normalized form is 1 bit")
    assert(r._3 == 0L)
  }

  test("hop histogram: path graph counts one vertex per level inside the horizon") {
    // path 0-1-2-3-4-5: levels 0..4 reachable in 4 rounds, 5 is not
    val edges = (0L until 5L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    val got = GraphOps.bfsLevels(edges, source = 0L, rounds = 4)
      .groupBy("dist").agg(count(lit(1)).as("n"))
      .orderBy("dist").as[(Long, Long)].collect().toSeq
    assert(got == (0L to 4L).map(d => (d, 1L)), got.toString)
  }

  test("daily acf: a period-2 alternating series flips sign by lag parity") {
    // days 0..9 alternate 10, 30: acf(1) < 0 < acf(2), both near ±1
    val ev = (0L until 10L).map { d =>
      (d + 1, 1L, d * 86400L, if (d % 2 == 0) 10.0 else 30.0)
    }.toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("event_type", lit("click"))
    val got = EventOps.dailyAcf(ev, maxLag = 2)
      .select("lag", "n_pairs", "acf").as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 9L), (2L, 8L)), got.toString)
    assert(got(0)._3 < -0.8 && got(1)._3 > 0.7, got.toString)
  }

  test("burstiness: regular train → B = −1; gaps are per-user, not cross-user") {
    // user 1 ticks every 10 s (CV = 0 → B = −1); user 2's single event
    // adds no gap
    val ev = ((0L until 6L).map(i => (i + 1, 1L, i * 10L)) :+ (7L, 2L, 3L))
      .toDF("event_id", "user_id", "sec")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("event_type", lit("view"))
    val got = EventOps.burstiness(ev)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("view", 5L, 10.0, 0.0, -1.0)), got.toString)
  }

  test("nb calibration: bins are equal-count, high-margin bins are more accurate") {
    // 30 clean one-language docs + 10 ambiguous mixed docs
    val docs = ((1L to 15L).map(i => (i, "en", "the quick brown fox jumps")) ++
      (16L to 30L).map(i => (i, "de", "der schnelle braune fuchs springt")) ++
      (31L to 40L).map(i => (i, "en", "der the fox fuchs"))
      ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.nbCalibration(docs, bins = 4)
      .select("bin", "n", "accuracy").as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(0L, 1L, 2L, 3L), got.toString)
    assert(got.map(_._2).sum == 40L, "every doc lands in exactly one bin")
    // the top-margin bin can't be less accurate than the bottom one
    assert(got.last._3 >= got.head._3, got.toString)
  }

  test("annAutoTune: cheapest operating point meeting overlap; flagged fallback") {
    val frontier = Seq(
      (1L, 2L, 4L), (1L, 4L, 4L), (2L, 2L, 5L), (2L, 8L, 8L),
      (4L, 2L, 8L), (4L, 8L, 9L), (8L, 8L, 9L))
      .toDF("n_probe", "oversample", "overlap_at_10")
    def pick(min: Long) = Retrieval.annAutoTune(frontier, min)
      .as[(Long, Long, Long, Boolean)].head()
    // overlap ≥ 8 reachable at probes {2,4,8} → cheapest probe wins
    assert(pick(8L) == ((2L, 8L, 8L, true)))
    // probe tie at the target → smaller oversample wins
    assert(pick(4L) == ((1L, 2L, 4L, true)))
    // unreachable target → highest overlap, cheapest first, flagged
    assert(pick(10L) == ((4L, 8L, 9L, false)))
  }

  test("annAutoTuneRecall: cheapest point meeting mean recall; flagged fallback") {
    val frontier = Seq(
      (1L, 2L, 0.4), (1L, 4L, 0.55), (2L, 2L, 0.65), (2L, 4L, 0.72),
      (4L, 2L, 0.71), (4L, 4L, 0.9))
      .toDF("n_probe", "oversample", "mean_recall")
    def pick(min: Double) = Retrieval.annAutoTuneRecall(frontier, min)
      .as[(Long, Long, Double, Boolean)].head()
    // recall ≥ 0.7 reachable at probes {2,4} → the cheaper probe wins
    // even though probe 4 offers higher recall
    assert(pick(0.7) == ((2L, 4L, 0.72, true)))
    // probe tie at the target → smaller oversample wins
    assert(pick(0.6) == ((2L, 2L, 0.65, true)))
    // unreachable target → highest recall, flagged
    assert(pick(0.95) == ((4L, 4L, 0.9, false)))
  }

  test("blockingAutoTune: smallest meeting window; explicit flagged fallbacks") {
    // 12 docs: 4 exact-duplicate pairs planted among 4 unique texts —
    // larger windows monotonically gain recall and candidates
    val texts = (0 until 4).flatMap(i =>
      Seq((i * 3L, s"planted duplicate text body number $i"),
        (i * 3L + 1, s"planted duplicate text body number $i"))) ++
      (0 until 4).map(i => (100L + i, s"unique filler document $i about topic ${i * 7}"))
    val docs = texts.toDF("doc_id", "text")
    def tune(target: Double, budget: Long) =
      Dedup.blockingAutoTune(docs, Seq(1, 2, 4), target, budget)
        .select("window", "recall", "n_candidates", "met_target")
        .as[(Long, Double, Long, Boolean)].head()
    val sweep = Dedup.blockingRecallSweep(docs, Seq(1, 2, 4))
      .select("window", "recall", "n_candidates")
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    // regime 0: any reachable target under an unlimited budget picks the
    // SMALLEST window whose measured recall clears it
    val reachable = sweep.filter(_._2 >= sweep.head._2).head._2
    val r0 = tune(reachable, Long.MaxValue)
    assert(r0._4 && r0._1 == sweep.filter(_._2 >= reachable).map(_._1).min)
    // regime 1: unreachable recall → highest-recall window within budget
    val r1 = tune(2.0, Long.MaxValue)
    assert(!r1._4 && r1._2 == sweep.map(_._2).max)
    // regime 2: zero budget → cheapest (smallest) window, flagged
    val r2 = tune(0.0, 0L)
    assert(!r2._4 && r2._1 == 1L)
  }

  test("keyedPrefixSums cardinality guard fires BEFORE the driver collect") {
    // 100 distinct keys, cap 10: the guard is fused into the subtotal
    // pass (r14) — each task bounds ITS map while building it, so the
    // out-of-contract key is rejected executor-side with the named
    // reason before the driver materializes anything; the driver
    // re-checks the total after the (bounded) collect
    val rows = (1 to 100).map(i => (s"k$i", i.toDouble, 1L, 1L))
      .toDF("k", "v", "na", "nb")
    val e = intercept[Exception] {
      Stats.keyedPrefixSums(rows, maxSubtotals = 10)
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(e).contains("cap 10"), chain(e))
    // the same frame passes under a cap it fits, with exact running sums
    val ok = Stats.keyedPrefixSums(rows, maxSubtotals = 4000)
    assert(ok.count() == 100)
    assert(ok.filter(col("k") === "k7")
      .select("ca").as[Long].collect().toSeq == Seq(1L))
  }

  test("lorenz deciles: planted whale owns its bin's share; shares sum to 1") {
    // 9 customers at 10 + 1 whale at 910 → whale bin share 0.91
    val rows = ((1L to 9L).map(k => (k, 10.0)) :+ (10L, 910.0))
      .toDF("o_custkey", "o_totalprice")
    val got = Stats.lorenzDeciles(rows, "o_custkey", "o_totalprice")
      .select("bin", "n_entities", "share", "cum_share")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.size == 10 && got.head == ((0L, 1L, 0.91, 0.91)), got.toString)
    assert(got.last._4 == 1.0, "cumulative share closes at 1")
    assert(got.map(_._3).sum > 0.999999 && got.map(_._3).sum <= 1.000001)
  }

  test("assortativity: star graph is perfectly disassortative; regular graph is NULL") {
    // star: hub 0 — leaves 1..4 (deg 4 vs 1) → r = −1
    val star = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val r1 = GraphOps.degreeAssortativity(star)
      .select("assortativity").as[Option[Double]].head()
    assert(r1.contains(-1.0), r1.toString)
    // 4-cycle: every degree 2 → zero variance → NULL, not an error
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val r2 = GraphOps.degreeAssortativity(cyc)
      .select("assortativity").as[Option[Double]].head()
    assert(r2.isEmpty, r2.toString)
  }

  test("weighted quantiles: weight mass moves the median where counts wouldn't") {
    // values 1..4 weight 1, value 10 weight 100: the weighted median
    // and p75 are both 10 (cumw crosses W/2 there); p25 = 10 too at
    // 4·cumw=16 < 26? no: W=104, k=1: 4·cumw ≥ 104 first at value 10
    val rows = Seq((1.0, 1L), (2.0, 1L), (3.0, 1L), (4.0, 1L), (10.0, 100L))
      .zipWithIndex.map { case ((v, w), i) => ("A", v, w, i.toLong, 0L) }
      .toDF("l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber")
    val got = Stats.weightedQuantiles(rows, "l_returnflag",
      "l_extendedprice", "l_quantity")
      .select("q", "w_total", "value").as[(Double, Long, Double)].collect().toSeq
    assert(got == Seq((0.25, 104L, 10.0), (0.5, 104L, 10.0), (0.75, 104L, 10.0)),
      got.toString)
    // uniform weights reduce to the plain lower quartiles
    val unif = (1 to 8).map(i => ("B", i.toDouble, 1L, i.toLong, 0L))
      .toDF("l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber")
    val g2 = Stats.weightedQuantiles(unif, "l_returnflag",
      "l_extendedprice", "l_quantity")
      .select("q", "value").as[(Double, Double)].collect().toSeq
    assert(g2 == Seq((0.25, 2.0), (0.5, 4.0), (0.75, 6.0)), g2.toString)
  }

  test("mutual information: independent columns → 0, determined columns → H") {
    // x = y exactly: MI = H(x) = ln 2 for a 50/50 split; NMI = 1
    val dep = ((1 to 8).map(_ => (1L, "a")) ++ (1 to 8).map(_ => (2L, "b")))
      .toDF("x", "y")
    val d1 = Stats.mutualInformation(dep, "x", "y")
      .select("mi", "nmi").as[(Double, Double)].head()
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(d1._1 == t6(math.log(2.0)), d1.toString)
    // sqrt(h·h) can land 1 ulp off h → NMI is 1.0 up to the trunc6 grid
    assert(d1._2 >= 0.999999 && d1._2 <= 1.000001, d1.toString)
    // independent: all four cells equal → MI = 0
    val ind = (for { x <- 1 to 2; y <- Seq("a", "b"); _ <- 1 to 4 } yield (x.toLong, y))
      .toDF("x", "y")
    val d2 = Stats.mutualInformation(ind, "x", "y")
      .select("mi").as[Double].head()
    assert(math.abs(d2) < 1e-9, s"independent MI: $d2")
  }

  test("session paths: ordered steps, cap truncates, top path wins") {
    val ev = Seq(
      (1L, 1L, 0L, "view"), (2L, 1L, 10L, "click"),
      (3L, 2L, 0L, "view"), (4L, 2L, 10L, "click"),
      (5L, 3L, 0L, "error")) // singleton path
      .toDF("event_id", "user_id", "sec", "event_type")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
    val got = EventOps.sessionPaths(ev, 3600L)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "view>click", 2L), (2L, "error", 1L)), got.toString)
  }

  test("cusum: the planted level shift is found on the shift day") {
    // 10 days at 10/day then 10 days at 100/day → |CUSUM| peaks at the
    // last low day (epoch day 9)
    val ev = (0L until 20L).map { d =>
      (d + 1, 1L, d * 86400L, if (d < 10) 10.0 else 100.0)
    }.toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("event_type", lit("click"))
    val got = EventOps.cusumChangepoint(ev)
      .as[(String, Long, Long, Double)].head()
    // deviation from mean 55: -45/day for 10 days → peak |S| = 450
    assert(got == (("click", 20L, 9L, 450.0)), got.toString)
  }

  test("auc: perfect separation → 1, all-tied scores → 0.5 by midranks") {
    val perfect = ((1 to 10).map(i => (i.toDouble, "5-LOW")) ++
      (11 to 20).map(i => (i.toDouble, "1-URGENT")))
      .toDF("o_totalprice", "o_orderpriority")
    val a1 = Stats.aucRankSum(perfect, "o_totalprice",
      col("o_orderpriority") === "1-URGENT").select("auc").as[Double].head()
    assert(a1 == 1.0, s"perfect ranker: $a1")
    val tied = ((1 to 10).map(_ => (5.0, "5-LOW")) ++
      (1 to 10).map(_ => (5.0, "1-URGENT")))
      .toDF("o_totalprice", "o_orderpriority")
    val a2 = Stats.aucRankSum(tied, "o_totalprice",
      col("o_orderpriority") === "1-URGENT").select("auc").as[Double].head()
    assert(a2 == 0.5, s"uninformative ranker: $a2")
  }

  test("dow seasonality: the hot weekday's index rises above 1, flat stays 1") {
    // same weekday (epoch day 0 and 7 → dow 0) carries 30s, others 10s
    val ev = Seq((1L, 0L, 30.0), (2L, 7L * 86400L, 30.0),
      (3L, 86400L, 10.0), (4L, 2L * 86400L, 10.0))
      .map { case (id, sec, v) => (id, 1L, sec, v) }
      .toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("event_type", lit("view"))
    val got = EventOps.dowSeasonality(ev)
      .select("dow", "n", "mean_value", "seasonal_index")
      .as[(Long, Long, Double, Double)].collect().toSeq
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got == Seq((0L, 2L, 30.0, t6(30.0 / 20.0)),
      (1L, 1L, 10.0, t6(10.0 / 20.0)), (2L, 1L, 10.0, t6(10.0 / 20.0))),
      got.toString)
  }

  test("funnel latency: hand-checked medians; broken chains don't contribute") {
    // user 1: view@0, click@10, purchase@30 → lats 10 s, 20 s
    // user 2: view@0, click@50 (no purchase) → only view->click (50 s)
    // user 3: click@5 only — never converted, contributes nothing
    val ev = Seq(
      (1L, 1L, 0L, "view"), (2L, 1L, 10L, "click"), (3L, 1L, 30L, "purchase"),
      (4L, 2L, 0L, "view"), (5L, 2L, 50L, "click"),
      (6L, 3L, 5L, "click"))
      .toDF("event_id", "user_id", "sec", "event_type")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
    val got = EventOps.funnelLatency(ev, Seq("view", "click", "purchase"))
      .as[(String, Long, Double, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("click->purchase", 1L, 2.0e7, 20000000L, 20000000L),
      ("view->click", 2L, 3.0e7, 10000000L, 50000000L)), got.toString)
  }

  test("next-token: conditional mass is per-context, hottest context ranks first") {
    val docs = Seq(
      (1L, "en", "to be or not to be"),
      (2L, "en", "to be is to do"),
      (3L, "en", "do be do be do")).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.nextTokenDistribution(docs, topContexts = 2, topNext = 2)
      .select("crank", "ctx", "rank", "nxt", "p")
      .as[(Long, String, Long, String, Double)].collect().toSeq
    // contexts by bigram starts: be(4: or,is,do×2), to(4: be×3,do) —
    // tie broken alphabetically → crank 1 = be, 2 = to
    assert(got == Seq(
      (1L, "be", 1L, "do", 0.5), (1L, "be", 2L, "is", 0.25),
      (2L, "to", 1L, "be", 0.75), (2L, "to", 2L, "do", 0.25)),
      got.toString)
  }

  test("poisson bootstrap: constant data collapses the CI; weights resample ~n rows") {
    val const = (1L to 200L).map(i => (i, 7.0)).toDF("o_orderkey", "o_totalprice")
    val r = Stats.poissonBootstrap(const, "o_totalprice", "o_orderkey")
      .as[(Long, Long, Double, Double, Double)].head()
    // every replicate mean of constant data is the constant
    assert(r == ((200L, 32L, 7.0, 7.0, 7.0)), r.toString)
    // varied data: the 90% interval brackets the point mean
    val varied = (1L to 500L).map(i => (i, i.toDouble)).toDF("o_orderkey", "o_totalprice")
    val v = Stats.poissonBootstrap(varied, "o_totalprice", "o_orderkey")
      .as[(Long, Long, Double, Double, Double)].head()
    assert(v._4 < v._3 && v._3 < v._5, s"p05 ${v._4} < mean ${v._3} < p95 ${v._5}")
  }

  test("ks test: identical samples D=0; disjoint samples D=1 and reject") {
    val same = ((1 to 50).map(i => (i.toDouble, "1-URGENT")) ++
      (1 to 50).map(i => (i.toDouble, "5-LOW")))
      .toDF("o_totalprice", "o_orderpriority")
    val s0 = Stats.ksTest(same, "o_totalprice",
      col("o_orderpriority") === "1-URGENT", SparkEntry.KsC05)
      .select("d_stat", "reject").as[(Double, Boolean)].head()
    assert(s0 == ((0.0, false)), s0.toString)
    val shifted = ((1 to 50).map(i => (i.toDouble, "1-URGENT")) ++
      (1 to 50).map(i => (i + 1000.0, "5-LOW")))
      .toDF("o_totalprice", "o_orderpriority")
    val s1 = Stats.ksTest(shifted, "o_totalprice",
      col("o_orderpriority") === "1-URGENT", SparkEntry.KsC05)
      .select("d_stat", "reject").as[(Double, Boolean)].head()
    assert(s1 == ((1.0, true)), s1.toString)
  }

  test("association rules: glued pair lifts to 2, ubiquitous item lifts to 1") {
    // baskets 1-4: {1,2,3}; baskets 5-8: {4,3} — item 3 everywhere
    val rows = (1L to 4L).flatMap(b => Seq((b, 1L), (b, 2L), (b, 3L))) ++
      (5L to 8L).flatMap(b => Seq((b, 4L), (b, 3L)))
    val got = Stats.associationRules(rows.toDF("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey", minPairs = 3, topK = 20)
      .select("antecedent", "consequent", "confidence", "lift")
      .as[(Long, Long, Double, Double)].collect().toSeq
    val byRule = got.map(r => (r._1, r._2) -> r).toMap
    assert(byRule((1L, 2L))._4 == 2.0 && byRule((1L, 2L))._3 == 1.0)
    assert(byRule((1L, 3L))._4 == 1.0 && byRule((1L, 3L))._3 == 1.0)
    // 3→1 confidence is 4/8 (item 3 in all baskets), lift symmetric
    assert(byRule((3L, 1L))._3 == 0.5 && byRule((3L, 1L))._4 == 1.0)
    // ranking is lift-first: the glued pair's rules top the list
    assert(got.take(2).map(r => Set(r._1, r._2)).forall(_ == Set(1L, 2L)))
  }

  test("attribution: first touch sticks, last touch moves, no history → (none)") {
    // user 1: click, view, purchase, error, purchase; user 2: bare purchase
    val ev = Seq(
      (1L, 1L, 0L, "click"), (2L, 1L, 10L, "view"), (3L, 1L, 20L, "purchase"),
      (4L, 1L, 30L, "error"), (5L, 1L, 40L, "purchase"),
      (6L, 2L, 0L, "purchase"))
      .toDF("event_id", "user_id", "sec", "event_type")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
    val got = EventOps.attribution(ev)
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(
      ("first", "(none)", 1L), ("first", "click", 2L),
      ("last", "(none)", 1L), ("last", "error", 1L), ("last", "view", 1L)),
      got.toString)
  }

  test("session concurrency: overlapping sessions stack, gap splits count as starts") {
    // 3 users whose single sessions overlap in [100, 200]; user 4's two
    // events 2 h apart are two sessions on a later day
    val day = 86400L
    val ev = Seq(
      (1L, 1L, 0L), (2L, 1L, 200L),
      (3L, 2L, 100L), (4L, 2L, 300L),
      (5L, 3L, 150L), (6L, 3L, 180L),
      (7L, 4L, day), (8L, 4L, day + 7200L))
      .toDF("event_id", "user_id", "sec")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
    val got = EventOps.sessionConcurrency(ev, 3600L)
      .as[(Long, Long, Long)].collect().toSeq
    // day 0: all three overlap at t=150..180 → max 3; day 1: two
    // single-event sessions (start==end), never concurrent
    assert(got == Seq((0L, 3L, 3L), (1L, 1L, 2L)), got.toString)
  }

  test("mad outliers: the planted spike is flagged; median/MAD stay unmoved") {
    // 11 values at 10±2 plus one at 1000: median 10, MAD 2 — the spike's
    // modified z is huge while the inliers stay under the 3.5 cut
    val rows = Seq(8.0, 8.0, 8.0, 10.0, 10.0, 10.0, 10.0, 10.0, 12.0, 12.0, 12.0, 1000.0)
      .zipWithIndex.map { case (v, i) => ("A", v, i.toLong, 0L) }
    val got = Profile.madOutliers(
      rows.toDF("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"),
      "l_returnflag", "l_extendedprice")
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(got == Seq(("A", 12L, 10.0, 2.0, 1L)), got.toString)
  }

  test("fightin words: the group-exclusive term wins its group, shared words don't") {
    // "de" docs own "zug"; "en" docs own "train"; "station" is shared
    val docs = (
      (1L to 6L).map(i => (i, "de", "zug station station")) ++
        (7L to 12L).map(i => (i, "en", "train station station"))
      ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.fightinWords(docs, "lang", topK = 1)
      .select("grp", "term", "z").as[(String, String, Double)].collect().toSeq
    assert(got.map(r => r._1 -> r._2).toMap == Map("de" -> "zug", "en" -> "train"),
      got.toString)
    assert(got.forall(_._3 > 0.0), "own-group terms score positive log-odds")
  }

  test("spearman: monotone map → 1, reversal → -1, ties handled by midranks") {
    val up = (1 to 40).map(i => (i.toDouble, (i * i).toDouble))
      .toDF("l_quantity", "l_extendedprice")
    val r1 = Stats.spearman(up, "l_quantity", "l_extendedprice")
      .select("rho").as[Double].head()
    assert(r1 == 1.0, s"monotone: $r1")
    val down = (1 to 40).map(i => (i.toDouble, (41 - i).toDouble))
      .toDF("l_quantity", "l_extendedprice")
    val r2 = Stats.spearman(down, "l_quantity", "l_extendedprice")
      .select("rho").as[Double].head()
    assert(r2 == -1.0, s"reversed: $r2")
    // all-tied y: rho is 0/0 → NaN guarded upstream by callers; here
    // assert ties on BOTH sides still give exactly 1 (identical ranks)
    val tied = Seq((1.0, 1.0), (1.0, 1.0), (2.0, 2.0), (2.0, 2.0))
      .toDF("l_quantity", "l_extendedprice")
    val r3 = Stats.spearman(tied, "l_quantity", "l_extendedprice")
      .select("rho").as[Double].head()
    assert(r3 == 1.0, s"tied pairs: $r3")
  }

  test("chi-square: independent table → 0; deterministic association is large") {
    // perfectly independent 2×2: every cell = 25
    val ind = (1 to 25).flatMap(_ => Seq(("a", 0L), ("a", 1L), ("b", 0L), ("b", 1L)))
      .toDF("x", "y")
    val c0 = Stats.chiSquareIndependence(ind, "x", "y")
      .select("chi2", "dof", "cramers_v").as[(Double, Long, Double)].head()
    assert(c0 == ((0.0, 1L, 0.0)), c0.toString)
    // deterministic x→y: chi2 = n, V = 1
    val dep = (1 to 30).map(i => (if (i % 2 == 0) "a" else "b",
      if (i % 2 == 0) 0L else 1L)).toDF("x", "y")
    val c1 = Stats.chiSquareIndependence(dep, "x", "y")
      .select("chi2", "cramers_v").as[(Double, Double)].head()
    assert(c1._1 == 30.0 && c1._2 == 1.0, c1.toString)
  }

  test("welch t: equal groups → t=0; separated groups sign and df sane") {
    val same = (1 to 20).map(i => (i.toDouble, if (i <= 10) "error" else "click"))
      .map { case (v, t) => (v, t, (v + 10 * (if (t == "error") 0 else -1)).toDouble) }
      .map { case (_, t, v) => (t, v) }.toDF("event_type", "value")
    val t0 = Stats.welchTTest(same, "value", col("event_type") === "error")
      .select("t").as[Double].head()
    assert(t0 == 0.0, s"identical groups: $t0")
    val apart = ((1 to 10).map(i => ("error", 100.0 + i)) ++
      (1 to 10).map(i => ("click", i.toDouble))).toDF("event_type", "value")
    val r = Stats.welchTTest(apart, "value", col("event_type") === "error")
      .select("t", "df", "mean_a", "mean_b").as[(Double, Double, Double, Double)].head()
    assert(r._1 > 10.0 && r._2 > 2.0 && r._3 > r._4, r.toString)
  }

  test("bh fdr: the planted shifted segment rejects, null segments don't") {
    // 4 segments: seg "s0" weekend values shifted by +50, others null
    val rows = (0 until 4).flatMap { g =>
      (1 to 60).map { i =>
        val weekend = i % 7 < 2
        val base = 10.0 + (i % 5)
        val v = if (g == 0 && weekend) base + 50.0 else base
        (s"s$g", if (weekend) 2L else 0L, v)
      }
    }.toDF("event_type", "dow", "value")
    val got = Stats.bhFdr(rows, "event_type", "value",
      col("dow") === 2 || col("dow") === 3)
      .select("event_type", "rank", "reject").as[(String, Long, Boolean)]
      .collect().toSeq
    assert(got.head == (("s0", 1L, true)), got.toString)
    assert(got.tail.forall(!_._3), s"null segments must not reject: $got")
  }

  test("kaplan-meier: no censoring → empirical survival; censored rows only thin risk") {
    // 10 subjects die at t=1..10, none censored: S(t) = (10-t)/10
    val ev = (1 to 10).map(t => (t.toLong, true)).toDF("dur", "obs")
    val got = Stats.kaplanMeier(ev, "dur", "obs")
      .select("t", "n_risk", "survival").as[(Long, Long, Double)].collect().toSeq
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    got.foreach { case (t, nr, s) =>
      assert(nr == 11 - t, s"risk set at $t")
      // the 12-decimal ln grid can land an ulp under the ideal value;
      // floor-truncation then shows it one grid step low — that is the
      // documented convention, so compare within one 1e-6 step
      assert(math.abs(s - t6((10.0 - t) / 10.0)) <= 1e-6 + 1e-12, s"S($t) = $s")
    }
    // terminal row: survival exactly 0, ln NULL-safe
    assert(got.last == ((10L, 1L, 0.0)), got.last.toString)
    // censored-only data → no event rows at all
    val cens = (1 to 5).map(t => (t.toLong, false)).toDF("dur", "obs")
    assert(Stats.kaplanMeier(cens, "dur", "obs").count() == 0L)
  }

  test("adamic-adar: shared-neighbor pair is predicted, adjacent pairs excluded") {
    // path graph 1-3-2 plus hub 4 linked to 1,2,3: candidates are the
    // non-edges; (1,2) shares neighbors {3,4}, both of degree 3 →
    // AA = 2/ln3
    val und = Seq((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = GraphOps.adamicAdar(edges)
      .select("rank", "u", "v", "n_common", "aa")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got.head == ((1L, 1L, 2L, 2L,
      t6(1.0 / math.log(3.0) + 1.0 / math.log(3.0)))), got.head.toString)
    // every returned pair is a non-edge
    val undSet = und.toSet
    assert(got.forall { case (_, u, v, _, _) =>
      !undSet.contains((u, v)) && !undSet.contains((v, u)) })
  }

  test("hits: bipartite star — the broad buyer out-hubs, the shared item out-auths") {
    // buyers 1,2,3 → items 10,11; buyer 1 also → 12; item 10 bought by all
    val e = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (2L, 11L), (1L, 12L))
      .toDF("src", "dst")
    val got = GraphOps.hits(e).as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // hubs: buyer 1 (3 items) > buyer 2 (2) > buyer 3 (1)
    assert(got(1L)._1 > got(2L)._1 && got(2L)._1 > got(3L)._1, got.toString)
    // authorities: item 10 (3 buyers incl. best hub) tops 11 tops 12
    assert(got(10L)._2 > got(11L)._2 && got(11L)._2 > got(12L)._2, got.toString)
    // buyers have no authority, items no hub; L1 scale: scores in (0,1]
    assert(got(1L)._2 == 0.0 && got(10L)._1 == 0.0)
    assert(got.values.forall { case (h, a) => h <= 1.0 && a <= 1.0 })
  }

  test("textrank: the bridging content word outranks leaf words; stopwords never appear") {
    // "core" is adjacent to every other content word at least twice
    val docs = (1L to 4L).map(i =>
      (i, "en", s"core alpha the core beta core gamma")).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.textRank(docs)
      .select("pos", "term").as[(Long, String)].collect().toSeq
    assert(got.head._2 == "core", got.toString)
    assert(!got.map(_._2).contains("the"), "stopwords must be filtered")
  }

  test("mmr rerank: first pick is the top cosine; later picks trade off redundancy") {
    // query 0 at e1; 1,2 near-duplicates on e1; 3 off-axis but relevant
    def vec(x: Double, y: Double) = Array.fill(2)(0.0f).zipWithIndex
      .map { case (_, i) => if (i == 0) x.toFloat else y.toFloat }
    val rows = Seq(
      (0L, vec(1.0, 0.0), "q"), (1L, vec(0.99, 0.1), "a"),
      (2L, vec(0.98, 0.12), "a"), (3L, vec(0.6, 0.8), "b"))
      .toDF("vec_id", "embedding", "label")
    // diversity-heavy λ: the redundancy penalty must outweigh the
    // near-dup's raw-cosine edge (at λ=0.7 relevance legitimately wins
    // in this 2-D geometry — both behaviors are the operator's contract)
    val got = Retrieval.mmrRerank(rows, queryId = 0L, poolK = 3, selectK = 3,
      lambda = 0.3, lambdaComp = 0.7)
      .select("rank", "id").as[(Long, Long)].collect().toSeq
    assert(got.map(_._2).head == 1L, s"first pick = top cosine: $got")
    // the diverse vector 3 must be picked before the near-dup 2
    val order = got.map(_._2)
    assert(order.indexOf(3L) < order.indexOf(2L),
      s"diversity must beat redundancy: $order")
  }

  test("seasonal decompose: pure weekly signal lands in seasonal, flat trend, zero residual") {
    // 28 days, value depends only on weekday: 10 + dow
    val ev = (0 until 28).map { d =>
      (d.toLong, 1L, d.toLong * 86400L, 10.0 + (d % 7))
    }.toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("event_type", lit("view"))
    val got = EventOps.seasonalDecompose(ev)
      .select("trend", "seasonal", "residual", "dow", "value")
      .as[(Double, Double, Double, Long, Double)].collect().toSeq
    // MA(7) of a weekly-periodic series is the constant 13; residual 0
    assert(got.forall(r => math.abs(r._1 - 13.0) < 1e-5), got.take(3).toString)
    assert(got.forall(r => math.abs(r._3) < 1e-5), "residual must vanish")
    assert(got.forall(r => math.abs(r._2 - (r._5 - 13.0)) < 1e-5),
      "seasonal carries the weekday offset")
  }

  test("mann-kendall: strictly rising series flags increasing, constant stays flat") {
    val rising = (1 to 30).map(t => ("a", t.toLong, t.toLong * 100000000L))
    val flat = (1 to 30).map(t => ("b", t.toLong, 500000000L))
    val got = Stats.mannKendall((rising ++ flat).toDF("k", "day", "t8"),
      "k", "day", "t8", zCrit = 1.959964)
      .select("k", "s", "trend").as[(String, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("a") == ((435L, "increasing")), got.toString) // C(30,2) all +1
    assert(got("b") == ((0L, "no trend")), got.toString)
  }

  test("theil-sen: exact slope on a line; outlier-resistant on a contaminated line") {
    val line = (1 to 20).map(t => ("a", t.toLong, t.toLong * 200000000L)) // slope 2
    val noisy = (1 to 20).map(t => ("b", t.toLong,
      if (t == 10) 99900000000L else t.toLong * 200000000L))
    val got = Stats.theilSen((line ++ noisy).toDF("k", "day", "t8"),
      "k", "day", "t8")
      .select("k", "median_slope").as[(String, Double)].collect().toMap
    assert(got("a") == 2.0, got.toString)
    assert(math.abs(got("b") - 2.0) < 0.1, s"robust to the spike: ${got("b")}")
  }

  test("item cosine: always-together pair scores 1, partial overlap scores n/sqrt product") {
    // items 1,2 co-occur in all 4 baskets; item 3 joins 2 of them
    val rows = (1L to 4L).flatMap(b => Seq((b, 1L), (b, 2L))) ++
      Seq((1L, 3L), (2L, 3L))
    val got = Stats.itemCosine(rows.toDF("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey")
      .select("ia", "ib", "sim").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got((1L, 2L)) == 1.0, got.toString)
    assert(got((1L, 3L)) == t6(2.0 / math.sqrt(4.0 * 2.0)), got.toString)
  }

  test("recommendations: the co-purchase neighbor is suggested, held items never are") {
    // users 1,2 buy {10,11}; user 3 buys only 10 → recommend 11 to 3
    val rows = Seq((1L, 101L, 10L), (1L, 101L, 11L), (2L, 102L, 10L),
      (2L, 102L, 11L), (3L, 103L, 10L))
    val got = Stats.recommendItems(
      rows.toDF("o_custkey", "o_orderkey", "l_partkey"),
      "o_custkey", "o_orderkey", "l_partkey")
      .select("user", "item").as[(Long, Long)].collect().toSeq
    assert(got.contains((3L, 11L)), got.toString)
    // users 1 and 2 hold everything in the sim graph → nothing to suggest
    assert(got.forall(_._1 == 3L), s"held items must be excluded: $got")
  }

  test("forecast backtest: perfectly periodic series has zero seasonal-naive error") {
    val series = (1 to 28).map(t => ("a", t.toLong, ((t % 7) + 1L) * 100000000L))
    val got = Stats.forecastBacktest(series.toDF("k", "day", "t8"),
      "k", "day", "t8")
      .select("mae", "smape", "mase").as[(Double, Double, Double)].head()
    assert(got == ((0.0, 0.0, 0.0)), got.toString)
    // trending series: seasonal-naive lags by 7·slope → MAE = 7, MASE = 7
    val trend = (1 to 28).map(t => ("b", t.toLong, t.toLong * 100000000L))
    val g2 = Stats.forecastBacktest(trend.toDF("k", "day", "t8"),
      "k", "day", "t8").select("mae", "mase").as[(Double, Double)].head()
    assert(g2 == ((7.0, 7.0)), g2.toString)
  }

  test("nelson-aalen: uncensored deaths accumulate sum of d/n exactly") {
    val ev = (1 to 4).map(t => (t.toLong, true)).toDF("dur", "obs")
    val got = Stats.nelsonAalen(ev, "dur", "obs")
      .select("t", "n_risk", "cum_hazard").as[(Long, Long, Double)]
      .collect().toSeq
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    // H = 1/4, 1/4+1/3, +1/2, +1/1 on the 1e-12 grid then trunc6
    def g(x: Double) = math.rint(x * 1e12) / 1e12
    val h = Seq(1.0 / 4, 1.0 / 3, 1.0 / 2, 1.0).map(g).scanLeft(0.0)(_ + _).tail
    got.zip(h).foreach { case ((t, nr, ch), expect) =>
      assert(nr == 5 - t && math.abs(ch - t6(expect)) < 2e-6, s"$t: $ch vs $expect")
    }
  }

  test("psi: identical populations ≈ 0; a shifted current population moves mass") {
    // ref and cur drawn identically → only smoothing noise near zero
    val same = (1 to 200).map(i => (true, (i % 40).toDouble)) ++
      (1 to 200).map(i => (false, (i % 40).toDouble))
    val p0 = Stats.psi(same.toDF("is_ref", "value"), "value", col("is_ref"))
      .select("psi").as[Double].head()
    assert(math.abs(p0) < 0.01, s"no drift: $p0")
    // current shifted far right → large PSI
    val drift = (1 to 200).map(i => (true, (i % 40).toDouble)) ++
      (1 to 200).map(i => (false, (i % 40) + 100.0))
    val p1 = Stats.psi(drift.toDF("is_ref", "value"), "value", col("is_ref"))
      .select("psi").as[Double].head()
    assert(p1 > 1.0, s"hard drift must dominate: $p1")
  }

  test("ols diagnostics: perfect line gives r2=1 and zero residual error") {
    val rows = (1 to 30).map(i => ("A", i.toDouble, 3.0 * i + 2.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    val got = Stats.olsDiagnostics(rows, "l_returnflag",
      "l_quantity", "l_extendedprice")
      .select("slope", "intercept", "r2", "resid_se")
      .as[(Double, Double, Double, Double)].head()
    assert(got._1 == 3.0 && got._2 == 2.0, got.toString)
    assert(math.abs(got._3 - 1.0) < 1e-5 && got._4 < 1e-3, got.toString)
  }

  test("information gain: the label-determining feature maxes out, noise scores 0") {
    val rows = (1 to 40).map { i =>
      val y = i % 2L
      Seq(("tell", if (y == 1) "hi" else "lo", y), ("noise", "x", y))
    }.flatten.toDF("f", "v", "y")
    val got = Stats.informationGain(rows, "f", "v", "y")
      .select("feature", "info_gain").as[(String, Double)].collect().toMap
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got("tell") == t6(math.log(2.0)), s"full bit: ${got("tell")}")
    assert(got("noise") == 0.0, s"constant feature: ${got("noise")}")
  }

  test("frequent triples: the planted trio tops the count, sub-support trios vanish") {
    // baskets 1-3 share {1,2,3}; basket 4 has {4,5,6} only once
    val rows = (1L to 3L).flatMap(b => Seq((b, 1L), (b, 2L), (b, 3L))) ++
      Seq((4L, 4L), (4L, 5L), (4L, 6L))
    val got = Stats.frequentTriples(rows.toDF("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey")
      .select("a", "b", "c", "n_baskets").as[(Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq((1L, 2L, 3L, 3L)), got.toString)
  }

  test("two-proportion z: equal rates are insignificant, a planted lift is") {
    val same = (1 to 100).map(i => (i % 2 == 0, i % 5 == 0))
    val s0 = Stats.twoProportionZ(same.toDF("is_a", "ok"),
      col("is_a"), col("ok"), zCrit = 1.959964)
      .select("z", "significant").as[(Double, Boolean)].head()
    assert(s0 == ((0.0, false)), s0.toString)
    val lift = (1 to 200).map(i => (i % 2 == 0, if (i % 2 == 0) i % 2 == 0 else i % 50 == 0))
    val s1 = Stats.twoProportionZ(lift.toDF("is_a", "ok"),
      col("is_a"), col("ok"), zCrit = 1.959964)
      .select("p1", "p2", "significant").as[(Double, Double, Boolean)].head()
    assert(s1._1 > s1._2 && s1._3, s1.toString)
  }

  test("seasonal anomalies: the planted off-pattern day flags, clean weeks don't") {
    // weekly pattern 10+dow, except day 17 spikes by +500
    val ev = (0 until 28).map { d =>
      (d.toLong, 1L, d.toLong * 86400L,
        10.0 + (d % 7) + (if (d == 17) 500.0 else 0.0))
    }.toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("event_type", lit("view"))
    val got = EventOps.seasonalAnomalies(ev)
      .select("day", "is_anomaly").as[(Long, Boolean)].collect().toSeq
    val flagged = got.filter(_._2).map(_._1)
    assert(flagged.contains(17L), s"spike day must flag: $flagged")
    assert(flagged.size <= 3, s"clean days mostly stay quiet: $flagged")
  }

  test("anova f: identical group means → F≈0; one shifted group → big F") {
    val same = (1 to 30).map(i => (s"g${i % 3}", (i % 10).toDouble))
      .toDF("event_type", "value")
    val f0 = Stats.anovaF(same, "value", "event_type")
      .select("f").as[Double].head()
    assert(f0 < 0.5, s"balanced groups should have small F: $f0")
    val apart = (1 to 30).map(i =>
      (s"g${i % 3}", (i % 10).toDouble + (if (i % 3 == 0) 100.0 else 0.0)))
      .toDF("event_type", "value")
    val r = Stats.anovaF(apart, "value", "event_type")
      .select("f", "df1", "df2", "ss_between").as[(Double, Long, Long, Double)].head()
    assert(r._1 > 100.0 && r._2 == 2L && r._3 == 27L && r._4 > 0.0, r.toString)
  }

  test("kruskal-wallis: shifted group rejects, permuted labels don't") {
    val apart = (1 to 60).map(i =>
      (s"g${i % 3}", (i % 20).toDouble + (if (i % 3 == 0) 1000.0 else 0.0)))
      .toDF("event_type", "value")
    val r = Stats.kruskalWallis(apart, "value", "event_type",
      hCrit = 5.991464547107979) // χ²₀.₀₅ df=2
    val (h, rej) = r.select("h_tie_corrected", "reject").as[(Double, Boolean)].head()
    assert(rej && h > 5.99, s"shifted group must reject: h=$h")
    val flat = (1 to 60).map(i => (s"g${i % 3}", (i % 5).toDouble))
      .toDF("event_type", "value")
    val rej0 = Stats.kruskalWallis(flat, "value", "event_type",
      hCrit = 5.991464547107979).select("reject").as[Boolean].head()
    assert(!rej0, "round-robin labels over a cyclic value can't reject")
  }

  test("kendall tau: monotone pair → 1, reversed → -1, ties shrink |tau|") {
    val up = (1 to 10).map(i => (i.toLong, i.toLong, (i * 2).toLong))
      .toDF("day", "x", "y")
    val t1 = Stats.kendallTau(up, "day", "x", "y").select("tau_b").as[Double].head()
    assert(t1 == 1.0, s"perfect concordance: $t1")
    val down = (1 to 10).map(i => (i.toLong, i.toLong, (100 - i).toLong))
      .toDF("day", "x", "y")
    val t2 = Stats.kendallTau(down, "day", "x", "y").select("tau_b").as[Double].head()
    assert(t2 == -1.0, s"perfect discordance: $t2")
    val tied = (1 to 10).map(i => (i.toLong, (i / 2).toLong, i.toLong))
      .toDF("day", "x", "y")
    val t3 = Stats.kendallTau(tied, "day", "x", "y").select("tau_b").as[Double].head()
    assert(t3 > 0.8 && t3 < 1.0, s"x ties shrink below 1: $t3")
  }

  test("log-rank: identical arms → z≈0; hazard-separated arms reject") {
    // same 20 durations in both arms → O1 = E1 exactly
    val same = (1 to 20).flatMap(i => Seq((i.toLong, true, 0L), (i.toLong, true, 1L)))
      .toDF("dur_min", "observed", "arm")
    val z0 = Stats.logRank(same, "dur_min", "observed", "arm", zCrit = 1.959964)
      .select("z").as[Double].head()
    assert(math.abs(z0) < 1e-9, s"identical arms: $z0")
    // arm 1 dies at 1..20, arm 0 survives to 100..119 → strong separation
    val apart = ((1 to 20).map(i => (i.toLong, true, 1L)) ++
      (1 to 20).map(i => (99L + i, true, 0L))).toDF("dur_min", "observed", "arm")
    val r = Stats.logRank(apart, "dur_min", "observed", "arm", zCrit = 1.959964)
      .select("z", "reject").as[(Double, Boolean)].head()
    assert(r._2 && r._1 > 1.96, s"separated hazards must reject: $r")
  }

  test("holt forecast: linear series extrapolates near-exactly") {
    // y = 100 + 5t on days 0..29, horizon 7 → forecast ≈ actual
    val rows = (0 until 30).map(t =>
      ("view", t.toLong, ((100.0 + 5.0 * t) * 1e8).round))
      .toDF("event_type", "day", "t8")
    val got = Stats.holtForecast(rows, "event_type", "day", "t8")
      .select("day", "abs_err").as[(Long, Double)].collect()
    assert(got.length == 7 && got.map(_._1).min == 23L, got.mkString(","))
    assert(got.map(_._2).max < 1.0,
      s"linear trend must extrapolate: ${got.mkString(",")}")
  }

  test("cross-correlation: planted 3-day lead shows peak ccf at lag 3") {
    // x leads y by 3 days: y_t = x_{t-3}
    val x = (0 until 40).map(t => ("view", t.toLong,
      (((t * 37) % 11 + 1) * 1e8).toLong))
    val y = x.map { case (_, t, v) => ("purchase", t + 3, v) }
    val rows = (x ++ y).toDF("event_type", "day", "t8")
    val ccf = Stats.crossCorrelation(rows, "event_type", "day", "t8",
      "view", "purchase").select("lag", "ccf").as[(Long, Double)].collect().toMap
    assert(ccf(3L) > 0.999, s"lag-3 must peak: $ccf")
    assert(math.abs(ccf(0L)) < 0.9, s"lag-0 must not: $ccf")
  }

  test("binary segmentation: the planted level shift wins the cut") {
    // flat 10 until day 19, flat 50 after → split at day 19
    val rows = (0 until 40).map(t =>
      (t.toLong, ((if (t < 20) 10.0 else 50.0) * 1e8).toLong))
      .toDF("day", "t8")
    val top = Stats.binarySegmentation(rows, "day", "t8")
      .select("split_day", "mean_left", "mean_right", "gain")
      .as[(Long, Double, Double, Double)].collect()
    assert(top.head._1 == 19L, s"cut must land on the shift: ${top.head}")
    assert(top.head._2 == 10.0 && top.head._3 == 50.0, top.head.toString)
    assert(top.head._4 > top(1)._4, "best gain strictly ahead")
  }

  test("zipf slope: an exact power law recovers its exponent") {
    // term t_r repeated floor(1000/r) times → ln f ≈ -1·ln r + ln 1000
    val words = (1 to 50).flatMap(r => Seq.fill(1000 / r)(f"w$r%03d"))
    val docs = words.grouped(100).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" "), "en") }.toSeq
      .toDF("doc_id", "text", "lang")
    val r = TextAnalysis.zipfSlope(docs, topN = 50)
      .select("slope", "r2").as[(Double, Double)].head()
    assert(r._1 < -0.9 && r._1 > -1.1, s"slope must sit near -1: $r")
    assert(r._2 > 0.99, s"power law must fit tightly: $r")
  }

  test("readability: simple short sentences score easier than long polysyllables") {
    val docs = Seq(
      (1L, "the cat sat. the dog ran. it was fun.", "en"),
      (2L, "extraordinarily sophisticated methodological considerations necessitate comprehensive organizational restructuring initiatives", "en"))
      .toDF("doc_id", "text", "lang")
    val f = TextAnalysis.readability(docs)
      .select("doc_id", "flesch").as[(Long, Double)].collect().toMap
    assert(f(1L) > 80.0, s"simple text reads easy: $f")
    assert(f(2L) < 0.0, s"polysyllabic wall reads hard: $f")
  }

  test("lexical richness: repeated vocab → low TTR, all-unique → TTR 1 and all hapax") {
    val docs = Seq(
      (1L, Seq.fill(50)("same word pair").mkString(" "), "aa"),
      (2L, (1 to 30).map(i => s"u$i").mkString(" "), "bb"))
      .toDF("doc_id", "text", "lang")
    val m = TextAnalysis.lexicalRichness(docs)
      .select("lang", "ttr", "hapax_share").as[(String, Double, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(m("aa")._1 < 0.05 && m("aa")._2 == 0.0, s"repetition: $m")
    assert(m("bb")._1 == 1.0 && m("bb")._2 == 1.0, s"all-unique: $m")
  }

  test("markov stationary: a biased chain settles where the bias points") {
    // users cycle a->a (80%) / a->b (20%), b always ->a: π(a)≈0.833
    val types = Seq("a", "a", "a", "a", "b", "a", "a", "a", "a", "b")
    val ev = (0 until 200).map { i =>
      (i.toLong, (i / 50).toLong, i.toLong * 60L, types(i % 10))
    }.toDF("event_id", "user_id", "sec", "event_type")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("value", lit(1.0))
    val pi = EventOps.markovStationary(ev)
      .select("state", "stationary").as[(String, Double)].collect().toMap
    assert(math.abs(pi("a") - 0.8) < 0.05, s"heavy state dominates: $pi")
    assert(math.abs(pi.values.sum - 1.0) < 1e-6, s"must stay a distribution: $pi")
  }

  test("conversion within: the state adjacent to target beats the distant one") {
    // chain a->b->c->purchase deterministic; within 7 steps all reach it,
    // within 1 step only c does
    val types = Seq("a", "b", "c", "purchase")
    val ev = (0 until 80).map { i =>
      (i.toLong, (i / 20).toLong, i.toLong * 60L, types(i % 4))
    }.toDF("event_id", "user_id", "sec", "event_type")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("value", lit(1.0))
    val p7 = EventOps.conversionWithin(ev, "purchase", 7)
      .select("state", "p_within_k").as[(String, Double)].collect().toMap
    assert(p7("c") > 0.99 && p7("a") > 0.9, s"all reach within 7: $p7")
    val p1 = EventOps.conversionWithin(ev, "purchase", 1)
      .select("state", "p_within_k").as[(String, Double)].collect().toMap
    assert(p1("c") > 0.99 && p1("a") < 0.05, s"only c reaches in 1: $p1")
  }

  test("transition dwell: planted gaps produce exact mean and lower median") {
    // a->b gaps of 10, 20, 40 seconds (odd count → median 20)
    val rows = Seq((1L, 0L, "a"), (2L, 10L, "b"), (3L, 30L, "a"),
      (4L, 50L, "b"), (5L, 70L, "a"), (6L, 110L, "b"))
    val ev = rows.map { case (id, sec, t) => (id, 1L, sec, t) }
      .toDF("event_id", "user_id", "sec", "event_type")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("value", lit(1.0))
    val m = EventOps.transitionDwell(ev)
      .filter(col("prev_type") === "a" && col("next_type") === "b")
      .select("n", "mean_sec", "p50_sec").as[(Long, Double, Double)].head()
    assert(m._1 == 3L && m._2 > 23.3 && m._2 < 23.4 && m._3 == 20.0, m.toString)
  }

  test("silhouette: tight well-separated blobs score near 1") {
    // two far-apart tight blobs in 64-d → mean silhouette ≈ 1 for both
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 10.0f else -10.0f
      val jitter = (i % 5) * 0.01f
      (i.toLong, Array.fill(64)(base + jitter))
    }.toDF("vec_id", "embedding")
    val r = Retrieval.silhouette(vecs, k = 2)
      .select("cluster", "n", "mean_silhouette")
      .as[(Long, Long, Double)].collect()
    assert(r.length == 2 && r.map(_._2).sum == 40L, r.mkString(","))
    assert(r.forall(_._3 > 0.9),
      s"separated blobs must score high: ${r.mkString(",")}")
  }

  test("rfm: quartile scores partition entities; monetary totals stay exact") {
    // 16 customers, recency/frequency/monetary all aligned by rank
    val orders = (1 to 16).flatMap { c =>
      (1 to c).map(j => (c.toLong, (c * 86400L + j).toLong, c * 10.0 + 0.25))
    }.toDF("o_custkey", "sec", "o_totalprice")
      .withColumn("o_orderdate", timestamp_micros(col("sec") * 1000000L))
    val got = EventOps.rfmSegments(orders, "o_custkey", "o_orderdate", "o_totalprice")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    // aligned dimensions → only 4 segments, 4 customers each
    assert(got.map(r => (r._1, r._2, r._3)).toSet.size == 4, got.toString)
    assert(got.map(_._4).sum == 16L, "all entities land in a segment")
    // exact monetary: customer c contributes c orders × (c*10+0.25)
    val total = got.map(_._6).sum
    val expect = (1 to 16).map(c => c * (c * 10.0 + 0.25)).sum
    assert(math.abs(total - expect) < 1e-6, s"$total vs $expect")
  }

  test("cohen kappa: identical raters → 1, independent raters → ≈0") {
    val same = (1 to 60).map(i => (s"c${i % 3}", s"c${i % 3}"))
      .toDF("a", "b")
    val k1 = Stats.cohenKappa(same, col("a"), col("b"))
      .select("kappa").as[Double].head()
    assert(k1 == 1.0, s"perfect agreement: $k1")
    // a cycles mod 2, b cycles mod 3 over 60 rows → exactly the chance
    // agreement rate, kappa = 0
    val indep = (0 until 60).map(i => (s"c${i % 2}", s"c${i % 3}"))
      .toDF("a", "b")
    val k0 = Stats.cohenKappa(indep, col("a"), col("b"))
      .select("po", "pe", "kappa").as[(Double, Double, Double)].head()
    assert(math.abs(k0._3) < 1e-6, s"independent raters: $k0")
  }

  test("mcc at rank cut: perfect ranking → 1 at the matched cut, inverted → -1") {
    // 40 rows, 10 positives with the 10 best scores, cut at n/4 = 10
    val good = (1 to 40).map(i => (100.0 - i, i.toLong, i <= 10))
      .toDF("score", "id", "is_pos")
    val m1 = Stats.mccAtRankCut(good, "score", "id", col("is_pos"), cutDiv = 4)
      .select("tp", "fp", "mcc").as[(Long, Long, Double)].head()
    assert(m1._1 == 10L && m1._2 == 0L && m1._3 == 1.0, m1.toString)
    // positives at the BOTTOM 10 ranks: tp=0, fp=10, fn=10, tn=20 →
    // MCC = -100/√(10·10·30·30) = -1/3 (trunc6 floors to -0.333334)
    val bad = (1 to 40).map(i => (100.0 - i, i.toLong, i > 30))
      .toDF("score", "id", "is_pos")
    val m2 = Stats.mccAtRankCut(bad, "score", "id", col("is_pos"), cutDiv = 4)
      .select("mcc").as[Double].head()
    assert(m2 == -0.333334, s"anti-ranking: $m2")
  }

  test("brier by segment: a perfectly-calibrated constant segment scores p(1-p)") {
    // seg 0: rate 1/2 in train AND test → brier = 0.25; seg 1: all
    // zeros both slices → brier = 0
    val rows = (0 until 80).map { i =>
      val seg = i % 2L
      val train = i < 40
      val y = seg == 0L && (i / 2) % 2 == 0
      (seg, train, y)
    }.toDF("seg", "is_train", "y")
    val got = Stats.brierBySegment(rows, "seg", col("is_train"), col("y"))
      .select("seg", "p_hat", "brier").as[(Long, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(0L) == ((0.5, 0.25)), got.toString)
    assert(got(1L) == ((0.0, 0.0)), got.toString)
  }

  test("conformal ols: exact-linear data gives a zero interval with full coverage") {
    val clean = (1 to 200).map(i =>
      ("g", (i % 20).toDouble, 2.0 * (i % 20) + 5.0, i.toLong))
      .toDF("k", "x", "y", "id")
    val got = Stats.conformalOls(clean, "k", "x", "y", col("id") % 4)
      .select("q_hat", "coverage").as[(Double, Double)].head()
    assert(got == ((0.0, 1.0)), got.toString)
    // ±1 alternating noise → every |residual| is exactly 1
    val noisy = (1 to 200).map(i =>
      ("g", (i % 20).toDouble,
        2.0 * (i % 20) + 5.0 + (if (i % 2 == 0) 1.0 else -1.0), i.toLong))
      .toDF("k", "x", "y", "id")
    val n = Stats.conformalOls(noisy, "k", "x", "y", col("id") % 4)
      .select("q_hat", "coverage").as[(Double, Double)].head()
    assert(math.abs(n._1 - 1.0) < 0.2 && n._2 == 1.0, n.toString)
  }

  test("k-center greedy: one pick lands in each planted far cluster") {
    // 3 clusters: cluster c lives at 100·c on axis c (ids 0-9, 10-19, 20-29)
    val vecs = (0 until 30).map { i =>
      val c = i / 10
      val arr = Array.tabulate(64)(d =>
        if (d == c) 100.0f * c + (i % 10) * 0.1f
        else (i % 3) * 0.01f)
      (i.toLong, arr.toSeq, c)
    }.toDF("vec_id", "embedding", "label")
    val got = Retrieval.kCenterGreedy(vecs, k = 3)
      .select("pos", "vec_id").as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val clusters = got.map(_._2 / 10).toSet
    assert(clusters == Set(0L, 1L, 2L),
      s"one center per cluster: $got")
  }

  test("good-turing: a planted singleton band reproduces r* = (r+1)S(r+1)/S(r)") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "c d"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val got = TextAnalysis.goodTuring(docs)
      .select("r", "n_r", "n_r1", "r_star")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // bigrams: "a b"×2, "c d"×1 → S(1)=1, S(2)=1 → r*=2 for the singletons
    assert(got == Seq((1L, 1L, 1L, 2.0)), got.toString)
  }

  test("markov entropy rate: a deterministic cycle is perfectly predictable") {
    // every user alternates a→b→a→… → both rows are point masses, h = 0
    val ev = (0 until 40).map { i =>
      (i.toLong, (i % 4).toLong, i.toLong * 3600L,
        if (i % 2 == 0) "a" else "b")
    }.toDF("event_id", "user_id", "sec", "event_type")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("value", lit(1.0))
    val got = EventOps.markovEntropyRate(ev)
      .select("state", "stationary", "h_state")
      .as[(String, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set("a", "b"), got.toString)
    assert(got.values.forall(_._2 == 0.0), s"deterministic chain: $got")
    assert(got.values.forall(v => math.abs(v._1 - 0.5) < 1e-6), got.toString)
  }

  test("diff-in-diff: a planted post-period treatment lift is recovered exactly") {
    // treated users (even ids) gain +5 after the split; control flat
    val ev = (0 until 200).map { i =>
      val u = (i % 4).toLong
      val day = (i / 4 % 10).toLong
      val treat = u % 2 == 0
      val v = 10.0 + u + (if (treat && day >= 5) 5.0 else 0.0)
      (i.toLong, u, day * 86400L, v)
    }.toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("event_type", lit("view"))
    val got = EventOps.diffInDiff(ev, col("user_id") % 2 === 0, splitDay = 5L)
      .select("did").as[Double].head()
    assert(got == 5.0, s"planted lift: $got")
  }

  test("cuped: with arm-balanced covariates the adjusted lift equals the planted effect") {
    // x = u % 4 identically in both arms; y = x + 3 for treated users
    val rows = (1 to 8).flatMap { u =>
      val x = (u % 4).toDouble
      val y = x + (if (u > 4) 3.0 else 0.0)
      Seq((u.toLong * 10, u.toLong, 0L, x), (u.toLong * 10 + 1, u.toLong, 6L * 86400L, y))
    }.toDF("event_id", "user_id", "sec", "value")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("event_type", lit("view"))
    val got = EventOps.cuped(rows, col("user_id") > 4, splitDay = 3L)
      .select("theta", "raw_lift", "adj_lift")
      .as[(Double, Double, Double)].head()
    assert(math.abs(got._1 - 1.0) < 1e-6, s"theta: $got")
    assert(got._2 == 3.0 && got._3 == 3.0, s"balanced arms: $got")
  }

  test("bradley-terry: a transitive dominance order comes back ranked") {
    // A beats B 9/10, B beats C 9/10, A beats C 10/10
    val duels = (1 to 9).flatMap(_ => Seq(("A", "B"), ("B", "C"))) ++
      Seq(("B", "A"), ("C", "B")) ++ (1 to 10).map(_ => ("A", "C"))
    val got = Stats.bradleyTerry(duels.toDF("wf", "lf"), "wf", "lf")
      .select("player", "strength").as[(String, Double)].collect().toMap
    assert(got("A") > got("B") && got("B") > got("C"), got.toString)
    val tot = got.values.sum
    assert(math.abs(tot - 1.0) < 1e-4, s"normalized: $tot")
  }

  test("wilson pairwise: the bound sits below the rate and tightens with n") {
    val small = (1 to 4).map(_ => ("A", "B")) ++ Seq(("B", "A"))
    val big = (1 to 40).map(_ => ("C", "D")) ++ (1 to 10).map(_ => ("D", "C"))
    val got = Stats.pairwiseWilson((small ++ big).toDF("wf", "lf"),
      "wf", "lf", z = 1.959964)
      .select("a", "b", "win_rate", "wilson_low")
      .as[(String, String, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val (rAB, lowAB) = got(("A", "B"))
    val (rCD, lowCD) = got(("C", "D"))
    assert(rAB == 0.8 && rCD == 0.8, s"$rAB $rCD")
    assert(lowAB < rAB && lowCD < rCD, "bound below the rate")
    assert(lowCD > lowAB, s"50 games beat 5: $lowCD vs $lowAB")
  }

  test("pca power iteration: a planted dominant axis carries the component") {
    // variance lives on dim 0 (±10), everything else is a small
    // deterministic ripple → the top component points along dim 0
    val vecs = (0 until 40).map { i =>
      val arr = Array.tabulate(64)(d =>
        if (d == 0) (if (i % 2 == 0) 10.0f else -10.0f)
        else ((i * 7 + d) % 5 - 2) * 0.01f)
      (i.toLong, arr.toSeq, 0)
    }.toDF("vec_id", "embedding", "label")
    val load = Retrieval.pcaTopComponent(vecs)
      .select("dim", "loading").as[(Long, Double)].collect().toMap
    assert(math.abs(load(0L)) > 0.99, s"dim-0 loading: ${load(0L)}")
    assert(load.filter(_._1 != 0L).values.forall(v => math.abs(v) < 0.1),
      "off-axis loadings stay small")
    val ex = Retrieval.pcaExplained(vecs)
      .select("lambda1", "trace", "explained_ratio")
      .as[(Double, Double, Double)].head()
    assert(ex._3 > 0.99 && ex._1 <= ex._2, ex.toString)
  }

  test("pca driver fixpoint ≡ distributed chain (the dim-cap fallback)") {
    // dim = 96 exceeds the 4096-row driver cap (96² > 4096) so the
    // distributed powerIterate runs — over the SAME 64×64 matrix,
    // because the embedding slice caps at the vector length and the
    // matvec's inner join ignores the extra v₀ rows. The two paths
    // must agree bit-for-bit on every loading and on the spectral
    // summary (the markov-family dsum12Local ≡ dsum12 pin, applied to
    // the PCA chain end to end).
    val vecs = (0 until 30).map { i =>
      (i.toLong,
        Array.tabulate(64)(d => ((i * 13 + d * 7) % 11 - 5) * 0.1f).toSeq)
    }.toDF("vec_id", "embedding")
    val drv = Retrieval.pcaTopComponent(vecs, dim = 64)
      .as[(Long, Double)].collect().toSeq
    val dist = Retrieval.pcaTopComponent(vecs, dim = 96)
      .as[(Long, Double)].collect().toSeq
    assert(drv.map(_._1) == dist.map(_._1), "same dim index set")
    drv.zip(dist).foreach { case ((jd, xd), (js, xs)) =>
      assert(java.lang.Double.compare(xd, xs) == 0,
        s"loading diverged at dim $jd/$js: $xd vs $xs") }
    val exD = Retrieval.pcaExplained(vecs, dim = 64)
      .as[(Double, Double, Double)].head()
    val exS = Retrieval.pcaExplained(vecs, dim = 96)
      .as[(Double, Double, Double)].head()
    assert(java.lang.Double.compare(exD._1, exS._1) == 0 &&
      java.lang.Double.compare(exD._2, exS._2) == 0 &&
      java.lang.Double.compare(exD._3, exS._3) == 0, s"$exD vs $exS")
  }

  test("row-local decimal zip-sum ≡ the dsum12 aggregate (silhouette)") {
    // silhouette's per-centroid distance takes dsum12's per-term
    // double→decimal cast, then sums the exact unscaled longs and
    // reconstitutes the scale-12 decimal by an exact division (a plain
    // decimal `+` lambda cannot hold scale 12 at precision 38); the
    // sums must be bit-equal to the dsum12 aggregate on randomized
    // vectors
    import graft.functions.TextFunctions.dsum12
    val rnd = new scala.util.Random(20260818L)
    val rows = (0 until 20).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextDouble() * 20 - 10),
        Seq.fill(64)(rnd.nextDouble() * 20 - 10))
    }.toDF("id", "emb", "carr")
    val viaAgg = rows.select(col("id"),
      expr("cast(cast(cast(aggregate(zip_with(emb, carr, (x, c) -> " +
        "cast(cast((x - c) * (x - c) as decimal(26,12)) * " +
        "1000000000000 as bigint)), " +
        "cast(0 as bigint), (acc, t) -> acc + t) " +
        "as decimal(26,0)) / cast(1000000000000 as decimal(13,0)) " +
        "as string) as double)").as("s"))
      .as[(Long, Double)].collect().toMap
    val viaSum = rows
      .select(col("id"), posexplode(col("emb")).as(Seq("i", "x")))
      .join(rows.select(col("id"),
        posexplode(col("carr")).as(Seq("i", "c"))), Seq("id", "i"))
      .groupBy("id")
      .agg(dsum12((col("x") - col("c")) * (col("x") - col("c"))).as("s"))
      .as[(Long, Double)].collect().toMap
    assert(viaAgg.keySet == viaSum.keySet)
    viaAgg.foreach { case (id, s) =>
      assert(java.lang.Double.compare(s, viaSum(id)) == 0,
        s"id $id: agg=$s sum=${viaSum(id)}") }
  }

  test("best gini split: the planted threshold wins with pure sides") {
    // y = x > 55; candidates 1..100 → best split at x = 55 (left pure 0s)
    val rows = (1 to 100).map(i => (i.toDouble, i > 55)).toDF("x", "y")
    val got = Stats.bestGiniSplit(rows, "x", col("y"))
      .select("split_value", "gini", "n_left", "n_right")
      .as[(Double, Double, Long, Long)].head()
    assert(got == ((55.0, 0.0, 55L, 45L)), got.toString)
  }

  test("modularity: two triangles + bridge score the textbook Q; one blob scores 0") {
    // triangles {1,2,3} and {4,5,6} bridged 3–4: per community
    // Q_c = 3/7 − (7/14)² = 0.178571…, Q = 2·Q_c ≈ 0.357
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val lab = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("v", "label")
    val got = GraphOps.modularity(e, lab)
      .select("label", "n_vertices", "intra_edges", "degree_sum", "contribution")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    val qc = t6(3.0 / 7.0 - 0.25)
    assert(got == Seq((1L, 3L, 3L, 7L), (4L, 3L, 3L, 7L)).map(r =>
      (r._1, r._2, r._3, r._4, qc)), got.toString)
    // everything in ONE community: e_c/m = 1, d_c = 2m → Q = 1 − 1 = 0
    val one = lab.withColumn("label", lit(9L))
    val q0 = GraphOps.modularity(e, one)
      .select("contribution").as[Double].collect().toSeq
    assert(q0 == Seq(0.0), q0.toString)
  }

  test("pareto frontier: dominated points drop, duplicates count at their point") {
    // (2,3) is beaten by (2,7); (3,7) by (2,7) on price and (3,8) on size
    val pts = Seq((1.0, 5L), (1.0, 5L), (2.0, 3L), (2.0, 7L), (3.0, 7L),
      (3.0, 8L)).toDF("p_retailprice", "p_size")
    val got = Stats.paretoFrontier2d(pts, "p_retailprice", "p_size")
      .as[(Double, Long, Long)].collect().toSeq
    assert(got == Seq((1.0, 5L, 2L), (2.0, 7L, 1L), (3.0, 8L, 1L)),
      got.toString)
  }

  test("simhash neighborhood: identical docs pair at hamming 0, the stranger doesn't") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally unrelated wording about ships and harbors tonight"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashNeighborhood(docs, bits = 16, window = 2,
      maxHamming = 0).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 0L)) || got == Seq((2L, 1L, 0L)), got.toString)
  }

  test("blocking recall: a window-2 neighborhood misses the far ends of a 4-run") {
    // 4 identical docs = 6 true pairs; adjacent-rank window 2 yields
    // (1,2)(1,3)(2,3)(2,4)(3,4) — (1,4) is out of reach → recall 5/6
    val docs = ((1L to 4L).map(i => (i, "same exact text here")) :+
      ((9L, "something different entirely"))).toDF("doc_id", "text")
    val got = Dedup.blockingRecallAudit(docs, window = 2)
      .as[(Long, Long, Long, Double)].head()
    assert(got == ((6L, 5L, 5L, math.floor(5.0 / 6 * 1e6) / 1e6)),
      got.toString)
  }

  test("blocking sweep: recall climbs monotonically to 1 as the window covers the run") {
    val docs = ((1L to 4L).map(i => (i, "same exact text here")) :+
      ((9L, "something different entirely"))).toDF("doc_id", "text")
    val got = Dedup.blockingRecallSweep(docs, windows = Seq(1, 2, 3))
      .select("window", "n_hit", "recall")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._2) == Seq(3L, 5L, 6L), got.toString)
    assert(got.last._3 == 1.0, got.toString)
  }

  test("stutter audit: planted adjacent repeats are counted, singles aren't") {
    val docs = Seq(
      (1L, "en", "a a b c c c"),
      (2L, "en", "x"),
      (3L, "de", "q w e")).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.stutterAudit(docs)
      .select("lang", "n_docs", "n_tokens", "n_stutter")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("de", 1L, 3L, 0L), ("en", 2L, 7L, 3L)), got.toString)
  }

  test("triplet mine: positive is the true top-1, negatives exclude both") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0f, 1f)),
      (4L, Array(0.5f, 0.5f, 0f))).toDF("vec_id", "embedding")
    val got = Retrieval.tripletMine(vecs, Seq(0L), negatives = 2)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(got.forall(_._2 == 1L), got.toString)
    assert(got.map(_._5).toSet.intersect(Set(0L, 1L)).isEmpty, got.toString)
    assert(got.map(_._4) == Seq(1L, 2L), got.toString)
  }

  test("auc by key: per-fold rank algebra matches the planted separations") {
    val rows = ((1 to 20).map(i => (0L, i.toDouble, i > 10)) ++
      (1 to 20).map(i => (1L, i.toDouble, i <= 10)))
      .toDF("fold", "score", "is_pos")
    // the sweep family returns the key as string — cast like q311 does
    val got = Stats.aucByKey(rows, col("fold"), "score", col("is_pos"))
      .select(col("fold").cast("long"), col("auc"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(0L -> 1.0, 1L -> 0.0), got.toString)
  }

  test("join cardinality: uniform buckets estimate the join exactly") {
    // 100 keys × 2 rows join 100 keys × 3 rows: every equi-depth bucket
    // is uniform, so containment n1·n2/max(d1,d2) is EXACT → 600 rows
    val left = (1 to 100).flatMap(k => Seq(k, k)).toDF("user_id")
    val right = (1 to 100).flatMap(k => Seq(k, k, k)).toDF("o_custkey")
    val got = Profile.joinCardinalityEstimate(left, "user_id",
      right, "o_custkey", buckets = 4)
      .select("est_rows", "actual_rows", "rel_error")
      .as[(Double, Long, Double)].head()
    assert(got == ((600.0, 600L, 0.0)), got.toString)
  }

  test("expectations audit: the planted duplicate key fails exactly one gate") {
    val rows = Seq((1L, 10.0), (2L, 20.0), (2L, 30.0)).toDF("id", "x")
    val n = count(lit(1)).cast("double")
    val got = Profile.expectationsAudit(rows, Seq(
      ("count_min", count(lit(1)).cast("double"), 3.0, 1e9),
      ("id_unique", countDistinct(col("id")).cast("double") / n, 1.0, 1.0),
      ("x_positive", sum(when(col("x") > 0, 1L).otherwise(0L)).cast("double") / n,
        1.0, 1.0)))
      .select("expectation", "pass").as[(String, Boolean)].collect().toMap
    assert(got == Map("count_min" -> true, "id_unique" -> false,
      "x_positive" -> true), got.toString)
  }

  test("stratified kfold: folds stay in range and shares sum to one") {
    val rows = (1 to 500).map(i => (s"s${i % 3}", i.toLong)).toDF("grp", "id")
    val got = Profile.stratifiedKfold(rows, "grp", col("id"), k = 5)
      .select("stratum", "fold", "n", "share")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got.forall(r => r._2 >= 0 && r._2 < 5), got.toString)
    // exact per-stratum totals: ids 1..500 by i % 3 → s0 gets the 166
    // multiples of 3, s1 and s2 get 167 each
    val byStratum = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byStratum == Map("s0" -> 166L, "s1" -> 167L, "s2" -> 167L),
      byStratum.toString)
    got.groupBy(_._1).foreach { case (_, rs) =>
      val s = rs.map(_._4).sum
      assert(s > 0.99 && s <= 1.0 + 1e-9, s.toString)
    }
  }

  test("balanced downsample: minority survives whole, majority lands near 1:1") {
    val rows = ((1 to 100).map(i => (true, i.toLong)) ++
      (1 to 1000).map(i => (false, 1000L + i))).toDF("pos", "id")
    val got = Profile.balancedDownsample(rows, col("pos"), col("id"))
      .select("is_positive", "n_before", "n_after")
      .as[(Boolean, Long, Long)].collect()
      .map { case (p, b, a) => p -> ((b, a)) }.toMap
    assert(got(true) == ((100L, 100L)), got.toString)
    val (nb, na) = got(false)
    assert(nb == 1000L && math.abs(na - 100L) < 40L, got.toString)
  }

  test("hll overlap: inclusion–exclusion lands near the planted intersection") {
    // |A|=2000, |B|=2000, |A∩B|=1000 — m=1024 registers put each
    // estimate within a few percent, the difference within ~25%
    val rows = ((1 to 2000).map(i => ("click", i.toLong)) ++
      (1001 to 3000).map(i => ("purchase", i.toLong)))
      .toDF("event_type", "user_id")
    val got = Sketches.hllOverlap(rows, "event_type", "click", "purchase",
      col("user_id").cast("string")).head()
    val inter = got.getAs[Double]("est_intersection")
    assert(math.abs(inter - 1000.0) < 250.0, got.toString)
    assert(got.getAs[Double]("est_union") <=
      got.getAs[Double]("est_a") + got.getAs[Double]("est_b"), got.toString)
  }

  test("rolling hll wau: window merges track the exact cumulative distinct") {
    // 3 days of disjoint users; a 7-day window ⇒ exact = cumulative
    val evs = (for { d <- 0 until 3; u <- 0 until 500 } yield
      (java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(d * 86400L + 60)), d * 500L + u))
      .toDF("ts", "user_id")
    val got = Sketches.rollingHllWau(evs)
      .select("day", "exact_wau", "rel_error")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => r._1 -> r._2) ==
      Seq(19723L, 19724L, 19725L).zip(Seq(500L, 1000L, 1500L)) ||
      got.map(r => r._1 -> r._2) ==
      Seq(0L -> 500L, 1L -> 1000L, 2L -> 1500L), got.toString)
    assert(got.forall(_._3 < 0.15), got.toString)
  }

  test("keyed prefix sweep: medians/MAD survive partition-spanning keys") {
    // 13-way scrambled input forces keys to straddle range partitions:
    // A = 1..1000 (median 500.5, MAD 250), B = fifty 5s (MAD 0 → no flags)
    val rows = ((1 to 1000).map(i => ("A", i.toDouble)) ++
      (1 to 50).map(_ => ("B", 5.0)))
    val df = rows.toDF("l_returnflag", "l_extendedprice").repartition(13)
    val got = Profile.madOutliers(df, "l_returnflag", "l_extendedprice")
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(got == Seq(("A", 1000L, 500.5, 250.0, 0L), ("B", 50L, 5.0, 0.0, 0L)),
      got.toString)
  }

  test("duplicated spans: maximal runs, within-doc repeats, short docs skip") {
    // doc 1 and doc 2 share tokens "a b c d" (k=3 windows at two doc-1
    // positions merge into ONE maximal span); doc 3 repeats a 3-gram
    // WITHIN itself; doc 4 is shorter than k and contributes nothing
    val docs = Seq(
      (1L, "x a b c d y"),
      (2L, "a b c d z w"),
      (3L, "p q r s s p q r t u"),
      (4L, "a b")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 5L, 4L), // "a b c" + "b c d" windows merge → tokens 2..5
      (2L, 1L, 4L, 4L),
      (3L, 1L, 3L, 3L), (3L, 6L, 8L, 3L)), // within-doc "p q r" twice
      got.toString)
  }

  test("duplicated spans: window starts with a [2, k-1] gap merge disjointly") {
    // doc 1's duplicated window starts are 1 and 3 (start 2 "b c d" is
    // unique) — their token intervals [1,3] and [3,5] overlap, so they
    // must merge into ONE span; emitting both would double-count token 3
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "a b c"),
      (3L, "c d e")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 5L, 5L),
      (2L, 1L, 3L, 3L),
      (3L, 1L, 3L, 3L)), got.toString)
    // and the report's token fraction stays a true fraction (<= 1)
    val rep = Dedup.duplicationReport(docs, k = 3)
      .as[(Long, Long, Double, Long, Long)].collect().head
    assert(rep == ((11L, 11L, 1.0, 3L, 5L)), rep.toString)
  }

  test("span removal: canonical first occurrence survives, rest stripped") {
    val docs = Seq(
      (1L, "x a b c d y"),
      (2L, "a b c d z w"),
      (4L, "a b")).toDF("doc_id", "text")
    val got = Dedup.spanRemoval(docs, k = 3, ordered = true)
      .as[(Long, Long, Long, String)].collect().toSeq
    // doc 1 holds the canonical (min doc_id, pos) occurrences of both
    // duplicated 3-grams → untouched; doc 2 loses tokens 1..4; doc 4 is
    // below k and passes through whole
    assert(got == Seq(
      (1L, 6L, 0L, "x a b c d y"),
      (2L, 6L, 4L, "z w"),
      (4L, 2L, 0L, "a b")), got.toString)
  }

  test("span removal: canonical occurrences are protected from overlap strips") {
    // "p q r" is canonical in doc 0, removable at doc 1 pos 2 (covers
    // tokens 2-4); "q r s" is canonical in doc 1 at pos 3 (tokens 3-5)
    // and removable in doc 2. Without protection doc 1's canonical
    // "q r s" would lose tokens 3-4 and the substring would survive
    // NOWHERE; with it doc 1 keeps "q r s t" (only token 2 stripped)
    val docs = Seq(
      (0L, "p q r"),
      (1L, "z p q r s t"),
      (2L, "q r s w w w")).toDF("doc_id", "text")
    val got = Dedup.spanRemoval(docs, k = 3, ordered = true)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (0L, 3L, 0L, "p q r"),
      (1L, 6L, 1L, "z q r s t"),
      (2L, 6L, 3L, "w w w")), got.toString)
  }

  test("incremental spans: batch vs corpus set + within-batch repeats") {
    val corpus = Seq((1L, "x a b c d y")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "w a b c q q"), // "a b c" hits the corpus set once
      (11L, "m n o z m n o"), // "m n o" repeats WITHIN the batch doc
      (12L, "u v")).toDF("doc_id", "text")
    val got = Dedup.incrementalSpans(batch, corpus, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // corpus-side spans are never reported; single corpus occurrence
    // is enough to flag a batch position
    assert(got == Seq(
      (10L, 2L, 4L, 3L),
      (11L, 1L, 3L, 3L), (11L, 5L, 7L, 3L)), got.toString)
  }

  test("duplication report: disjoint maximal spans sum exactly") {
    val docs = Seq(
      (1L, "x a b c d y"), // 6 tokens, span 2..5
      (2L, "a b c d z w"), // 6 tokens, span 1..4
      (4L, "a b")).toDF("doc_id", "text") // 2 tokens, below k
    val got = Dedup.duplicationReport(docs, k = 3)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(got == Seq((14L, 8L, 0.571428, 2L, 4L)), got.toString)
    // degenerate corpus: no duplicated shingles -> zeroed report
    val none = Dedup.duplicationReport(
      Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text"), k = 3)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(none == Seq((6L, 0L, 0.0, 0L, 0L)), none.toString)
  }

  test("minhash verify-leg hashing: xxhash64 collision-free on the q29 " +
      "corpus's 3-gram shingles") {
    // minhashLsh verifies candidates over PRE-HASHED shingle arrays;
    // Jaccard over hashed sets equals Jaccard over the strings exactly
    // when the hash loses no distinctions on the corpus (a fortiori on
    // every pair's union) — the same claim the span family pins
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val corpus = docs.unionByName(docs.select(
      (col("doc_id") + 10000).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
    val sh = Dedup.shingles(corpus, 3).select("shingle").distinct()
    assert(sh.count() ==
      sh.select(xxhash64(col("shingle"))).distinct().count(),
      "xxhash64 collision on the corpus's 3-gram shingles")
  }

  test("hashed shingle keys: collision-free and span-identical on a real corpus") {
    // the q322 corpus shape at sf0.001: documents ∪ first-word-dropped
    // near-dups — the claim behind shipping hashed keys is that the
    // xxhash64 fold loses NO key distinctions here, so every span
    // operator is output-identical under either representation
    val docs = Tables.documents(spark, sf()).select("doc_id", "text")
    val corpus = docs.unionByName(docs.select(
      (col("doc_id") + 10000).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
    val nText = Dedup.shingleIndex(corpus, k = 8).count()
    val nHash = Dedup.shingleIndex(corpus, k = 8, hashKeys = true).count()
    assert(nText == nHash,
      s"xxhash64 collision on corpus: $nText text keys vs $nHash hashed")
    assert(Dedup.duplicatedSpans(corpus, 8, hashKeys = true)
      .collect().toSeq ==
      Dedup.duplicatedSpans(corpus, 8).collect().toSeq)
    assert(Dedup.spanRemoval(corpus, 8, hashKeys = true, ordered = true)
      .collect().toSeq ==
      Dedup.spanRemoval(corpus, 8, ordered = true).collect().toSeq)
  }

  test("shingle index upkeep across two ingest batches == recompute") {
    val corpus = Seq(
      (1L, "x a b c d y"), (2L, "k l m n o p")).toDF("doc_id", "text")
    val b1 = Seq((10L, "a b c d q r")).toDF("doc_id", "text")
    val b2 = Seq(
      (20L, "c d y z k l m"), // "k l m" hits the corpus set
      (21L, "b c d q w")) // "b c d" occurs in corpus AND b1
      .toDF("doc_id", "text")
    // ingest-time fold: index(corpus) + batch1 == from-scratch build
    val idx1 = Dedup.shingleIndexUpdate(
      Dedup.shingleIndex(corpus, k = 3), b1, k = 3)
    val fresh = Dedup.shingleIndex(corpus.unionByName(b1), k = 3)
    assert(idx1.as[(String, Long)].collect().toMap ==
      fresh.as[(String, Long)].collect().toMap)
    // the index-backed batch scan equals the recompute formulation
    val viaIdx = Dedup.incrementalSpansIndexed(b2, idx1, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val recomp = Dedup.incrementalSpans(b2, corpus.unionByName(b1), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(viaIdx == recomp && viaIdx.nonEmpty, s"$viaIdx vs $recomp")
    // and the hashed-key index path lands on the same spans
    val idx1h = Dedup.shingleIndexUpdate(
      Dedup.shingleIndex(corpus, k = 3, hashKeys = true), b1,
      k = 3, hashKeys = true)
    val viaIdxH = Dedup.incrementalSpansIndexed(b2, idx1h, k = 3,
      hashKeys = true).as[(Long, Long, Long, Long)].collect().toSeq
    assert(viaIdxH == recomp, viaIdxH.toString)
    // the index is a PERSISTED artifact: a parquet round-trip (the
    // on-disk form ingest upkeep maintains) serves batches identically
    val dir = graft.TempDirs.create("graft_shidx").toString
    idx1.write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val viaDisk = Dedup.incrementalSpansIndexed(b2, reloaded, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(viaDisk == recomp, viaDisk.toString)
    // the Bloom-prefiltered path is EXACT (no false negatives; the
    // confirm join kills false positives), for both key shapes
    val viaBloom = Dedup.incrementalSpansBloom(b2, idx1,
      Dedup.shingleIndexBloom(idx1), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(viaBloom == recomp, viaBloom.toString)
    val viaBloomH = Dedup.incrementalSpansBloom(b2, idx1h,
      Dedup.shingleIndexBloom(idx1h), k = 3, hashKeys = true)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(viaBloomH == recomp, viaBloomH.toString)
  }

  test("sharded bloom snapshot: probe ≡ unfiltered, fold ≡ rebuild, " +
      "untouched shards pass through byte-identical") {
    val corpus = Seq(
      (1L, "x a b c d y"), (2L, "k l m n o p")).toDF("doc_id", "text")
    val b1 = Seq((10L, "a b c d q r")).toDF("doc_id", "text")
    val b2 = Seq(
      (20L, "c d y z k l m"),
      (21L, "b c d q w")).toDF("doc_id", "text")
    val recomp = Dedup.incrementalSpans(b2, corpus.unionByName(b1), k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    for (hash <- Seq(false, true)) {
      val idx0 = Dedup.shingleIndex(corpus, k = 3, hashKeys = hash)
      val idx1 = Dedup.shingleIndexUpdate(idx0, b1, k = 3, hashKeys = hash)
      // every shard materializes a row, even empty ones (the fold must
      // never meet a missing shard), and n_keys accounts for all keys
      val snapFull = Dedup.shingleIndexBloomShards(idx1, shards = 8)
      assert(snapFull.count() == 8)
      assert(snapFull.agg(sum("n_keys")).head().getLong(0) == idx1.count())
      // probe through the sharded snapshot ≡ the unfiltered indexed path
      // ≡ the recompute formulation
      val viaShards = Dedup.incrementalSpansBloomSharded(
        b2, idx1, snapFull, k = 3, hashKeys = hash)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(viaShards == recomp && viaShards.nonEmpty, viaShards.toString)
      // MERGEABLE upkeep: snapshot(corpus) + fold(b1) serves the same
      // batch identically — no corpus re-read in the fold
      val folded = Dedup.shingleIndexBloomShardsFold(
        Dedup.shingleIndexBloomShards(idx0, shards = 8), b1,
        k = 3, hashKeys = hash)
      val viaFolded = Dedup.incrementalSpansBloomSharded(
        b2, idx1, folded, k = 3, hashKeys = hash)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(viaFolded == recomp, viaFolded.toString)
      // and folds CHAIN: a second batch folds into the already-folded
      // snapshot, serving a later batch against corpus ∪ b1 ∪ b2
      val b3 = Seq((30L, "z k l m n o w")).toDF("doc_id", "text")
      val idx2 = Dedup.shingleIndexUpdate(idx1, b2, k = 3, hashKeys = hash)
      val folded2 = Dedup.shingleIndexBloomShardsFold(
        folded, b2, k = 3, hashKeys = hash)
      val viaFolded2 = Dedup.incrementalSpansBloomSharded(
        b3, idx2, folded2, k = 3, hashKeys = hash)
        .as[(Long, Long, Long, Long)].collect().toSeq
      val recomp3 = Dedup.incrementalSpans(
        b3, corpus.unionByName(b1).unionByName(b2), k = 3)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(viaFolded2 == recomp3 && viaFolded2.nonEmpty, viaFolded2.toString)
      // shards b1's keys don't touch keep their filter bytes verbatim
      val before = Dedup.shingleIndexBloomShards(idx0, shards = 8)
        .select("shard", "bloom").as[(Int, Array[Byte])]
        .collect().toMap
      val after = folded.select("shard", "bloom")
        .as[(Int, Array[Byte])].collect().toMap
      val touched = Dedup.shingleIndex(b1, k = 3, hashKeys = hash)
        .select(pmod(xxhash64(col("sh")), lit(8L)).cast("int"))
        .as[Int].collect().toSet
      val untouched = (0 until 8).toSet -- touched
      assert(untouched.nonEmpty)
      untouched.foreach { s =>
        assert(java.util.Arrays.equals(before(s), after(s)),
          s"untouched shard $s rewrote (hashKeys=$hash)")
      }
    }
  }

  test("sharded bloom probe fails SAFE: a missing shard row means " +
      "might-contain, never a silent false negative") {
    val corpus = Seq(
      (1L, "x a b c d y"), (2L, "k l m n o p")).toDF("doc_id", "text")
    val b2 = Seq(
      (20L, "c d y z k l m"),
      (21L, "b c d q w")).toDF("doc_id", "text")
    val recomp = Dedup.incrementalSpans(b2, corpus, k = 3)
      .as[(Long, Long, Long, Long)].collect().toSeq
    for (hash <- Seq(false, true)) {
      val idx = Dedup.shingleIndex(corpus, k = 3, hashKeys = hash)
      // a snapshot that violates the every-shard-emits-a-row invariant
      // (here: every NON-EMPTY shard dropped — the worst case) must
      // cost extra exact confirms, not exactness
      val broken = Dedup.shingleIndexBloomShards(idx, shards = 8)
        .filter(col("n_keys") === 0)
      val via = Dedup.incrementalSpansBloomSharded(
        b2, idx, broken, k = 3, hashKeys = hash)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(via == recomp && via.nonEmpty, s"hashKeys=$hash: $via")
    }
  }

  test("minhash lsh broadcast gate: shuffle-join fallback yields identical pairs") {
    // hot-bucket corpus (every doc a near-copy) — exactly the regime the
    // gate exists for; maxBroadcastPairs = -1 forces the fallback since
    // the cached candidate-volume bound is always >= 0
    val docs = (1L to 30L)
      .map(i => (i, s"the same boilerplate text repeated everywhere v$i"))
      .toDF("doc_id", "text")
    val viaBroadcast = Dedup.minhashLsh(docs, jaccardThreshold = 0.3,
        ordered = true)
      .as[(Long, Long, Double)].collect().toSeq
    val viaShuffle = Dedup.minhashLsh(docs, jaccardThreshold = 0.3,
        ordered = true, maxBroadcastPairs = -1L)
      .as[(Long, Long, Double)].collect().toSeq
    assert(viaBroadcast.nonEmpty)
    assert(viaShuffle == viaBroadcast)
  }

  test("markov family: distributed fallback past the driver cap matches the driver fixpoint") {
    // driverCap = -1 forces every matrix past the guard, so the
    // distributed loops must reproduce the driver-side fixpoints exactly
    // (dsum12 vs its pinned local replay) on the same corpus
    val types = Seq("a", "a", "a", "b", "c", "a", "b", "purchase", "a", "c")
    val ev = (0 until 200).map { i =>
      (i.toLong, (i / 40).toLong, i.toLong * 60L, types(i % 10))
    }.toDF("event_id", "user_id", "sec", "event_type")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L))
      .withColumn("value", lit(1.0))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    assert(rows(EventOps.markovStationary(ev, driverCap = -1)) ==
      rows(EventOps.markovStationary(ev)))
    assert(rows(EventOps.markovEntropyRate(ev, driverCap = -1)) ==
      rows(EventOps.markovEntropyRate(ev)))
    assert(rows(EventOps.conversionWithin(ev, "purchase", 7, driverCap = -1)) ==
      rows(EventOps.conversionWithin(ev, "purchase", 7)))
  }
}
