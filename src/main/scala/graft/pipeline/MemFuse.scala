package graft.pipeline

import graft.functions.TextFunctions.{trunc6, tokens}
import graft.functions.VectorFunctions
import graft.operators.{Fusion, Retrieval}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The memory-engine facade: batch ingest → chunk → embed → m1, and the
  * hybrid query path (SURVEY §3.1/§3.2 collapsed into DataFrame DAGs).
  *
  * Storage is parquet under `basePath`, with m0/m1 partitioned by a
  * 16-way user-id hash bucket: at cluster scale the tenant filter
  * (reference: pgvectorscale_store.py:594-619 WHERE user_id) becomes
  * partition pruning — a query for one user touches 1/16 of the files
  * before any row is read. Cascade deletes (reference: postgres.py
  * ON DELETE CASCADE) are bucket-scoped anti-filter rewrites plus the
  * relational-catalog cascades, all through TableOps' versioned-manifest
  * commits — readers are snapshot-isolated, racing writers retry rather
  * than lose a mutation (the parquet stand-in for the reference's
  * Postgres MVCC).
  *
  * @param encoder  embedding stage (K9) — pluggable, deterministic stub
  *                 by default; `RandomProjectionEncoder.trained` swaps in
  *                 the shipped trained tensors, a real ONNX encoder drops
  *                 in unchanged
  * @param reranker second-stage reranker (K8) — token-overlap heuristic
  *                 by default; `ProjectionCrossEncoder.trained` is the
  *                 shipped trained-model alternative
  * @param situating optional C3 situating-context stage run between
  *                  chunk packing and encoding (contextual.py:263-380);
  *                  None (default) skips the external call entirely
  */
class MemFuse(
    spark: SparkSession,
    basePath: String,
    encoder: TextEncoder = HashingEncoder(),
    reranker: Reranker = OverlapReranker(),
    chunking: String = "conversation_turn",
    situating: Option[SituatingStage] = None) extends Serializable {

  import Schemas._

  private def path(table: String) = s"$basePath/$table"

  // ---------- ingest (§3.2: validate → m0 → chunk → embed → m1) ----------

  /** Batch ingest: CHECK-constrained append to m0_raw, then one chunk per
    * (session, round) with role-prefixed content (C1 MessageChunkStrategy,
    * reference rag/chunk/message.py), hash-encoded, appended to
    * m1_episodic with m0 lineage ids. */
  def ingest(messages: DataFrame): Unit = {
    // JSON serde edge (reference JSONB metadata, m1_episodic.py:103-109):
    // accept metadata as a map column, a JSON-string column (parsed
    // here), or absent (empty map) — storage always holds MapType
    val withMeta =
      if (!messages.columns.contains("metadata"))
        messages.withColumn("metadata", typedLit(Map.empty[String, String]))
      else messages.schema("metadata").dataType match {
        case org.apache.spark.sql.types.StringType =>
          messages.withColumn("metadata",
            coalesce(from_json(col("metadata"), Schemas.MetadataType),
              typedLit(Map.empty[String, String])))
        case _ => messages
      }
    // role CHECK constraint as a validation filter on write (m0_raw.py:31-37)
    val valid = withMeta.filter(col("role").isin(ValidRoles: _*))
    val m0 = valid
      .withColumn("token_count", size(tokens(col("content"))))
      .withColumn("processing_status", lit("completed"))
      .select(col("message_id"), col("content"), col("role"), col("user_id"),
        col("session_id"), col("round_id"), col("sequence_number"),
        col("token_count"), col("created_at"),
        // updated_at starts equal to created_at; mutation paths bump it
        // (the reference maintains it with a trigger, m0_raw.py:156-183)
        col("created_at").as("updated_at"), col("processing_status"),
        col("metadata"))
    TableOps.appendBucketed(m0, path("m0_raw"))
    appendChunks(valid)
  }

  /** Chunk → situate → encode → append the m1 rows for a set of VALID
    * messages, maintaining the side indexes incrementally (shared by
    * [[ingest]] and the message-mutation re-chunk paths).
    *
    * `preIndexedIds`: chunk ids already present in the side indexes —
    * the mutation paths pass the ids they just dropped from m1, because
    * chunk ids are content-addressed and unchanged messages regenerate
    * IDENTICAL ids; re-adding those would double their BM25 df/doclen
    * join multiplicity and duplicate their IVF candidate rows. Only
    * genuinely-new ids reach the index maintenance. */
  private def appendChunks(valid: DataFrame,
      preIndexedIds: Seq[String] = Seq.empty): Unit = {
    // C4 integrated dispatch: every strategy lands on the same m1 shape
    // (user_id, session_id, content, m0_raw_ids, created_at, metadata,
    // disc) — disc is a per-strategy uniqueness discriminator folded
    // into the chunk id. C3 token-budget-with-timeout additionally lives
    // in the streaming batcher (StreamingIngest.sessionBatcher).
    val chunkBase: DataFrame = chunking match {
      // C1: one chunk per round, deterministic in-round order
      case "conversation_turn" => valid
        .select(col("user_id"), col("session_id"), col("round_id"),
          col("created_at"), col("sequence_number"), col("metadata"),
          struct(col("sequence_number"), col("message_id"),
            concat(lit("["), col("role"), lit("]: "), col("content")).as("line"))
            .as("entry"))
        .groupBy("user_id", "session_id", "round_id")
        .agg(array_sort(collect_list(col("entry"))).as("entries"),
          max(col("created_at")).as("created_at"),
          // chunk metadata = the round's first message's metadata (min_by
          // avoids ordering on the map type itself)
          min_by(col("metadata"), col("sequence_number")).as("metadata"))
        .select(
          col("user_id"), col("session_id"),
          concat_ws("\n", transform(col("entries"), _.getField("line"))).as("content"),
          transform(col("entries"), _.getField("message_id")).as("m0_raw_ids"),
          col("created_at"), col("metadata"),
          col("round_id").as("disc"))

      // C2: fixed-size character windows with overlap, per message
      case "character" =>
        graft.operators.Chunking
          .characterChunks(valid, "message_id", "content", size = 1000, overlap = 100)
          .join(valid.select(col("message_id"), col("user_id"), col("session_id"),
            col("created_at"), col("metadata")), "message_id")
          .select(col("user_id"), col("session_id"),
            col("chunk_text").as("content"),
            array(col("message_id")).as("m0_raw_ids"),
            col("created_at"), col("metadata"),
            concat(col("message_id"), lit("@"), col("chunk_idx")).as("disc"))

      // C3: greedy token-budget packing per session, with full lineage
      case "token_budget" =>
        val packed = graft.operators.Chunking.tokenBudgetChunks(
          valid, "session_id", "sequence_number", "content",
          budget = 800, idCol = Some("message_id"))
        val sess = valid.groupBy(col("session_id").as("sid"))
          .agg(min_by(col("user_id"), col("sequence_number")).as("user_id"),
            max(col("created_at")).as("created_at"),
            min_by(col("metadata"), col("sequence_number")).as("metadata"))
        packed.join(sess, packed("group_id") === sess("sid"))
          .select(col("user_id"), col("group_id").as("session_id"),
            col("chunk_text").as("content"), col("m0_raw_ids"),
            col("created_at"), col("metadata"),
            col("chunk_idx").cast("string").as("disc"))

      case other => throw new IllegalArgumentException(
        s"unknown chunking strategy '$other' " +
          "(conversation_turn | character | token_budget)")
    }
    // C3 situating-context seam (contextual.py:263-380): the external
    // stage runs between packing and id/encoding, so chunk ids and
    // embeddings are computed over the SITUATED text
    val situated = situating match {
      case Some(stage) => SituatingStage(chunkBase, stage)
      case None        => chunkBase
    }
    val chunks = situated
      .withColumn("chunk_id", concat(col("session_id"), lit("#"),
        sha1(concat_ws("|", col("disc"), col("content")))))
      .drop("disc")
      .withColumn("chunking_strategy", lit(chunking))
      .withColumn("token_count", size(tokens(col("content"))))
      .withColumn("needs_embedding", lit(false))
    val m1New = encoder.encode(chunks, "content")
      .select(col("chunk_id"), col("content"), col("chunking_strategy"),
        col("token_count"), col("embedding"), col("m0_raw_ids"),
        col("user_id"), col("session_id"), col("needs_embedding"),
        col("created_at"), col("created_at").as("updated_at"), col("metadata"))
    val (kw, vec) = (kwIndex, vecIndex)
    val indexed = kw.isDefined || vec.isDefined
    if (indexed) m1New.persist()
    TableOps.appendBucketed(m1New, path("m1_episodic"))
    clearCache() // B5 cache: any write invalidates cached query results
    // incremental index maintenance (the reference maintains FTS5/DiskANN
    // per insert): upsert ONLY what this batch touches — new posting rows
    // in their term buckets, new vectors assigned to existing centroids —
    // never a full rebuild. The quantizer is re-fit only when the
    // un-fit fraction crosses the drift threshold.
    val toIndex =
      if (preIndexedIds.isEmpty) m1New
      else m1New.filter(!col("chunk_id").isin(preIndexedIds: _*))
    kw.foreach(_.addDocuments(
      toIndex.select(col("chunk_id").as("doc_id"), col("content").as("text"))))
    vec.foreach { h =>
      val drift = h.addVectors(
        toIndex.select(col("chunk_id").as("vec_id"), col("embedding")), path("index"))
      if (drift > VectorIndex.RefitDrift) {
        h.refit(m1Vectors).save(path("index"))
        resetTombstones() // full rebuild from live m1 carries no dead docs
      }
    }
    if (indexed) {
      m1New.unpersist()
      dropIndexHandles()
    }
  }

  private def m1Vectors: DataFrame =
    m1.select(col("chunk_id").as("vec_id"), col("embedding"))

  /** m0/m1 are read through the streaming committed view: on a table a
    * streaming writer ever touched, rows of half-flushed (uncommitted)
    * micro-batches are invisible and checkpoint-replay duplicates are
    * collapsed by primary key; a purely batch-written table passes
    * through untouched (no batch_id column → no extra shuffle).
    *
    * The RESOLVED view is held per table the way index handles are held:
    * manifest + commit markers are read once, not once per query (the
    * reference reads a Postgres table — no per-query recovery work).
    * Any facade write invalidates via [[clearCache]]; a snapshot held
    * across someone ELSE's write simply keeps reading its own version
    * (MVCC) — call [[refresh]] to see foreign writes. */
  def m0: DataFrame = cachedView("m0")(
    graft.streaming.StreamingIngest.m0Committed(spark, basePath))
  def m1: DataFrame = cachedView("m1")(
    graft.streaming.StreamingIngest.m1Committed(spark, basePath))

  /** Tenant-scoped m1: the manifest resolves to ONLY the user's hash
    * bucket before any job launches — the file-list-time analogue of
    * partition pruning (1/16 of the segments for 16 buckets). */
  def m1ForUser(userId: String): DataFrame = {
    val b = TableOps.bucketOf(spark, userId)
    cachedView(s"m1#$b")(graft.streaming.StreamingIngest
      .m1Committed(spark, basePath, Some(Seq(b))))
  }

  /** Tenant-scoped m0 (same file-list pruning as [[m1ForUser]]). */
  def m0ForUser(userId: String): DataFrame = {
    val b = TableOps.bucketOf(spark, userId)
    cachedView(s"m0#$b")(graft.streaming.StreamingIngest
      .m0Committed(spark, basePath, Some(Seq(b))))
  }

  @transient private lazy val viewCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def cachedView(key: String)(build: => DataFrame): DataFrame =
    viewCache.getOrElseUpdate(key, build)

  /** Drop cached table views and the held index handles (picks up
    * writes made outside this facade, e.g. a streaming ingest running
    * against the same warehouse — its index upkeep appends files a held
    * handle's listing never sees). */
  def refresh(): Unit = {
    clearCache()
    dropIndexHandles()
  }

  /** F4 item-type filter over the metadata map (reference filters
    * messages/knowledge/chunks by metadata.type, numpy_store.py:532-546)
    * — works for any metadata key. */
  def chunksByMetadata(key: String, value: String): DataFrame =
    m1.filter(col("metadata")(key) === value)

  /** JSON projection of m1 metadata (the to_json edge of the serde). */
  def m1MetadataJson: DataFrame =
    m1.select(col("chunk_id"), to_json(col("metadata")).as("metadata_json"))

  // ---------- query (§3.1: union of scored scans → fusion → rerank) ----------

  /** Hybrid top-k retrieval, the flagship path: vector + keyword scans
    * over the user's chunks, RRF-fused at 2×topK (first_stage_top_k,
    * reference memory_service.py:1553-1555), hydrated, cross-encoder
    * reranked to topK.
    *
    * Two executions, one answer. A tenant of at most [[MemFuse.SnapshotCap]]
    * m1 rows is answered on the DRIVER: its rows are collected once into
    * a snapshot (one job, then held until the next facade write,
    * [[clearCache]] or [[refresh]]) and every score, the fusion, the
    * hydration and the rerank run there ([[DriverQuery]]'s twins, row-
    * for-row identical to the Spark path). The result is a local
    * DataFrame: the work runs when `query` is called, and its `collect()`
    * runs no job. Everything else takes the Spark path, one DataFrame
    * DAG whose scans parallelize and whose tenant filter prunes
    * partitions: a tenant over the cap, `includeGraph`,
    * `includeKnowledge`, `agentId`, a `fusion` other than `rrf`,
    * `freshness`, or a reranker with no driver scorer
    * ([[Reranker.localScorer]]).
    *
    * With `useIndexes = true` (after [[buildIndexes]]) the two scans
    * become INDEX LOOKUPS instead of corpus scans — the IVF probe reads
    * nProbe/nlist of the vectors as partition pruning and BM25 reads
    * only the query terms' posting slices (the reference's whole point:
    * DiskANN + FTS5 side indexes, sqlite_store.py:93-145,
    * m1_episodic.py:148-162). The indexes are table-global, so index
    * hits are over-fetched `indexOversample`× and semi-joined back to
    * the tenant's chunks; the BM25 corpus statistics are likewise global
    * (standard IR semantics) where the scan path's are tenant-scoped —
    * identical whenever one tenant owns the corpus, documented
    * approximation otherwise.
    *
    * `sessionId`/`agentId` narrow the retrieval corpus like the
    * reference's scoped query (api/users.py:206-295,
    * memory_service.py:1508+): sessionId filters m1 directly; agentId
    * resolves to the agent's sessions through the catalog (broadcast
    * semi-join). Knowledge rows are user-level, so a session/agent
    * scope excludes them.
    *
    * With `includeGraph = true` (after [[buildSemanticLayer]]) a THIRD
    * store joins the fused union — the m2 entity vertices scored over
    * their STORED embeddings, tagged `store_type = "graph"` (the
    * reference's T3 three-way hybrid, rag/retrieve/hybrid.py:279-313;
    * its graph store is warehouse-global, graphml_store.py:611-704, so
    * this leg is not tenant-scoped). Graph hits hydrate with the entity
    * name as content and `session_id = "graph"`; their fusion weight is
    * `weights("graph")`, defaulting to 0.75 between vector and keyword. */
  /** `fusion` selects the rank-fusion strategy (`rrf` | `weighted` |
    * `normalized` — A1–A3; the reference picks via ScoreFusionStrategy,
    * rag/fusion/strategies.py:11-28). `freshness` multiplies the fused
    * scores by the K11 recency factor over chunk `created_at`
    * (hybrid.py:517-562) before reranking; graph-leg hits carry no
    * timestamp and pass through unboosted. */
  def query(
      text: String,
      userId: String,
      topK: Int = 5,
      rrfK: Double = 60.0,
      weights: Map[String, Double] = Map("vector" -> 1.0, "keyword" -> 0.5),
      similarityThreshold: Double = 0.0,
      useIndexes: Boolean = false,
      nProbe: Int = 2,
      indexOversample: Int = 4,
      includeKnowledge: Boolean = false,
      includeGraph: Boolean = false,
      sessionId: Option[String] = None,
      agentId: Option[String] = None,
      fusion: String = "rrf",
      freshness: Option[Double] = None): DataFrame = {
    val onDriver = reranker.localScorer(text)
      .filter(_ => !includeGraph && !includeKnowledge && agentId.isEmpty &&
        fusion == "rrf" && freshness.isEmpty)
      .flatMap(score => tenantSnapshot(userId).map(snap => queryOnDriver(snap, score,
        text, topK, rrfK, weights, similarityThreshold, useIndexes, nProbe,
        indexOversample, sessionId)))
    if (onDriver.isDefined) return onDriver.get

    val firstStage = 2 * topK
    val tenantChunks = m1ForUser(userId).filter(col("user_id") === userId)
    val chunks = (sessionId, agentId) match {
      case (Some(sid), _) => tenantChunks.filter(col("session_id") === sid)
      case (None, Some(aid)) =>
        val agentSessions = sessions.filter(col("agent_id") === aid)
          .select(col("session_id").as("__sid"))
        tenantChunks.join(broadcast(agentSessions),
          col("session_id") === col("__sid"), "left_semi")
      case _ => tenantChunks
    }
    val scoped = sessionId.isDefined || agentId.isDefined
    val terms = text.split(" ").filter(_.nonEmpty).toSeq
    val qvec = typedLit(encoder.encodeOne(text).toSeq)

    // the retrieval corpus: the tenant's chunks, optionally ∪ their
    // knowledge rows (include_knowledge — the reference stores both in
    // one vector store and filters by item type, numpy_store.py:532-546)
    val corpusCols =
      Seq("chunk_id", "content", "embedding", "session_id", "token_count", "created_at")
    val chunkCorpus = chunks.select(corpusCols.map(col): _*)
    val knCorpus =
      if (!includeKnowledge || scoped) None
      else Some(knowledge(userId).select(
        col("knowledge_id").as("chunk_id"), col("content"), col("embedding"),
        lit("knowledge").as("session_id"),
        size(tokens(col("content"))).as("token_count"),
        col("created_at")))
    val corpus = knCorpus.fold(chunkCorpus)(chunkCorpus.unionByName(_))
    // graph leg corpus: m2 entity vertices with their stored embeddings,
    // hydrating as (entity-name content, session_id = "graph"); vertices
    // carry no timestamp → null created_at (never freshness-boosted)
    val graphCorpus =
      if (!includeGraph) None
      else Some(m2Vertices.select(
        col("id").as("chunk_id"), col("id").as("content"), col("embedding"),
        lit("graph").as("session_id"),
        size(tokens(col("id"))).as("token_count"),
        lit(null).cast("timestamp").as("created_at")))

    // index fetch size: the side indexes are table-global and hits are
    // semi-joined back to the scope, so a SCOPED query must over-fetch
    // in proportion to the scope's selectivity or a tiny session's docs
    // never crack the global top-N (recall starvation). Scale by
    // total/scope doc counts, capped at the whole index — the scope
    // count is one job over the bucket-pruned chunks (catalog row stats
    // at warehouse scale).
    lazy val idxFetch: Int = indexFetch(indexOversample * firstStage, scoped, chunks.count())

    val vector =
      (if (useIndexes) {
        // indexed candidates come from the m1 vector index, scored with
        // the scan path's trunc6 cosines whatever the backend, so fusion
        // semantics don't depend on it; knowledge (a small side table,
        // not vector-indexed) is scanned and unioned
        val vecHits = required(vecIndex)
          .candidates(encoder.encodeOne(text), idxFetch, nProbe, m1Vectors)
          .join(chunks.select(col("chunk_id")), col("id") === col("chunk_id"), "left_semi")
        knCorpus.fold(vecHits)(k => vecHits.unionByName(
          k.withColumn("score", trunc6(VectorFunctions.cosine(col("embedding"), qvec)))
            .select(col("chunk_id").as("id"), col("score"))))
      } else
        corpus
          .withColumn("score", trunc6(VectorFunctions.cosine(col("embedding"), qvec)))
          .select(col("chunk_id").as("id"), col("score")))
        .filter(col("score") >= similarityThreshold)
        .orderBy(col("score").desc, col("id"))
        .limit(firstStage)
        .withColumn("store_type", lit("vector"))

    val keyword =
      (if (useIndexes)
        required(kwIndex)
          .bm25(terms, idxFetch)
          .join(chunks.select(col("chunk_id")), col("id") === col("chunk_id"), "left_semi")
      else
        Retrieval.bm25(
          corpus.select(col("chunk_id").as("doc_id"), col("content").as("text")),
          terms, firstStage))
        .orderBy(col("score").desc, col("id"))
        .limit(firstStage)
        .withColumn("store_type", lit("keyword"))

    val graph = graphCorpus.map(gv =>
      gv.withColumn("score", trunc6(VectorFunctions.cosine(col("embedding"), qvec)))
        .select(col("chunk_id").as("id"), col("score"))
        .orderBy(col("score").desc, col("id"))
        .limit(firstStage)
        .withColumn("store_type", lit("graph")))

    val united = graph.foldLeft(vector.unionByName(keyword))(_ unionByName _)
    val fusionWeights =
      if (includeGraph && !weights.contains("graph")) weights + ("graph" -> 0.75)
      else weights
    val fused = fusion match {
      case "rrf"        => Fusion.rrf(united, rrfK, fusionWeights, firstStage)
      case "weighted"   => Fusion.weightedSum(united, fusionWeights, firstStage)
      case "normalized" => Fusion.normalizedWeightedSum(united, fusionWeights, firstStage)
      case other => throw new IllegalArgumentException(
        s"unknown fusion strategy '$other' (rrf | weighted | normalized)")
    }
    val hydrationCorpus = graphCorpus.fold(corpus)(corpus.unionByName(_))
    val hydrated = fused
      .join(hydrationCorpus, fused("id") === hydrationCorpus("chunk_id"))
      .select(col("id"), col("content"), col("fused_score"),
        col("session_id"), col("token_count"), col("created_at"))
    val boosted = freshness match {
      case Some(b) =>
        // age against the corpus max created_at (deterministic "now");
        // null created_at (graph leg) passes through unboosted
        val maxTs = corpus.agg(max(unix_micros(col("created_at"))).as("max_us"))
        hydrated.crossJoin(broadcast(maxTs))
          .withColumn("fused_score", coalesce(
            graft.operators.EventOps.boostedScore(
              col("fused_score"), unix_micros(col("created_at")), col("max_us"), b),
            col("fused_score")))
          .drop("max_us")
      case None => hydrated
    }
    reranker.rerank(boosted.drop("created_at"), text, topK)
  }

  private def indexFetch(base: Int, scoped: Boolean, scopeN: => Long): Int =
    if (!scoped) base
    else {
      val n = scopeN
      if (n == 0) base
      else {
        val totalN = nIndexed
        val scale = math.max(1L, math.ceil(totalN.toDouble / n).toLong)
        math.min(math.min(base.toLong * scale, math.max(totalN, base.toLong)),
          Int.MaxValue.toLong).toInt
      }
    }

  /** [[query]] below the cap, over the tenant's snapshot. The index legs
    * still run in Spark, one collected call each; their semi-join to the
    * scope and everything after run here. */
  private def queryOnDriver(snap: DriverQuery.Snapshot, score: String => Double,
      text: String, topK: Int, rrfK: Double, weights: Map[String, Double],
      similarityThreshold: Double, useIndexes: Boolean, nProbe: Int,
      indexOversample: Int, sessionId: Option[String]): DataFrame = {
    import DriverQuery.{Hit, topHits}
    val firstStage = 2 * topK
    val scope = sessionId.fold(snap.docs)(sid => snap.docs.filter(_.sessionId == sid))
    val terms = text.split(" ").filter(_.nonEmpty).toSeq
    val q = encoder.encodeOne(text)
    val (vecHits, kwHits) =
      if (!useIndexes)
        (DriverQuery.cosineHits(scope, q), DriverQuery.bm25(scope, terms, firstStage))
      else {
        val (vec, kw) = (required(vecIndex), required(kwIndex))
        val ids = scope.iterator.map(_.id).toSet
        lazy val fetch =
          indexFetch(indexOversample * firstStage, sessionId.isDefined, scope.size)
        def inScope(legHits: => DataFrame): Seq[Hit] =
          if (scope.isEmpty) Nil
          else legHits.collect().toSeq.map(r => Hit(r.getString(0), r.getDouble(1)))
            .filter(h => ids(h.id))
        (inScope(vec.candidates(q, fetch, nProbe, m1Vectors)), inScope(kw.bm25(terms, fetch)))
      }
    val fused = DriverQuery.rrf(Seq(
      "vector" -> topHits(DriverQuery.atLeast(vecHits, similarityThreshold), firstStage),
      "keyword" -> topHits(kwHits, firstStage)), rrfK, weights, firstStage)
    spark.createDataFrame(java.util.Arrays.asList(
      DriverQuery.rerank(fused, scope, score, topK): _*), snap.resultSchema)
  }

  /** The tenant's m1 rows (`chunk_id, content, embedding, session_id,
    * token_count`, from the bucket-pruned [[m1ForUser]] view), collected
    * in one job of one task that reads the view's partitions in turn and
    * stops at `cap + 1` rows: an over-cap tenant ships at most that many
    * to the driver, however many files its bucket holds (a plain
    * `limit` would scan one partition, then more per job, one job each).
    * None over the cap. Held as long as that view: until [[clearCache]]. */
  private def tenantSnapshot(userId: String): Option[DriverQuery.Snapshot] = {
    val cap = snapshotCap
    if (cap < 0) return None
    snapshots.get(userId).getOrElse {
      val gen = snapshots.generation
      val cols = m1ForUser(userId).filter(col("user_id") === userId).select(
        col("chunk_id"), col("content"), col("embedding"), col("session_id"),
        col("token_count"))
      val rows = cols.coalesce(1).limit(cap + 1).collect()
      val docs = rows.flatMap(DriverQuery.Doc.of).toVector
      val snap = Option.when(rows.length <= cap && docs.size == rows.length)(
        DriverQuery.Snapshot.of(docs, cols.schema))
      snapshots.put(userId, snap, gen)
      snap
    }
  }

  @transient private lazy val snapshots = new DriverQuery.SnapshotCache(MemFuse.SnapshotRowBudget)
  private var capRows: Int = MemFuse.SnapshotCap
  /** The snapshot row cap; negative sends every query to the Spark path.
    * Setting it drops the held snapshots. */
  private[graft] def snapshotCap: Int = capRows
  private[graft] def snapshotCap_=(n: Int): Unit = { capRows = n; clearCache() }

  /** Build the persisted side indexes over the current m1 chunks: the
    * term-bucket-partitioned BM25 postings (KeywordIndex) and ONE vector
    * index, the backend `vectorIndex` names ([[VectorIndex.build]]:
    * cluster-partitioned IVF by default, or the pq / ivfpq code tables;
    * the reference similarly selects among pluggable vector stores,
    * store/vector_store/). The chosen family SUPERSEDES the others:
    * their pointers are retired, so [[VectorIndex.open]] — which takes
    * ivfpq, then pq, then ivf — finds exactly this one.
    * Per-batch upkeep is incremental (see [[ingest]]); a full rebuild
    * is needed only after quantizer drift or bulk deletes. Each build
    * commits a fresh version dir with a pointer CAS: a query racing a
    * rebuild keeps its own version, and the next open sees the new one
    * — the same reopen-after-reindex contract as the reference's FTS5. */
  def buildIndexes(nlist: Int = 4, vectorIndex: String = "ivf"): Unit = {
    new KeywordIndex(spark, path("index"))
      .build(m1.select(col("chunk_id").as("doc_id"), col("content").as("text")))
    VectorIndex.build(vectorIndex, m1Vectors, nlist).save(path("index"))
    VectorIndex.Kinds.filter(_ != vectorIndex)
      .foreach(TableOps.dropArtifactPointers(spark, path("index"), _))
    resetTombstones() // a full rebuild carries no deleted docs
    dropIndexHandles() // the next indexed query reopens
  }

  // open index handles, held like the reference holds its FTS/DiskANN
  // connections: centroids collected once, file listings resolved once —
  // NOT once per query. A family found absent is looked up again on the
  // next call. Invalidated by rebuilds, ingest upkeep and [[refresh]].
  @transient private object indexHandles
  @transient private var kwHandle: Option[KeywordIndex] = None
  @transient private var vecHandle: Option[VectorIndex] = None
  private def kwIndex: Option[KeywordIndex] = indexHandles.synchronized {
    if (kwHandle.isEmpty &&
        TableOps.currentArtifactDir(spark, path("index"), "kw").isDefined)
      kwHandle = Some(new KeywordIndex(spark, path("index")))
    kwHandle
  }
  private def vecIndex: Option[VectorIndex] = indexHandles.synchronized {
    if (vecHandle.isEmpty) vecHandle = VectorIndex.open(spark, path("index"))
    vecHandle
  }
  private def dropIndexHandles(): Unit = indexHandles.synchronized {
    kwHandle = None; vecHandle = None
  }
  private def required[T](h: Option[T]): T = h.getOrElse(throw new IllegalStateException(
    s"no side index under ${path("index")}: run buildIndexes() before useIndexes = true"))

  // ---------- delete-aware index maintenance ----------
  // The reference deletes per row from FTS5 / its vector stores
  // (sqlite_store.py:147+); a term-bucketed parquet index can't cheaply
  // rewrite the posting files one doc at a time, so deletes TOMBSTONE:
  // stale entries are correctness-inert (every indexed hit semi-joins
  // back to live chunks) but accumulate under churn, and [[maintain]]
  // rebuilds the live indexes once [[indexStaleFraction]] crosses its
  // threshold — amortized O(1) rebuilds instead of per-delete rewrites.

  private def tombstonePath = s"${path("index")}/tombstones"

  /** Any FULL index rebuild from live m1 carries no deleted docs — the
    * tombstone log must reset with it, or indexStaleFraction keeps
    * reporting dead ids the fresh index never contained (and the next
    * maintain() performs a pointless second rebuild). */
  private def resetTombstones(): Unit = {
    val p = new org.apache.hadoop.fs.Path(tombstonePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def indexesExist: Boolean = kwIndex.isDefined || vecIndex.isDefined

  /** Documents the side indexes carry, live + tombstoned (the keyword
    * index's count when it exists, else the vector index's). */
  private def nIndexed: Long =
    kwIndex.map(_.nDocs).orElse(vecIndex.map(_.nVectors)).getOrElse(0L)

  /** Record deleted chunk ids (no-op when no side index exists). The
    * input frame must be built over the PRE-delete snapshot. Writes are
    * serialized: two concurrent parquet Appends to one dir race on the
    * shared _temporary staging (committer v1 deletes it wholesale). */
  @transient private lazy val tombstoneLock = new Object
  private def tombstone(deadChunkIds: DataFrame): Unit =
    if (indexesExist) tombstoneLock.synchronized {
      deadChunkIds.select(col("chunk_id").cast("string").as("doc_id"))
        .write.mode(SaveMode.Append).parquet(tombstonePath)
    }

  private def tombstonesDf: DataFrame =
    if (TableOps.exists(spark, tombstonePath)) spark.read.parquet(tombstonePath)
    else emptyDf(new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.StringType))

  /** Fraction of indexed documents whose chunks have been deleted since
    * the last (re)build — the index-bloat metric deletion churn accrues
    * against; [[maintain]] rebuilds past `indexStaleThreshold`. */
  def indexStaleFraction: Double = {
    if (!indexesExist || !TableOps.exists(spark, tombstonePath)) return 0.0
    val nDead = tombstonesDf.select("doc_id").distinct().count().toDouble
    if (nDead == 0) return 0.0
    val n = nIndexed.toDouble
    if (n == 0) 0.0 else math.min(1.0, nDead / n)
  }

  /** Rebuild whichever side indexes exist from the current (post-delete)
    * m1 and reset the tombstone log — triggered by [[maintain]]. */
  private def rebuildStaleIndexes(): Unit = {
    kwIndex.foreach(_.build(
      m1.select(col("chunk_id").as("doc_id"), col("content").as("text"))))
    vecIndex.foreach(_.withoutDead(m1Vectors).save(path("index")))
    resetTombstones()
    dropIndexHandles()
  }

  /** J5 session fan-out, collapsed to one job: where the reference loops
    * over a user's sessions issuing one query each (api/users.py:265-295),
    * the scan is already tenant-wide — scoring once and ranking within
    * each session replaces N queries with one DAG.
    *
    * On a session built with [[graft.GraftExtensions]] the per-session
    * cut runs through the custom [[graft.plans.TopKPerKey]] operator
    * (bounded heaps, no windowed full sort — the survivors, k rows per
    * session, then take a tiny window just to number the ranks); on a
    * plain session it falls back to the window idiom. */
  def queryPerSession(text: String, userId: String, topKPerSession: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qvec = typedLit(encoder.encodeOne(text).toSeq)
    val w = Window.partitionBy("session_id")
      .orderBy(col("score").desc, col("chunk_id"))
    val scored = m1ForUser(userId).filter(col("user_id") === userId)
      .withColumn("score", trunc6(VectorFunctions.cosine(col("embedding"), qvec)))
    val heapStrategyRegistered = spark.sessionState.planner.strategies
      .exists(_ eq graft.plans.TopKPerKeyStrategy)
    val cut =
      if (heapStrategyRegistered)
        graft.plans.TopKPerKey(scored, Seq("session_id"),
          Seq(col("score").desc, col("chunk_id")), topKPerSession)
          .withColumn("rank_in_session", row_number().over(w))
      else
        scored.withColumn("rank_in_session", row_number().over(w))
          .filter(col("rank_in_session") <= topKPerSession)
    cut
      .select(col("session_id"), col("rank_in_session"),
        col("chunk_id").as("id"), col("content"), col("score"))
      .orderBy(col("session_id"), col("rank_in_session"))
  }

  /** Storage maintenance pass, run on the compaction cadence (the
    * reference leans on Postgres autovacuum + its stores' own index
    * upkeep; a parquet warehouse does this explicitly): fold the
    * streaming commit markers into their manifest, compact every table
    * whose manifest references more than `maxSegments` segments, and
    * vacuum generations beyond `keepVersions`. Readers holding current
    * snapshots are unaffected (MVCC); only vacuumed-away OLD versions
    * become unreadable. */
  def maintain(maxSegments: Int = 8, keepVersions: Int = 2,
      indexStaleThreshold: Double = 0.3,
      onPhase: (String, Double) => Unit = (_, _) => ()): Boolean = {
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      onPhase(name, (System.nanoTime() - t0) / 1e9)
      r
    }
    timed("commit_fold") {
      graft.streaming.StreamingIngest.compactCommits(spark, basePath)
    }
    val tables = Seq("m0_raw", "m1_episodic", "knowledge", "users",
      "agents", "sessions", "rounds", "api_keys")
      .filter(t => TableOps.exists(spark, path(t)))
    timed("compact") {
      tables.foreach { t =>
        if (TableOps.segmentCount(spark, path(t)) > maxSegments)
          TableOps.compact(spark, path(t))
      }
    }
    // delete-aware index upkeep: once the tombstoned fraction crosses
    // the threshold, rebuild the live indexes from the current m1 —
    // bounding index bloat under deletion churn without per-delete
    // posting-file rewrites. The timed "rebuild" phase is 0 when the
    // fraction is under threshold — the bench sub-entry makes a
    // rebuild-every-cycle regression visible instead of hiding it in
    // the cycle total.
    val rebuilt = timed("rebuild") {
      val fire = indexStaleFraction > indexStaleThreshold
      if (fire) rebuildStaleIndexes()
      fire
    }
    timed("vacuum") {
      tables.foreach(t => TableOps.vacuum(spark, path(t), keepVersions))
      // superseded side-index and derived-layer versions (rebuilds keep
      // the previous version alive for handles opened before the rebuild)
      ("kw" +: VectorIndex.Kinds).foreach(
        TableOps.vacuumArtifacts(spark, path("index"), _, keepVersions))
      TableOps.vacuumArtifacts(spark, path("m2"), "sem", keepVersions)
      TableOps.vacuumArtifacts(spark, path("episodes"), "ep", keepVersions)
    }
    clearCache()
    rebuilt
  }

  /** A9 store stats counters (the reference's per-store stats surface):
    * row counts per table as ONE union-of-counts job — the eight table
    * scans run as parallel stages of a single action instead of eight
    * serial count jobs; at scale these come from the Spark metrics
    * system / table metadata rather than count scans. */
  def storeStats: DataFrame = {
    val counts = Seq("m0_raw", "m1_episodic", "knowledge", "users", "agents",
      "sessions", "rounds", "api_keys")
      .map { t =>
        val n =
          if (TableOps.exists(spark, path(t)))
            TableOps.read(spark, path(t)).agg(count(lit(1)).as("n_rows"))
          else spark.range(1).select(lit(0L).as("n_rows"))
        n.select(lit(t).as("table"), col("n_rows"))
      }
    counts.reduce(_.unionByName(_))
  }

  /** A6 chunk stats rollup (reference memory_service.py:690-734). */
  def chunkStats: DataFrame =
    m1.groupBy("session_id", "chunking_strategy")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("token_count")).as("total_tokens"),
        avg(col("token_count")).as("avg_tokens"))
      .orderBy("session_id", "chunking_strategy")

  /** Session message read (S2): sorted, limited scan. When the session
    * is cataloged, its owner's bucket prunes the file list first (a
    * one-row catalog point lookup, like the reference's session→user FK
    * resolution); uncataloged fixtures fall back to the full view. */
  def messagesBySession(
      sessionId: String, limit: Int = 20, ascending: Boolean = true): DataFrame = {
    val owner = sessions.filter(col("session_id") === sessionId)
      .select("user_id").limit(1).collect().headOption.map(_.getString(0))
    val base = owner.fold(m0)(m0ForUser)
    val sorted = base.filter(col("session_id") === sessionId)
    val keys = Seq(col("sequence_number"), col("message_id"))
    sorted.orderBy((if (ascending) keys else keys.map(_.desc)): _*).limit(math.min(limit, 100))
  }

  // ---------- message mutations (reference update/delete message APIs;
  // m0_raw.py:156-183 maintains updated_at, the m0→m1 derivation is
  // re-run for the affected scope) ----------

  /** Update one message's content: rewrite the owner's m0 bucket
    * (content, token_count, updated_at — created_at never changes), drop
    * every m1 chunk derived from the affected scope and re-chunk it from
    * the updated m0. Chunk ids are content-addressed, so the regenerated
    * chunk gets a new id and a fresh embedding. The affected scope is
    * the message's ROUND for per-round/per-message chunking strategies
    * and its whole SESSION for `token_budget` (whose chunks pack across
    * rounds). Stale index entries for dropped chunk ids are harmless —
    * indexed hits semi-join back to live chunk ids — and clear on the
    * next rebuild. */
  def updateMessage(messageId: String, content: String): Unit =
    mutateMessage(messageId) { (df, me) =>
      val t = now()
      df.withColumn("content", when(me, lit(content)).otherwise(col("content")))
        .withColumn("token_count",
          when(me, size(tokens(lit(content)))).otherwise(col("token_count")))
        .withColumn("updated_at", when(me, lit(t)).otherwise(col("updated_at")))
    }

  /** Delete one message and re-derive its scope's chunks (the m0→m1
    * analogue of ON DELETE CASCADE). */
  def deleteMessage(messageId: String): Unit =
    mutateMessage(messageId)((df, me) => df.filter(!me))

  private def mutateMessage(messageId: String)(
      f: (DataFrame, Column) => DataFrame): Unit = {
    val hit = m0.filter(col("message_id") === messageId)
      .select("user_id", "session_id", "round_id").limit(1).collect().headOption
    hit.foreach { r =>
      val (uid, sid, rid) = (r.getString(0), r.getString(1), r.getString(2))
      val bucket = TableOps.bucketOf(spark, uid)
      val scope: Column = // token_budget packs across rounds → session scope
        if (chunking == "token_budget") col("session_id") === sid
        else col("session_id") === sid && col("round_id") === rid
      // lineage ids of the PRE-mutation scope (bounded by one round /
      // session of a conversation — a point-mutation-sized collect)
      val preIds = m0.filter(col("user_id") === uid && scope)
        .select("message_id").collect().map(_.getString(0)).toSeq
      // chunk ids being dropped — they stay in the side indexes, so the
      // re-chunk below must NOT re-index ids it merely regenerates
      val preChunkIds =
        if (indexesExist)
          m1ForUser(uid).filter(col("user_id") === uid &&
            arrays_overlap(col("m0_raw_ids"), typedLit(preIds)))
            .select("chunk_id").collect().map(_.getString(0)).toSeq
        else Seq.empty[String]
      TableOps.rewriteBucket(spark, path("m0_raw"), bucket)(df =>
        f(df, col("message_id") === messageId))
      TableOps.rewriteBucket(spark, path("m1_episodic"), bucket)(df =>
        df.filter(!arrays_overlap(col("m0_raw_ids"), typedLit(preIds))))
      clearCache() // the re-chunk below must see the rewritten m0
      val remaining = m0ForUser(uid).filter(col("user_id") === uid && scope)
      if (!remaining.isEmpty) appendChunks(remaining, preIndexedIds = preChunkIds)
      clearCache()
      // dropped ids that the re-chunk did NOT regenerate are now stale
      // index entries — tombstone them for maintain()'s rebuild trigger
      if (preChunkIds.nonEmpty) {
        val live = m1ForUser(uid)
          .filter(col("user_id") === uid && col("session_id") === sid)
          .select("chunk_id").collect().map(_.getString(0)).toSet
        val dead = preChunkIds.filterNot(live)
        if (dead.nonEmpty) {
          import spark.implicits._
          tombstone(dead.toDF("chunk_id"))
        }
        clearCache()
      }
    }
  }

  // ---------- relational catalog (reference postgres.py:167-253):
  // users / agents / sessions / rounds / api_keys with FK cascades ----------

  private def emptyDf(schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def readOr(table: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (TableOps.exists(spark, path(table))) TableOps.read(spark, path(table))
    else emptyDf(schema)

  private def now() = new java.sql.Timestamp(System.currentTimeMillis())

  def createUser(userId: String, name: String): Unit = {
    import spark.implicits._
    val t = now()
    TableOps.append(
      Seq((userId, name, t, t)).toDF("user_id", "name", "created_at", "updated_at"),
      path("users"))
  }

  def createAgent(agentId: String, name: String): Unit = {
    import spark.implicits._
    val t = now()
    TableOps.append(
      Seq((agentId, name, t, t)).toDF("agent_id", "name", "created_at", "updated_at"),
      path("agents"))
  }

  def createSession(sessionId: String, userId: String, agentId: String): Unit = {
    import spark.implicits._
    val t = now()
    TableOps.append(
      Seq((sessionId, userId, agentId, t, t))
        .toDF("session_id", "user_id", "agent_id", "created_at", "updated_at"),
      path("sessions"))
  }

  def createRound(roundId: String, sessionId: String): Unit = {
    import spark.implicits._
    val t = now()
    TableOps.append(
      Seq((roundId, sessionId, t, t))
        .toDF("round_id", "session_id", "created_at", "updated_at"),
      path("rounds"))
  }

  /** api_keys with the reference's full column set (postgres.py:243-253):
    * free-form `permissions` (JSONB → map) and nullable `expires_at`. */
  def createApiKey(
      keyId: String, userId: String, keyHash: String,
      permissions: Map[String, String] = Map.empty,
      expiresAt: Option[java.sql.Timestamp] = None): Unit = {
    import spark.implicits._
    val t = now()
    TableOps.append(
      Seq((keyId, userId, keyHash, expiresAt.orNull, t, t))
        .toDF("key_id", "user_id", "key_hash", "expires_at", "created_at", "updated_at")
        .withColumn("permissions", typedLit(permissions))
        .select("key_id", "user_id", "key_hash", "permissions", "expires_at",
          "created_at", "updated_at"),
      path("api_keys"))
  }

  /** Key validation (the API-gateway check): the hash must exist, be
    * unexpired at `at`, and — when `permission` is given — carry that
    * permission with value "true" in its permissions map. */
  def validateKey(
      keyHash: String,
      permission: Option[String] = None,
      at: java.sql.Timestamp = now()): Boolean = {
    val live = apiKeys.filter(col("key_hash") === keyHash)
      .filter(col("expires_at").isNull || col("expires_at") > lit(at))
    val authorized = permission match {
      case Some(p) => live.filter(col("permissions")(p) === "true")
      case None    => live
    }
    !authorized.limit(1).isEmpty
  }

  def users: DataFrame = readOr("users", Schemas.usersSchema)
  def agents: DataFrame = readOr("agents", Schemas.agentsSchema)
  def sessions: DataFrame = readOr("sessions", Schemas.sessionsSchema)
  def rounds: DataFrame = readOr("rounds", Schemas.roundsSchema)
  def apiKeys: DataFrame = readOr("api_keys", Schemas.apiKeysSchema)

  /** S2 through the catalog: session → rounds → m0 messages (reference
    * get_messages_by_session joins through rounds, base.py:821-874). */
  def messagesBySessionViaRounds(sessionId: String, limit: Int = 20): DataFrame = {
    val r = rounds.filter(col("session_id") === sessionId)
      .select(col("round_id").as("rid"))
    m0.join(broadcast(r), col("round_id") === col("rid"), "left_semi")
      .orderBy(col("sequence_number"), col("message_id"))
      .limit(math.min(limit, 100))
  }

  /** Cascade delete of a session: rounds + the session's m0/m1 rows
    * (scoped to the owning user's bucket via the catalog FK). */
  def deleteSession(sessionId: String): Unit = {
    val owner = sessions.filter(col("session_id") === sessionId)
      .select("user_id").collect().headOption.map(_.getString(0))
    owner.foreach { uid =>
      val bucket = TableOps.bucketOf(spark, uid)
      if (indexesExist) // pre-delete snapshot: tombstone the victim chunks
        tombstone(m1ForUser(uid).filter(
          col("user_id") === uid && col("session_id") === sessionId)
          .select("chunk_id"))
      Seq("m0_raw", "m1_episodic").foreach { t =>
        TableOps.rewriteBucket(spark, path(t), bucket)(
          _.filter(col("session_id") =!= sessionId))
      }
    }
    if (TableOps.exists(spark, path("rounds")))
      TableOps.rewriteTable(spark, path("rounds"))(
        _.filter(col("session_id") =!= sessionId))
    if (TableOps.exists(spark, path("sessions")))
      TableOps.rewriteTable(spark, path("sessions"))(
        _.filter(col("session_id") =!= sessionId))
    clearCache()
  }

  /** Cascade delete of an agent (reference: sessions FK agent_id ON
    * DELETE CASCADE, postgres.py:193-203): the agent's sessions, their
    * rounds and their m0/m1 rows go with it. The m0/m1 rewrite touches
    * only the buckets of users who actually had sessions with this
    * agent. */
  def deleteAgent(agentId: String): Unit = {
    // victim sessions stay a DATAFRAME (broadcast anti-join inside each
    // rewrite) — no driver collect of the id list, so the cascade scales
    // with any number of sessions per agent. Only the ≤ BucketCount
    // affected bucket ids are collected (index metadata, bounded).
    val victims = sessions.filter(col("agent_id") === agentId)
    val buckets = victims.select(TableOps.userBucket.as("b"))
      .distinct().collect().map(_.getLong(0))
    if (buckets.nonEmpty) {
      val victimIds = broadcast(victims.select("session_id"))
      if (indexesExist) // pre-delete snapshot: tombstone the victim chunks
        tombstone(m1.join(victimIds, Seq("session_id"), "left_semi")
          .select("chunk_id"))
      buckets.foreach { bucket =>
        Seq("m0_raw", "m1_episodic").foreach { t =>
          TableOps.rewriteBucket(spark, path(t), bucket)(
            _.join(victimIds, Seq("session_id"), "left_anti"))
        }
      }
      if (TableOps.exists(spark, path("rounds")))
        TableOps.rewriteTable(spark, path("rounds"))(
          _.join(victimIds, Seq("session_id"), "left_anti"))
      if (TableOps.exists(spark, path("sessions")))
        TableOps.rewriteTable(spark, path("sessions"))(
          _.filter(col("agent_id") =!= agentId))
    }
    if (TableOps.exists(spark, path("agents")))
      TableOps.rewriteTable(spark, path("agents"))(
        _.filter(col("agent_id") =!= agentId))
    clearCache()
  }

  /** Cascade delete of a user (reference: ON DELETE CASCADE,
    * postgres.py:200-252): anti-filter rewrite of ONLY the user's hash
    * bucket in m0/m1 — 15/16 of each table's files are never read or
    * written, with a recovery-ordered swap (TableOps.rewriteBucket) —
    * plus the catalog cascades: sessions, their rounds, api_keys and
    * knowledge. */
  def deleteUser(userId: String): Unit = {
    val bucket = TableOps.bucketOf(spark, userId)
    if (indexesExist) // pre-delete snapshot: tombstone the victim chunks
      tombstone(m1ForUser(userId).filter(col("user_id") === userId)
        .select("chunk_id"))
    Seq("m0_raw", "m1_episodic").foreach { t =>
      TableOps.rewriteBucket(spark, path(t), bucket)(
        _.filter(col("user_id") =!= userId))
    }
    // anti-join against the victim-session frame — no driver collect of
    // the id list (the sessions table is only rewritten AFTER this, so
    // the lazy read here still sees the pre-delete catalog)
    val victimIds = broadcast(
      sessions.filter(col("user_id") === userId).select("session_id"))
    if (TableOps.exists(spark, path("rounds")))
      TableOps.rewriteTable(spark, path("rounds"))(
        _.join(victimIds, Seq("session_id"), "left_anti"))
    Seq("sessions", "api_keys", "users", "knowledge").foreach { t =>
      if (TableOps.exists(spark, path(t)))
        TableOps.rewriteTable(spark, path(t))(
          _.filter(col("user_id") =!= userId))
    }
    clearCache()
  }

  // ---------- query-result cache + quality gate (B5, reference
  // buffer/query_buffer.py:102-215: cache check → buffer-first routing →
  // quality gate ≥0.7 → storage supplement) ----------

  private val resultCache =
    new java.util.LinkedHashMap[(String, String, Int), Array[org.apache.spark.sql.Row]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Int), Array[org.apache.spark.sql.Row]]): Boolean =
        size() > 100 // reference cache_size=100
    }

  /** Cached hybrid query: driver-side LRU keyed by the (query, user,
    * topK) tuple — no joined string, so no two tenants' keys can meet —
    * the Spark analogue of QueryBuffer's result cache. Returns collected
    * rows (the API-response shape). */
  def queryCached(text: String, userId: String, topK: Int = 5): Array[org.apache.spark.sql.Row] =
    resultCache.synchronized {
      val key = (text, userId, topK)
      val hit = resultCache.get(key)
      if (hit != null) hit
      else {
        val rows = query(text, userId, topK).collect()
        resultCache.put(key, rows)
        rows
      }
    }

  def clearCache(): Unit = {
    resultCache.synchronized(resultCache.clear())
    viewCache.clear()
    snapshots.clear()
  }

  /** Buffer-first routing with quality gate: score the (cheap, recent)
    * `recent` frame first; if avg rerank quality ≥ `qualityGate` and
    * enough rows, skip the full-store query — else supplement from
    * storage (reference query_buffer.py:170-215). */
  def routedQuery(
      text: String, userId: String, topK: Int,
      recent: DataFrame, qualityGate: Double = 0.7): DataFrame = {
    val enc = encoder
    val qvec = typedLit(enc.encodeOne(text).toSeq)
    val bufferHits = enc.encode(
      recent.filter(col("user_id") === userId).select(
        col("chunk_id").as("id"), col("content"), col("session_id"),
        col("token_count")), "content")
      .withColumn("fused_score", trunc6(VectorFunctions.cosine(col("embedding"), qvec)))
      .drop("embedding")
      .orderBy(col("fused_score").desc, col("id"))
      .limit(topK)
    val scored = reranker.rerank(bufferHits, text, topK)
    val quality = scored.agg(avg(col("rerank_score"))).collect()(0)
    val qOk = !quality.isNullAt(0) && quality.getDouble(0) >= qualityGate &&
      scored.count() >= topK
    if (qOk) scored else query(text, userId, topK)
  }

  // ---------- knowledge CRUD (S10, reference memory_service.py:1327-1507) ----------

  /** Knowledge rows are EMBEDDED AT WRITE (the reference keeps knowledge
    * in the same vector store as messages and filters by item type,
    * numpy_store.py:532-546) so retrieval never re-encodes them. */
  def addKnowledge(userId: String, items: Seq[String]): Unit = {
    import spark.implicits._
    val t = now()
    TableOps.append(
      encoder.encode(
        items.map(k => (java.util.UUID.randomUUID.toString, userId, k, t, t))
          .toDF("knowledge_id", "user_id", "content", "created_at", "updated_at"),
        "content")
        .select("knowledge_id", "user_id", "content", "embedding",
          "created_at", "updated_at"),
      path("knowledge"))
    clearCache()
  }

  def knowledge(userId: String): DataFrame =
    readOr("knowledge", Schemas.knowledgeSchema).filter(col("user_id") === userId)

  def updateKnowledge(knowledgeId: String, content: String): Unit = {
    val enc = encoder
    val t = now()
    TableOps.rewriteTable(spark, path("knowledge"))(df =>
      // content changed → re-encode (the table is small; at scale this
      // would be a needs_embedding flag + backfill like m1's); only the
      // mutated row's updated_at is bumped, created_at never changes
      enc.encode(
        df.withColumn("content",
          when(col("knowledge_id") === knowledgeId, lit(content))
            .otherwise(col("content")))
          .withColumn("updated_at",
            when(col("knowledge_id") === knowledgeId, lit(t))
              .otherwise(col("updated_at")))
          .drop("embedding"), "content")
        .select(df.columns.toIndexedSeq.map(col): _*))
    clearCache()
  }

  def deleteKnowledge(knowledgeId: String): Unit = {
    TableOps.rewriteTable(spark, path("knowledge"))(
      _.filter(col("knowledge_id") =!= knowledgeId))
    clearCache()
  }

  // ---------- M2 semantic layer (H2/H3/H7) ----------

  /** Derive m2 facts + entity graph from the current m1 chunks and
    * persist them (the reference's M2SemanticLayer write path). Facts
    * and vertices are embedded AT BUILD TIME — the reference's graph
    * store keeps per-node embeddings (graphml_store.py:611-704) and
    * queries must never re-embed a layer (K5).
    *
    * A rebuild materializes a complete VERSION dir and commits it with
    * one pointer CAS (TableOps.commitArtifactDir — the kw/ivf pattern):
    * a query that resolved the layer before the rebuild (the q59-style
    * graph leg included) keeps reading its own version's files.
    * [[maintain]] vacuums superseded versions. */
  def buildSemanticLayer(): Unit = {
    val name = TableOps.nextArtifactDir(spark, path("m2"), "sem")
    val vp = s"${path("m2")}/$name"
    val facts = SemanticLayer.extractFacts(m1)
    encoder.encode(facts, "fact_text")
      .write.mode(SaveMode.Overwrite).parquet(s"$vp/m2_facts")
    val (vertices, edges) = SemanticLayer.extractGraph(facts)
    encoder.encode(vertices, "id")
      .write.mode(SaveMode.Overwrite).parquet(s"$vp/m2_vertices")
    edges.write.mode(SaveMode.Overwrite).parquet(s"$vp/m2_edges")
    TableOps.commitArtifactDir(spark, path("m2"), "sem", name)
  }

  /** Resolve one m2 table in the newest committed layer version (throws
    * before the first [[buildSemanticLayer]]). Resolution happens when
    * the FRAME is built, pinning it to that version. */
  private def m2Table(table: String): DataFrame = spark.read.parquet(
    TableOps.committedArtifactPath(spark, path("m2"), "sem", "buildSemanticLayer()") +
      s"/$table")

  def m2Facts: DataFrame = m2Table("m2_facts")
  def m2Vertices: DataFrame = m2Table("m2_vertices")
  def m2Edges: DataFrame = m2Table("m2_edges")

  /** H2 episode formation over the current m1 chunks (time-gap
    * sessionized, extractive summaries) persisted as m1_episodes —
    * versioned + pointer-CAS-committed like the semantic layer. */
  def buildEpisodes(gapSeconds: Long = 3600): Unit = {
    val name = TableOps.nextArtifactDir(spark, path("episodes"), "ep")
    SemanticLayer.formEpisodes(m1, gapSeconds)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"${path("episodes")}/$name/m1_episodes")
    TableOps.commitArtifactDir(spark, path("episodes"), "ep", name)
  }

  /** The newest committed episodes (throws before the first
    * [[buildEpisodes]]). */
  def episodes: DataFrame = spark.read.parquet(
    TableOps.committedArtifactPath(spark, path("episodes"), "ep", "buildEpisodes()") +
      "/m1_episodes")

  /** K5 graph semantic query: cosine top-k over the persisted vertex
    * embeddings (reference graphml_store.py:611-704). */
  def semanticGraphQuery(text: String, topK: Int = 10): DataFrame =
    graft.operators.GraphOps.semanticQuery(
      m2Vertices.withColumn("name", col("id")),
      encoder.encodeOne(text), topK)

  /** H7: query every layer (m0 raw, m1 chunks, m2 facts) and union with a
    * layer tag. */
  def queryAllLayers(text: String, userId: String, topKPerLayer: Int = 3): DataFrame =
    SemanticLayer.queryAllLayers(
      m0ForUser(userId).filter(col("user_id") === userId),
      m1ForUser(userId).filter(col("user_id") === userId),
      m2Facts.filter(col("user_id") === userId),
      encoder, text, topKPerLayer)

  /** Lineage join (J2): chunks exploded to their source m0 messages. */
  def chunkLineage: DataFrame = {
    val m1df = m1
    val m0df = m0
    m1df
      .select(col("chunk_id"), explode(col("m0_raw_ids")).as("mid"))
      .join(m0df, col("mid") === m0df("message_id"))
      .select(col("chunk_id"), col("message_id"), col("role"),
        col("sequence_number"), col("content"))
  }
}

object MemFuse {
  /** Largest tenant (m1 rows) [[MemFuse.query]] answers from a driver
    * snapshot: at `Schemas.EmbeddingDim` 64 a capped snapshot holds 4 MB
    * of embeddings plus its contents. Set where the indexed query's two
    * paths meet: timed by hand on a 4-core host (perfbench's sf0.1
    * documents, a 102k-row warehouse), an indexed query runs about as
    * fast on either path here (the snapshot collect costs what the
    * Spark tail saves) and faster in Spark at 4 caps, while the scan
    * query's paths meet only at about 4 caps. */
  val SnapshotCap = 16384

  /** Rows all held snapshots may total (least recently used dropped first). */
  val SnapshotRowBudget = 4 * SnapshotCap
}
