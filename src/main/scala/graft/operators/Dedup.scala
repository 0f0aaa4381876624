package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. All hashes are md5-derived so every stage is
  * deterministic and engine-portable (no JVM-specific hash functions).
  *
  * Scale notes: exact dedup is one hash-shuffle. MinHash/LSH is the
  * standard band trick — the only shuffle keyed on raw doc content is the
  * per-band bucket join, whose fan-out is controlled by (bands, rows-per-
  * band); skewed buckets (boilerplate docs) would be salted or capped at
  * 100 TB. Candidate verification re-joins shingle sets only for candidate
  * pairs, never all pairs.
  */
object Dedup {

  /** The minhash index of one corpus under one banding, shared by
    * [[minhashLsh]] and [[minhashEstimatePairs]]:
    *  - verify: per-doc shingle sets PRE-HASHED to fixed-width longs
    *    (the span family's key trick: set and intersection sizes are
    *    hash-invariant while xxhash64 is collision-free on a pair's
    *    union — OperatorSpec pins the corpus-level claim; ~3× fewer
    *    exchange bytes than the raw 3-gram strings)
    *  - bandRows: (doc_id, band, bkey), the LSH candidate index
    *  - sig: the (doc_id, mh0..mh{nh-1}) signature matrix the
    *    agreement estimator scores with
    * At 100 TB these are persisted index tables built at ingest. The
    * caller owns that: it persists the frames and reuses the value
    * across queries; [[minhashIndex]] itself persists nothing. */
  final case class MinhashIndex(verify: DataFrame, bandRows: DataFrame,
      sig: DataFrame) {
    /** Banded-candidate volume bound: Σ_buckets n·(n−1)/2 over the band
      * rows — the pre-distinct pair-generation volume of the LSH bucket
      * self-join. One agg, taken once per index (on the persisted frame
      * when the caller persisted it), that lets [[minhashLsh]] gate its
      * verify-leg broadcasts without re-counting per query. */
    lazy val pairBound: Long = {
      val row = bandRows.groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2")).as("pairs"))
        .head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
  }

  /** Exact dedup by content hash (T5; reference rag/retrieve/buffer.py:334-343
    * dedups on hash(content)). One row per distinct content: the kept
    * (minimum) id and the number of copies. `ordered = true` appends a
    * total orderBy — wanted ONLY for deterministic-hash oracle replay;
    * the default skips it (the output is corpus-sized, and a global
    * sort of it is an avoidable final exchange at 100 TB). */
  def exact(docs: DataFrame, ordered: Boolean = false): DataFrame = {
    val out = docs
      .groupBy(contentHash(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    if (ordered) out.orderBy(col("keep_id")) else out
  }

  /** Distinct word n-gram shingles, one row per (doc_id, shingle),
    * generated by the compiled [[graft.functions.NGramDistinct]] kernel
    * in a narrow projection pipelining on the scan's own splits (a
    * fan-out repartition measured strictly slower at every SF, with the
    * lambda chain AND with the kernel); the only shuffle is the final
    * distinct. */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    val toksCol = tokens(col("text"))
    docs.filter(size(toksCol) >= n)
      .select(col("doc_id"),
        explode(ngramsDistinct(toksCol, n)).as("shingle"))
      .distinct()
  }

  /** Distinct shingle ARRAY per doc — the row-free representation: every
    * downstream minhash step is then a narrow per-row array expression
    * with no shuffle at all. */
  def shingleArrays(docs: DataFrame, n: Int): DataFrame = {
    val toksCol = tokens(col("text"))
    docs.filter(size(toksCol) >= n)
      .select(col("doc_id"), ngramsDistinct(toksCol, n).as("shingles"))
  }

  /** MinHash signature over per-doc shingle arrays: `numHashes` 32-bit
    * hash functions derived as hex slices of ⌈numHashes/4⌉ salted md5s
    * per shingle (md5 dominates, so 4 hash functions share one digest),
    * then `array_min` per doc — a pure projection, no aggregation. */
  def minhashSignature(sharr: DataFrame, numHashes: Int): DataFrame = {
    val nMd5 = (numHashes + 3) / 4
    val withMd5 = sharr.select(
      col("doc_id") +: col("shingles") +:
        (0 until nMd5).map(j =>
          transform(col("shingles"),
            s => md5(concat(lit(s"mh$j|"), s))).as(s"m$j")): _*)
    val sigCols = (0 until numHashes).map { i =>
      array_min(transform(col(s"m${i / 4}"),
        m => conv(substring(m, (i % 4) * 8 + 1, 8), 16, 10).cast("long")))
        .as(s"mh$i")
    }
    withMd5.select(col("doc_id") +: col("shingles") +: sigCols: _*)
  }

  /** Build the [[MinhashIndex]] of `docs` (numHashes = bands ×
    * rowsPerBand): plans only, nothing persisted or run. */
  def minhashIndex(docs: DataFrame, shingleSize: Int, bands: Int,
      rowsPerBand: Int): MinhashIndex = {
    val sharr = shingleArrays(docs, shingleSize)
    val sig = minhashSignature(sharr, bands * rowsPerBand)
    MinhashIndex(
      verify = sharr.select(col("doc_id"),
        transform(col("shingles"), s => xxhash64(s)).as("sh_h")),
      bandRows = bandRows(sig, "doc_id", bands, rowsPerBand),
      sig = sig.drop("shingles"))
  }

  /** LSH candidates scored by the SIGNATURE-AGREEMENT estimate
    * Ĵ = matching minhash positions / numHashes — the verify-free
    * scorer the 100 TB path runs when re-reading documents for exact
    * Jaccard is the dominant cost (signatures are bytes/doc; the text
    * is the corpus). Each position agrees with probability J, so the
    * mean is unbiased with σ = √(J(1−J)/k). Same md5-derived hash
    * family as [[minhashLsh]], so the estimate replays exactly in SQL.
    * Returns every banded candidate with its estimate (no threshold —
    * the caller calibrates the cut to the estimator's variance). */
  def minhashEstimatePairs(docs: DataFrame, shingleSize: Int = 3,
      bands: Int = 4, rowsPerBand: Int = 2,
      ordered: Boolean = false): DataFrame =
    minhashEstimatePairs(minhashIndex(docs, shingleSize, bands, rowsPerBand),
      ordered)

  /** [[minhashEstimatePairs]] over a caller-owned index — the SAME
    * signature matrix and band rows [[minhashLsh]] reads (one md5
    * family). Built once per corpus at ingest time and persisted, the
    * estimator's timed cost is the candidate join + the agreement
    * scoring — not a per-query rebuild of the index (r13: the
    * localCheckpoint here recomputed the md5 transform every run,
    * ~1.7 s of q106's 2.0 s). */
  def minhashEstimatePairs(index: MinhashIndex,
      ordered: Boolean): DataFrame = {
    val (banded, sig) = (index.bandRows, index.sig)
    val nh = sig.columns.length - 1 // doc_id, then one column per hash
    val candidates = banded.toDF("doc_a", "band", "bkey")
      .join(banded.toDF("doc_b", "band", "bkey"), Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val a = sig.toDF("doc_a" +: (0 until nh).map(i => s"a$i"): _*)
    val b = sig.toDF("doc_b" +: (0 until nh).map(i => s"b$i"): _*)
    val matches = (0 until nh)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val out = candidates.join(a, "doc_a").join(b, "doc_b")
      .withColumn("est_jaccard", trunc6(matches.cast("double") / nh))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    if (ordered) out.orderBy("doc_a", "doc_b") else out
  }

  /** LSH banding operating-point sweep — the recall/cost frontier of
    * the (bands, rowsPerBand) knob, measured as DATA on a bounded audit
    * slice (the tuning-as-data convention shared with the ANN frontier
    * q321/q328 and the simhash blocking sweep q316/q317; LSH theory
    * gives P(candidate) = 1-(1-J^r)^b, this measures the actual curve
    * on the caller's corpus). One signature matrix (`numHashes`
    * functions, the md5 family of [[minhashLsh]]) serves every combo:
    * for each bands ∈ `bandCounts` with rowsPerBand = numHashes/bands,
    * banded candidate pairs are scored against GROUND TRUTH = exact
    * all-pairs shingle Jaccard ≥ `jaccardThreshold` on the slice.
    * Returns one row per combo: candidate count (the cost side),
    * true-pair count, hits, recall.
    *
    * Scale: the all-pairs truth is quadratic BY DESIGN — the caller
    * passes a bounded audit slice (hundreds of docs), exactly like the
    * content-hash truth of [[blockingRecallSweep]]; the chosen
    * operating point then runs at corpus scale through [[minhashLsh]].
    * Signatures and shingle arrays materialize once across combos. */
  def lshBandingSweep(docs: DataFrame, shingleSize: Int = 3,
      numHashes: Int = 8, bandCounts: Seq[Int] = Seq(1, 2, 4, 8),
      jaccardThreshold: Double = 0.5): DataFrame = {
    require(bandCounts.forall(b => numHashes % b == 0),
      s"every band count must divide numHashes=$numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val sharr = shingleArrays(docs, shingleSize).localCheckpoint()
    val sig = minhashSignature(sharr, numHashes)
      .drop("shingles").localCheckpoint()
    val a = sharr.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val b = sharr.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    // bounded-slice cartesian (audit contract, see scaladoc)
    val truth = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        trunc6(col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("doc_a", "doc_b").localCheckpoint()
    val nTrue = truth.count()
    val perCombo = bandCounts.map { nb =>
      val banded = bandRows(sig, "doc_id", nb, numHashes / nb)
      val cand = banded.toDF("doc_a", "band", "bkey")
        .join(banded.toDF("doc_b", "band", "bkey"), Seq("band", "bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
        .localCheckpoint() // feeds the count AND the hit semi-join
      val nCand = cand.count()
      val nHit = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi").count()
      (nb.toLong, (numHashes / nb).toLong, nCand, nTrue, nHit,
        if (nTrue == 0) 0d else math.floor(nHit.toDouble / nTrue * 1e6) / 1e6)
    }
    perCombo.toDF("bands", "rows_per_band", "n_candidates", "n_true",
      "n_hit", "recall").orderBy("bands")
  }

  /** MinHash + LSH near-dup pairs, verified with exact shingle Jaccard.
    * numHashes = bands × rowsPerBand. Returns (doc_a, doc_b, jaccard).
    *
    * Shape at scale: one narrow scan computes shingle arrays + signatures
    * (no shuffle), the only shuffles are the band-bucket self-join (rows =
    * docs × bands) and the candidate verification join — both tiny
    * relative to the corpus. Skewed buckets (boilerplate near-identical
    * docs) would be salted or capped here. */
  def minhashLsh(
      docs: DataFrame,
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      jaccardThreshold: Double = 0.5,
      salts: Int = 1,
      ordered: Boolean = false,
      maxBroadcastPairs: Long = MaxBroadcastPairs): DataFrame =
    minhashLsh(minhashIndex(docs, shingleSize, bands, rowsPerBand),
      jaccardThreshold, salts, ordered, maxBroadcastPairs)

  /** [[minhashLsh]]'s default broadcast-gate bound (see the operating
    * envelope below). */
  private[graft] val MaxBroadcastPairs: Long = 8L * 1000 * 1000

  /** [[minhashLsh]] over a caller-owned index (see [[MinhashIndex]]). */
  def minhashLsh(index: MinhashIndex, jaccardThreshold: Double, salts: Int,
      ordered: Boolean, maxBroadcastPairs: Long): DataFrame = {
    // hot buckets (boilerplate corpora) fan out over salted sub-keys
    // when salts > 1 — identical pairs, spread workload (SkewOps)
    val xa = index.bandRows.toDF("doc_a", "band", "bkey")
    val yb = index.bandRows.toDF("doc_b", "band", "bkey")
    val bucketJoin =
      if (salts > 1) SkewOps.saltedSelfJoin(xa, yb, Seq("band", "bkey"), "doc_b", salts)
      else xa.join(yb, Seq("band", "bkey"))
    val candidates = bucketJoin
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // exact verification: set Jaccard via array_intersect, candidates
    // only — two legs, each a BROADCAST of a candidate-bounded side
    // into one stream of the corpus verify frame, so the corpus's
    // arrays never cross an exchange. Measured r13 A/B at sf0.1/sf1
    // (isolated, min-of-5): this 0.72/1.86 s vs the r12 per-pair
    // gather 0.76/2.11 s vs the r11 planner-choice two-join
    // 0.81/1.96 s — the r12 gather's pair exchange + array max_by
    // aggregation lost to streaming the cached verify frame twice.
    // OPERATING ENVELOPE (the broadcast trade): both broadcasts are
    // candidate-bounded — `candidates` is two longs per pair; `withA`
    // adds one hashed shingle set per pair — and banding keeps the
    // candidate set pair-sparse on real corpora. Under adversarial
    // hot buckets (boilerplate corpora: banded candidates go
    // bucket-quadratic) the broadcast is the limit, so the formulation
    // is GATED (r13 verdict #2): the index's candidate volume bound
    // (Σ_buckets n·(n−1)/2, pre-distinct — computed once per index,
    // never per query on a reused index) must sit within
    // `maxBroadcastPairs`; past it the verify legs degrade to planner-
    // chosen shuffle joins — identical pairs, no 8 GB broadcast
    // ceiling — instead of failing on the broadcast. `salts` (identical
    // pairs, bounded per-task fan-in) and estimator-first scoring via
    // [[minhashEstimatePairs]] remain the throughput escape hatches.
    def scored(cands: DataFrame): DataFrame = cands
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        trunc6(col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val va = index.verify.select(col("doc_id").as("doc_a"), col("sh_h").as("sh_a"))
    val vb = index.verify.select(col("doc_id").as("doc_b"), col("sh_h").as("sh_b"))
    val out =
      if (index.pairBound <= maxBroadcastPairs)
        scored(vb.join(broadcast(va.join(broadcast(candidates), "doc_a")),
          "doc_b"))
      else
        scored(candidates.join(va, "doc_a").join(vb, "doc_b"))
    if (ordered) out.orderBy(col("doc_a"), col("doc_b")) else out
  }

  /** SimHash over `bits` low bits of the portable token hash: per bit,
    * majority vote weighted by term frequency; returns (doc_id, simhash).
    * The output is corpus-sized, so the deterministic orderBy is opt-in
    * (`ordered`) — internal consumers ([[simhashNeighborhood]],
    * [[blockingRecallSweep]]) re-rank it by (simhash, doc_id) anyway,
    * and the global doc_id sort they inherited was pure waste. */
  def simhash(docs: DataFrame, bits: Int = 16,
      ordered: Boolean = false): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
      .withColumn("h", md5Long(col("tok")))
    val bitCols = (0 until bits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$i")
    }
    val votes = tok.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
    val sim = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc + when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
    }
    val out = votes.select(col("doc_id"), sim.as("simhash"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Sorted-neighborhood candidate pairing over the [[simhash]]
    * fingerprint — the Hernández–Stolfo 1995 merge/purge window, keyed
    * by Charikar's fingerprint so near-identical docs sort adjacently:
    * docs take their exact global rank in (simhash, doc_id) order,
    * each doc pairs with the `window` docs after it, and survivors
    * need ≤ `maxHamming` differing bits. Complements the banded-LSH
    * candidate path with linear pair fan-out (n·window candidates, vs
    * bucket-quadratic). Rank assignment is a range-partitioned sort +
    * zipWithIndex (exact total order, NO single-task window); the
    * band pairing is an EQUI-join on exploded rank offsets — no
    * range/theta join anywhere, so the plan is two key-partitioned
    * exchanges regardless of corpus size. */
  def simhashNeighborhood(docs: DataFrame, bits: Int = 16,
      window: Int = 2, maxHamming: Int = 2,
      ordered: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranked = simhash(docs, bits)
      .select(col("doc_id").cast("long"), col("simhash"))
      // materialized before the range exchange (boundary sampling) …
      .localCheckpoint()
      .repartitionByRange(col("simhash"), col("doc_id"))
      .sortWithinPartitions("simhash", "doc_id")
      .as[(Long, Long)].rdd.zipWithIndex()
      .map { case ((id, s), r) => (id, s, r) }
      .toDF("doc_id", "simhash", "r")
      // … and after ranking: both sides of the band self-join read it
      .localCheckpoint()
    val probes = ranked.select(col("doc_id").as("doc_a"),
      col("simhash").as("sig_a"),
      explode(sequence(col("r") + 1, col("r") + lit(window.toLong))).as("r"))
    val out = probes
      .join(ranked.select(col("doc_id").as("doc_b"),
        col("simhash").as("sig_b"), col("r")), "r")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    if (ordered) out.orderBy("doc_a", "doc_b") else out
  }

  /** Blocking-recall audit — the evaluation every candidate-generation
    * strategy owes before it gates a dedup pipeline: ground-truth
    * duplicate pairs (content-hash groups; within-group pair fan-out
    * is bounded by duplicate multiplicity) scored against
    * [[simhashNeighborhood]] candidates. Recall = share of true pairs
    * surfaced; the candidate count is the cost side of the same
    * table. A window-w sorted neighborhood can MISS pairs inside
    * identical-fingerprint runs longer than w — that gap is exactly
    * what this audit prices. */
  def blockingRecallAudit(docs: DataFrame, bits: Int = 16,
      window: Int = 2, maxHamming: Int = 2): DataFrame =
    // the single-window cut of the sweep — ONE implementation to keep
    // in sync with the oracle's pair fan-out and rank convention
    blockingRecallSweep(docs, Seq(window), bits, maxHamming)
      .select(col("n_true_pairs"), col("n_candidates"), col("n_hit"),
        col("recall"))

  /** Window-size FRONTIER of [[blockingRecallAudit]] — recall vs
    * candidate cost at every window in `windows`, sharing ONE simhash
    * ranking and ONE maximal-window pair mine across all operating
    * points (the ANN-frontier convention: tuning knobs are measured
    * as data, not guessed). Each candidate pair carries its rank
    * offset, so a window-w cut is a filter, not a re-mine. */
  def blockingRecallSweep(docs: DataFrame, windows: Seq[Int],
      bits: Int = 16, maxHamming: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wMax = windows.max
    val ranked = simhash(docs, bits)
      .select(col("doc_id").cast("long"), col("simhash"))
      .localCheckpoint()
      .repartitionByRange(col("simhash"), col("doc_id"))
      .sortWithinPartitions("simhash", "doc_id")
      .as[(Long, Long)].rdd.zipWithIndex()
      .map { case ((id, s), r) => (id, s, r) }
      .toDF("doc_id", "simhash", "r")
      .localCheckpoint()
    val cand = ranked
      .select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"),
        col("r").as("ra"),
        explode(sequence(lit(1L), lit(wMax.toLong))).as("off"))
      .withColumn("r", col("ra") + col("off"))
      .join(ranked.select(col("doc_id").as("doc_b"),
        col("simhash").as("sig_b"), col("r")), "r")
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= maxHamming)
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"), col("off"))
      .localCheckpoint()
    val truePairs = docs
      // cast BEFORE grouping: sort_array over the native type would
      // order a string doc_id lexicographically, inverting (lo, hi)
      // vs the candidate side's numeric least/greatest and silently
      // zeroing recall — both sides must rank pairs identically
      .select(md5(col("text")).as("h"), col("doc_id").cast("long").as("doc_id"))
      .groupBy("h").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(ids) - 1), " +
          "i -> transform(slice(ids, i + 1, size(ids) - i), " +
          "x -> struct(ids[i - 1] AS lo, x AS hi))))")).as("p"))
      .select(col("p.lo").cast("long").as("lo"),
        col("p.hi").cast("long").as("hi"))
      .localCheckpoint()
    val ws = array(windows.sorted.map(w => lit(w.toLong)): _*)
    val nCand = cand.select(explode(ws).as("window"), col("off"))
      .filter(col("off") <= col("window"))
      .groupBy("window").agg(count(lit(1)).as("n_candidates"))
    val nHit = truePairs.join(cand, Seq("lo", "hi"), "inner")
      .select(explode(ws).as("window"), col("off"))
      .filter(col("off") <= col("window"))
      .groupBy("window").agg(count(lit(1)).as("n_hit"))
    val nTrue = truePairs.agg(count(lit(1)).as("n_true_pairs"))
    val d = (c: String) => col(c).cast("double")
    // drive from the window list so a zero-candidate window still
    // reports its (empty) operating point
    docs.sparkSession.range(1).select(explode(ws).as("window"))
      .join(nCand, Seq("window"), "left_outer")
      .join(nHit, Seq("window"), "left_outer")
      .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .crossJoin(broadcast(nTrue))
      .select(col("window"), col("n_true_pairs"), col("n_candidates"),
        col("n_hit"), trunc6(d("n_hit") / d("n_true_pairs")).as("recall"))
      .orderBy("window")
  }

  /** Blocking AUTO-TUNER over [[blockingRecallSweep]]: the smallest
    * sorted-neighborhood window whose MEASURED recall meets
    * `recallTarget` without exceeding `candidateBudget` candidate
    * pairs — the knob a large-scale entity-resolution run actually
    * sets, chosen from measured operating points (one shared simhash
    * ranking, every window a filter) instead of guessed. Returns the
    * chosen operating point as ONE row with `met_target`; fallbacks
    * are explicit and deterministic: if no window satisfies both
    * constraints, the highest-recall window within budget (recall is
    * the objective once the target is unreachable); if every window
    * is over budget, the smallest (cheapest) window. */
  def blockingAutoTune(docs: DataFrame, windows: Seq[Int],
      recallTarget: Double, candidateBudget: Long,
      bits: Int = 16, maxHamming: Int = 2): DataFrame = {
    val sweep = blockingRecallSweep(docs, windows, bits, maxHamming)
    val met = col("recall") >= recallTarget &&
      col("n_candidates") <= candidateBudget
    val within = col("n_candidates") <= candidateBudget
    sweep
      .withColumn("met_target", met)
      .withColumn("regime", when(met, 0).when(within, 1).otherwise(2))
      .withColumn("pref", when(col("regime") === 1, -col("recall"))
        .otherwise(col("window").cast("double")))
      .orderBy(col("regime"), col("pref"), col("window"))
      .limit(1)
      .select(col("window"), col("n_true_pairs"), col("n_candidates"),
        col("n_hit"), col("recall"), col("met_target"))
  }

  /** Exact-substring duplication across documents (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): word
    * n-grams appearing verbatim in ≥ `minDocs` distinct documents.
    * Distinct from MinHash near-dup — this finds SHARED PASSAGES
    * (boilerplate, licenses, copied spans) inside otherwise-different
    * documents. One explode + one groupBy on the gram: the distributed
    * replacement for a suffix array, and the shuffle key is the gram so
    * hot boilerplate spreads over the partial-aggregation combiners. */
  def sharedPassages(
      docs: DataFrame, n: Int = 8, minDocs: Int = 2, topK: Int = 50): DataFrame = {
    // per-doc dedup happens NARROWLY (array_distinct inside the row), so
    // every exploded (doc_id, gram) row is already globally unique and a
    // plain count(*) IS the distinct-doc count — exactly ONE exchange,
    // keyed on the gram, with map-side partial counts absorbing hot
    // boilerplate grams. (A distinct() + countDistinct formulation
    // shuffles the same pairs twice.) No fan-out repartition either: the
    // generator pipelines on the scan's own splits (thousands at real
    // scale), and the extra exchange measured strictly slower at every
    // SF. PlanSpec pins the single exchange.
    val toksCol = tokens(col("text"))
    docs
      .filter(size(toksCol) >= n)
      .select(col("doc_id"), explode(ngramsDistinct(toksCol, n)).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("shingle"))
      .limit(topK)
  }

  /** Train/eval contamination check (decontamination — the GPT-3 /
    * Pile-style n-gram overlap filter every pretraining recipe runs):
    * training docs sharing at least `minShared` distinct word n-grams
    * with ANY document of the eval/benchmark set, with the shared-gram
    * count as evidence. The eval side is small by nature, so its
    * distinct gram set BROADCASTS: at 100 TB the train side stays a
    * narrow scan (per-doc array_distinct, no corpus shuffle by gram) —
    * the only shuffle is the per-doc count, keyed on doc_id. */
  def contamination(
      train: DataFrame, evalDocs: DataFrame,
      n: Int = 8, minShared: Int = 1): DataFrame = {
    val evalGrams = docGrams(evalDocs, n).select("shingle").distinct()
    docGrams(train, n)
      .join(broadcast(evalGrams), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared")) // input distinct per (doc, gram)
      .filter(col("n_shared") >= minShared)
      .orderBy(col("n_shared").desc, col("doc_id"))
  }

  /** Per-doc DISTINCT word n-grams, exploded — the shared front end of
    * the contamination checks. */
  private def docGrams(docs: DataFrame, n: Int): DataFrame = {
    val toksCol = tokens(col("text"))
    docs.filter(size(toksCol) >= n)
      .select(col("doc_id"), explode(ngramsDistinct(toksCol, n)).as("shingle"))
  }

  /** [[contamination]]'s big-eval-suite scale path: EXACT same result,
    * but the eval gram set never broadcasts as rows. A Bloom filter over
    * the eval grams (≈1.2 MB per million grams at 1% fpp — megabytes
    * where the row broadcast is gigabytes) rides the expression tree to
    * every executor and drops ~(1−fpp) of non-matching train grams
    * map-side, BEFORE any exchange; only the thin survivor stream (true
    * overlaps + fpp of the rest) shuffles into the exact gram join that
    * removes the false positives. Exactness is preserved because Bloom
    * probes never false-negative.
    *
    * Three light jobs on the (by-definition small) eval side — count,
    * filter build, join — buy a train side whose only wide exchange is
    * the tiny survivor join plus the final per-doc count. */
  def contaminationBloom(
      train: DataFrame, evalDocs: DataFrame,
      n: Int = 8, minShared: Int = 1, fpp: Double = 0.01): DataFrame = {
    val evalGrams = docGrams(evalDocs, n).select("shingle").distinct()
    val expected = math.max(evalGrams.count(), 1L)
    val bloom = evalGrams.stat.bloomFilter("shingle", expected, fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    docGrams(train, n)
      .filter(bloomMightContain(col("shingle"), bloomBytes))
      .join(evalGrams, "shingle") // exact verify kills the false positives
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("n_shared").desc, col("doc_id"))
  }

  /** Duplicate-CLUSTER resolution over a near-dup pair list — the
    * "keep one representative per duplicate group" step that follows
    * MinHash/SimHash/embedding pair mining in every dedup recipe:
    * connected components via alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond"), each doc labeled with the smallest doc id of its
    * component.
    *
    * Shape at scale: the working edge set stays keyed on the pair list
    * (only near-dup docs appear — tiny vs the corpus), and star
    * contraction converges in O(log n) ROUNDS even on deep components
    * (boilerplate-heavy corpora chain near-dups), where plain min-label
    * propagation needs component-diameter rounds. Each round costs ONE
    * Spark job: large-star + small-star compose lazily, and the
    * convergence check (edge count + an order-insensitive checksum)
    * rides the same action that materializes the round's persist.
    * Throws on non-convergence instead of returning wrong labels. */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 20,
      ordered: Boolean = false): DataFrame =
    duplicateClustersWithRounds(pairs, maxIters, ordered)._1

  /** [[duplicateClusters]] plus the round count (spec hook pinning the
    * O(log n) convergence on deep chains). */
  private[graft] def duplicateClustersWithRounds(
      pairs: DataFrame, maxIters: Int = 20,
      ordered: Boolean = false): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    // canonical orientation u > v, self-loops dropped — both star steps
    // preserve it, so no re-canonicalization inside the loop
    var edges = pairs
      .filter(col("doc_a") =!= col("doc_b"))
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct().persist()

    // Both star steps are per-node MIN aggregations; a window aggregate
    // over partitionBy(u) computes the min AND keeps the neighbor rows
    // in one exchange, where groupBy+join would pay two. (A mega-hub
    // node buffers its neighbor list in one window group — with spill,
    // and large-star caps degrees after the first rounds, which is the
    // algorithm's own skew control.) Duplicate edges out of large-star
    // are left for the round's single distinct — dups can't change a
    // min.
    val byU = Window.partitionBy("u")
    // large-star: every node connects its STRICTLY-LARGER neighbors to
    // the minimum of its closed neighborhood. (u > m and w > u ≥ m keep
    // the u > v orientation.)
    def largeStar(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .withColumn("m", least(min(col("v")).over(byU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    // small-star: every node connects itself and its smaller neighbors
    // to the smallest of them.
    def smallStar(e: DataFrame): DataFrame = {
      val withM = e.withColumn("m", min(col("v")).over(byU))
      withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(withM.select(col("u"), col("m").as("v")))
        .distinct()
    }

    def checksum(e: DataFrame): (Long, Any) = {
      // bit_xor is order-insensitive and can't overflow (rows are
      // distinct, so xor-cancellation of duplicates can't occur)
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), r.get(1))
    }
    val spark = pairs.sparkSession
    var prev: (Long, Any) = (-1L, None) // no job on the raw edges: rounds
    var rounds = 0                      // compare to each other only
    var converged = false
    while (!converged && rounds < maxIters) {
      // lineage truncation: wrap each round's RDD in a fresh frame (lazy,
      // no job) — without it the composed star plans double per round and
      // the SQL plan tree grows exponentially. At cluster scale swap for
      // checkpoint() to a reliable dir; the job count is identical.
      val plan = smallStar(largeStar(edges))
      val next = spark.createDataFrame(plan.rdd, plan.schema).persist()
      val cur = checksum(next) // the round's ONE job, fills the persist
      edges.unpersist()
      edges = next
      converged = cur == prev
      prev = cur
      rounds += 1
    }
    if (!converged && prev._1 > 0)
      throw new IllegalStateException(
        s"duplicateClusters: star contraction did not converge in $maxIters rounds")
    // at the fixpoint every component is a star centered at its minimum:
    // members appear as u with their root as v; roots appear only as v
    val labels = edges
      .select(col("u").as("doc_id"), col("v").as("cluster_rep"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("cluster_rep")))
      .distinct()
      .localCheckpoint(true) // truncate the iterative lineage, then free the cache
    edges.unpersist()
    (if (ordered) labels.orderBy("doc_id") else labels, rounds)
  }

  /** Canonical-document selection: resolve every duplicate cluster to
    * its single best member — the "which copy do we KEEP" decision that
    * follows cluster resolution in a dedup pipeline (the reference keeps
    * first-written content on chunk_id collision, buffer.py's
    * first-wins merge; corpus pipelines keep the highest-quality copy).
    *
    * `docs` is (doc_id, <scoreCol>); `labels` is [[duplicateClusters]]
    * output. Docs absent from `labels` are singletons and keep
    * themselves. Canonical = argmax score, doc_id ASC tie-break (exact
    * copies tie on score, so the earliest id wins — deterministic).
    *
    * Scale shape: labels attach with one doc_id-keyed join; the per-
    * cluster argmax routes through the engine's [[graft.plans.TopKPerKey]]
    * bounded heap (k=1 — partial per-partition heaps, one cluster-keyed
    * exchange of the survivors), and the winners (≤ one row per cluster)
    * join back on the cluster key. No corpus-wide window sort anywhere. */
  def canonicalPerCluster(
      docs: DataFrame, labels: DataFrame, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clustered = docs
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col("doc_id")))
    val members = clustered.select("cluster_rep", "doc_id", scoreCol)
    val order = Seq(col(scoreCol).desc, col("doc_id").asc)
    val heapRegistered = docs.sparkSession.sessionState.planner.strategies
      .exists(_ eq graft.plans.TopKPerKeyStrategy)
    val winner = // plain sessions (no GraftExtensions) fall back to the window idiom
      (if (heapRegistered) graft.plans.TopKPerKey(members, Seq("cluster_rep"), order, 1)
       else {
         val w = Window.partitionBy("cluster_rep").orderBy(order: _*)
         members.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
       }).select(col("cluster_rep"), col("doc_id").as("canonical_id"))
    clustered
      .join(winner, Seq("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** Band-bucket rows of a minhash signature frame: one row per
    * (doc, band) with the band's concatenated signature slice as the
    * bucket key. */
  /** The NEW-vs-corpus candidate stage of [[incrementalDedup]]: a band
    * equi-join of the two minhash-signature frames keyed on
    * (band, bkey) — exposed so the plan guard inspects the join the
    * production path actually executes (the eager checkpoint inside
    * incrementalDedup hides it from the final query's plan). */
  private[graft] def incrementalCandidates(
      shNew: DataFrame, shOld: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val nh = bands * rowsPerBand
    bandRows(minhashSignature(shNew, nh), "new_id", bands, rowsPerBand)
      .join(bandRows(minhashSignature(shOld, nh), "old_id", bands, rowsPerBand),
        Seq("band", "bkey"))
      .select("new_id", "old_id").distinct()
  }

  private def bandRows(
      sig: DataFrame, idName: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws("|", cols: _*).as("bkey"))
    }
    sig.select(col("doc_id").as(idName), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idName), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Incremental dedup — the daily-ingest flow: dedup a NEW batch
    * against an EXISTING corpus without ever comparing the corpus to
    * itself. Exact duplicates drop on a content-hash join; near-dup
    * candidates come from the new batch's minhash bands joined against
    * the corpus's bands (at scale the corpus side is the PERSISTED
    * signature/band table built at ingest — this operator's cost is
    * proportional to the BATCH, not the corpus), verified with exact
    * shingle Jaccard. One row per new doc:
    * (doc_id, status ∈ exact_dup|near_dup|unique, match_id, jaccard) —
    * the best match is the highest trunc6'd Jaccard, ties to the
    * smallest corpus id; unique rows carry (-1, 0.0). */
  def incrementalDedup(
      newDocs: DataFrame,
      corpus: DataFrame,
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 2,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val corpusHashes = corpus.select(col("doc_id").as("old_id"),
      contentHash(col("text")).as("chash"))
    val newHashed = newDocs.select(col("doc_id"), col("text"),
      contentHash(col("text")).as("chash"))
    val exact = newHashed.join(corpusHashes, "chash")
      .groupBy("doc_id").agg(min(col("old_id")).as("match_id"))
      .select(col("doc_id"), lit("exact_dup").as("status"),
        col("match_id"), lit(1.0).as("jaccard"))
    val rest = newHashed.join(corpusHashes, Seq("chash"), "left_anti")
      .select("doc_id", "text")

    // each shingle frame feeds TWO consumers (band candidates + the
    // Jaccard verify) and `rest` a third (the unique anti-join) —
    // materialize the shingling once instead of re-deriving it per
    // branch (the trainingExport precedent; measured 2× on the whole
    // query). Trade-offs of the EAGER checkpoint: the corpus-side job
    // runs at call time even if the result is never consumed, and the
    // blocks are freed by RDD GC (ContextCleaner), not an explicit
    // unpersist. Deliberate here because this entry point exists to be
    // consumed immediately; at scale the corpus side is the PERSISTED
    // signature table (see scaladoc) and this frame drops out entirely.
    val shNew = shingleArrays(rest, shingleSize).localCheckpoint(true)
    val shOld = shingleArrays(corpus, shingleSize).localCheckpoint(true)
    val candidates = incrementalCandidates(shNew, shOld, bands, rowsPerBand)
    val verified = candidates
      .join(shNew.select(col("doc_id").as("new_id"), col("shingles").as("sh_a")), "new_id")
      .join(shOld.select(col("doc_id").as("old_id"), col("shingles").as("sh_b")), "old_id")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        trunc6(col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))))
      .filter(col("jaccard") >= jaccardThreshold)
    // tiny (one row per near-dup batch doc) but feeds both the union
    // and the unique anti-join — pin it rather than replay the verify
    val near = verified
      .groupBy(col("new_id").as("doc_id"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("old_id").as("oid"))).as("b"))
      .select(col("doc_id"), lit("near_dup").as("status"),
        col("b.oid").as("match_id"), (-col("b.nj")).as("jaccard"))
      .localCheckpoint(true)
    val unique = rest.join(near.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("unique").as("status"),
        lit(-1L).as("match_id"), lit(0.0).as("jaccard"))
    exact.unionByName(near).unionByName(unique).orderBy("doc_id")
  }

  /** Paragraph-level exact dedup with document reassembly (the
    * RefinedWeb / CCNet passage-dedup step: drop every passage that
    * appears verbatim anywhere earlier in the corpus, then rebuild each
    * document from its surviving passages in order). Documents are
    * split into fixed `paraTokens`-token passages (the corpus has no
    * paragraph breaks; fixed windows are the standard fallback), a
    * duplicated passage keeps only its FIRST occurrence — smallest
    * (doc_id, position) — and the result is one row per document:
    * (doc_id, n_paras, n_kept, new_text), with n_kept = 0 marking a
    * fully-duplicate document.
    *
    * Shape at scale: exactly TWO exchanges. The first-occurrence cut is
    * keyed on the passage hash and runs through the bounded-heap
    * [[graft.plans.TopKPerKey]] operator with k = 1 — no per-partition
    * sort, and the map-side heap phase collapses a hot boilerplate
    * passage to one row per input partition before it ever shuffles.
    * The reassembly is one groupBy keyed on doc_id. Plain sessions
    * (no GraftExtensions) fall back to the window idiom. */
  def paragraphDedup(docs: DataFrame, paraTokens: Int = 20,
      ordered: Boolean = false): DataFrame = {
    val toksCol = tokens(col("text"))
    // last passage index = (n_tokens - 1) div paraTokens; slice() caps
    // the trailing partial passage at the array end on both engines
    val lastIdx = ((size(toksCol) - 1) / paraTokens).cast("int")
    val paras = docs.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lastIdx),
        i => concat_ws(" ", slice(toksCol, i * paraTokens + 1, lit(paraTokens)))))
        .as(Seq("pos", "para")))
      .withColumn("pos", col("pos").cast("long"))
    val totals = docs.select(col("doc_id"),
      (lastIdx + 1).cast("long").as("n_paras"))
    val hashed = paras.withColumn("phash", md5(col("para")))
    val heapRegistered = docs.sparkSession.sessionState.planner.strategies
      .exists(_ eq graft.plans.TopKPerKeyStrategy)
    val kept =
      if (heapRegistered)
        graft.plans.TopKPerKey(hashed, Seq("phash"),
          Seq(col("doc_id"), col("pos")), 1)
      else {
        val w = Window.partitionBy("phash").orderBy(col("doc_id"), col("pos"))
        hashed.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
      }
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("para")))),
        s => s.getField("para"))).as("new_text"))
    val out = totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("new_text"), lit("")).as("new_text"))
    if (ordered) out.orderBy("doc_id") else out
  }

  /** Exact n-gram Jaccard similarity for all pairs of the given (pre-
    * filtered, small) docs — the quadratic baseline; LSH (above) is the
    * scale path. */
  def ngramJaccardPairs(
      docs: DataFrame, n: Int, threshold: Double,
      ordered: Boolean = false): DataFrame = {
    val sh = shingles(docs, n)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val shA = sh.toDF("doc_a", "shingle")
    val shB = sh.toDF("doc_b", "shingle")
    val inter = shA.join(shB, "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    val out = inter
      .join(counts.toDF("doc_a", "n_a"), "doc_a")
      .join(counts.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("jaccard",
        trunc6(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    if (ordered) out.orderBy(col("doc_a"), col("doc_b")) else out
  }

  /** Containment pairs: |A∩B| / min(|A|,|B|) over distinct word
    * n-grams — the asymmetric cousin of [[ngramJaccardPairs]] that
    * catches SUBSET duplication (a short doc wholly embedded in a long
    * one), which resemblance-style Jaccard structurally under-scores:
    * a 50-gram doc inside a 1000-gram doc has J ≈ 0.05 but containment
    * 1.0. Broder (1997) defines both; dedup pipelines that only test
    * resemblance ship every quote-expanded or concatenated near-copy.
    * Same single gram-keyed exchange as the Jaccard path — candidates
    * only materialize for pairs that share ≥ 1 gram. */
  def containmentPairs(
      docs: DataFrame, n: Int, threshold: Double,
      ordered: Boolean = false): DataFrame = {
    val sh = shingles(docs, n)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val shA = sh.toDF("doc_a", "shingle")
    val shB = sh.toDF("doc_b", "shingle")
    val inter = shA.join(shB, "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    val out = inter
      .join(counts.toDF("doc_a", "n_a"), "doc_a")
      .join(counts.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("containment",
        trunc6(col("n_inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
    if (ordered) out.orderBy(col("doc_a"), col("doc_b")) else out
  }

  /** Leakage-safe dataset split: the train/val/test assignment is made
    * per duplicate CLUSTER, not per document — a near-duplicate of a
    * held-out doc must not land in train (the eval-contamination bug
    * dataset audits keep rediscovering; doc-level random splits leak
    * every duplicated family across the boundary). `labels` is
    * [[duplicateClusters]] output (doc_id, cluster_rep); docs absent
    * from it are singletons and act as their own rep. The assignment
    * is an md5 threshold on the REP, so every member of a cluster
    * shares its split by construction, deterministically, in any
    * engine, under any partitioning. */
  def leakageSafeSplit(docs: DataFrame, labels: DataFrame,
      trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    val withRep = docs.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col("doc_id")))
    val u = (md5Long(concat(lit("split|"), col("cluster_rep").cast("string")))
      % 1000000L).cast("double") / lit(1e6)
    withRep
      .withColumn("split",
        when(u < trainFrac, "train")
          .when(u < trainFrac + valFrac, "val")
          .otherwise("test"))
      .select("doc_id", "cluster_rep", "split")
      .orderBy("doc_id")
  }

  /** Cross-source duplication matrix: for every pair of corpus
    * sources, the count of distinct n-gram shingles both contain and
    * its share of the smaller side — the dataset-curation report that
    * answers "how much of source B is already in source A" before
    * paying for a full pair-level dedup between them (mirror sites and
    * re-crawls show up as near-1.0 cells). Grams are deduplicated
    * per-source FIRST, so the join is |sources|-bounded per gram and
    * the matrix is |sources|² rows — never doc-pair-shaped. */
  def sourceOverlap(docs: DataFrame, n: Int): DataFrame = {
    val toksCol = tokens(col("text"))
    val sh = docs.filter(size(toksCol) >= n)
      .select(col("source"), explode(ngramsDistinct(toksCol, n)).as("shingle"))
      .distinct()
    val counts = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val a = sh.toDF("source_a", "shingle")
    val b = sh.toDF("source_b", "shingle")
    a.join(b, "shingle")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      .join(counts.toDF("source_a", "n_a"), "source_a")
      .join(counts.toDF("source_b", "n_b"), "source_b")
      .withColumn("share",
        trunc6(col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")))
      .select("source_a", "source_b", "n_shared", "share")
      .orderBy("source_a", "source_b")
  }

  /** Per-document novelty: the fraction of a doc's distinct n-gram
    * shingles NOT already present in any EARLIER document (doc_id
    * order — ingest order at scale) — the curation curve that shows
    * how much genuinely new content each increment of a corpus adds,
    * and the per-doc dial for "mostly boilerplate" drops. First
    * occurrence is one gram-keyed min(doc_id) aggregation joined back
    * onto the shingle table: two passes over the gram table, no pair
    * join at all (contrast the O(candidates) pair-mining paths — this
    * is the cheap aggregate view of the same signal). */
  def noveltyScores(docs: DataFrame, n: Int): DataFrame = {
    val sh = shingles(docs, n)
    val firstSeen = sh.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstSeen, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
      .withColumn("novelty",
        trunc6(lit(1.0) - col("n_seen").cast("double") / col("n_grams").cast("double")))
      .select("doc_id", "n_grams", "novelty")
      .orderBy("doc_id")
  }

  /** Prefix-filtered set-similarity join (the PPJoin family, Xiao et
    * al. 2008): all doc pairs with token-set Jaccard ≥ `threshold`,
    * WITHOUT false negatives, touching only a fraction of the inverted
    * index. Key fact: if J(A,B) ≥ t, then A and B must share a token
    * within the first |X| − ⌈t·|X|⌉ + 1 tokens of each set when both
    * are ordered the SAME way (rarest-first here) — so only that
    * prefix of each doc is posted to the candidate join, and the
    * rarest-first order makes the posted lists the SHORTEST ones. The
    * verify step then counts full-set intersections only for candidate
    * pairs (cost ∝ candidates × doc length, not index²). At t = 0.8
    * the prefix is ~20% of each doc and the hot (stop-word) posting
    * lists are never joined at all — this is the structural fix for
    * the full gram-join's skew, not a salting patch. Returns exactly
    * what the naive all-pairs join returns (the oracle checks that
    * equality). */
  def prefixFilterJaccardPairs(
      docs: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("term"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("df"))
    // rarest-first within each doc; (df, term) is a total order so the
    // prefix cut is deterministic
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("term"))
    val prefix = toks.join(freq, "term").join(sizes, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        // FP guard: when t·sz is an exact integer but the double
        // product rounds an ulp high, a bare ceil would shorten the
        // prefix below the lossless minimum; the epsilon keeps the
        // bound safe for arbitrary thresholds (extra candidates are
        // harmless — the verify step filters exactly)
        col("sz") -
          ceil(lit(threshold) * col("sz") - lit(1e-9)).cast("long") + 1)
      .select(col("doc_id"), col("term"))
    val cand = prefix.toDF("doc_a", "term")
      .join(prefix.toDF("doc_b", "term"), "term")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val inter = cand
      .join(toks.toDF("doc_a", "term"), "doc_a")
      .join(toks.toDF("doc_b", "term"), Seq("doc_b", "term"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
    inter
      .join(sizes.toDF("doc_a", "n_a"), "doc_a")
      .join(sizes.toDF("doc_b", "n_b"), "doc_b")
      .withColumn("jaccard",
        trunc6(col("ni").cast("double") /
          (col("n_a") + col("n_b") - col("ni")).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding near-dup pairs at scale: sign-LSH bucket candidates
    * (pairs must share all `planes` hyperplane signs), exact cosine
    * verified inside each bucket. The join is a bucket EQUI-join — rows
    * × rows only within a bucket (~2^planes× smaller than all-pairs),
    * and `salts > 1` spreads a hot bucket via [[SkewOps.saltedSelfJoin]].
    * Bucket-boundary pairs are the recall trade; multi-probe (q41's
    * trick) or fewer planes widen recall. This is the registered scale
    * path; [[embeddingNearDups]] stays the exact quadratic baseline. */
  def embeddingNearDupsLsh(
      embeddings: DataFrame,
      threshold: Double,
      planes: Int = 6,
      dim: Int = 64,
      salts: Int = 1): DataFrame = {
    import graft.functions.VectorFunctions
    val hp = Retrieval.hyperplanes(planes, dim)
    def side(idName: String, eName: String, nName: String) =
      embeddings.select(col("vec_id").as(idName), col("embedding").as(eName),
        VectorFunctions.l2Norm(col("embedding")).as(nName),
        Retrieval.lshBucket(col("embedding"), hp).as("bucket"))
    val a = side("id_a", "e_a", "n_a")
    val b = side("id_b", "e_b", "n_b")
    val joined =
      if (salts > 1) SkewOps.saltedSelfJoin(a, b, Seq("bucket"), "id_b", salts)
      else a.join(b, Seq("bucket"))
    val denom = col("n_a") * col("n_b")
    joined
      .filter(col("id_a") < col("id_b"))
      .withColumn("score", trunc6(
        when(denom === 0d, 0d)
          .otherwise(VectorFunctions.dot(col("e_a"), col("e_b")) / denom)))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold among all pairs (exact
    * quadratic baseline; the LSH/IVF path replaces this at scale). */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions
    // precompute each side's L2 norm once per ROW (not per pair): the
    // value is bit-identical to recomputing it inside cosine, but cuts
    // the pair loop from 3 dot products to 1
    def side(idName: String, eName: String, nName: String) =
      embeddings.select(col("vec_id").as(idName), col("embedding").as(eName),
        VectorFunctions.l2Norm(col("embedding")).as(nName))
    val denom = col("n_a") * col("n_b")
    side("id_a", "e_a", "n_a")
      .join(side("id_b", "e_b", "n_b"), col("id_a") < col("id_b"))
      .withColumn("score", trunc6(
        when(denom === 0d, 0d)
          .otherwise(VectorFunctions.dot(col("e_a"), col("e_b")) / denom)))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Mutual nearest-neighbor pairs: (a, b) where b is a's single
    * closest cosine neighbor AND a is b's — the high-precision
    * duplicate-confirmation criterion (a one-directional top-1 fires
    * on any hub vector; mutuality kills the hub false-positives).
    * This is the exact quadratic baseline over a CAPPED input, like
    * [[embeddingNearDups]]; at scale generate candidates with
    * [[embeddingNearDupsLsh]] and apply the same per-id top-1 +
    * mutuality filter to the candidate set. */
  def mutualNnPairs(embeddings: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions
    def side(idName: String, eName: String, nName: String) =
      embeddings.select(col("vec_id").as(idName), col("embedding").as(eName),
        VectorFunctions.l2Norm(col("embedding")).as(nName))
    val denom = col("n_a") * col("n_b")
    val scored = side("id_a", "e_a", "n_a")
      .join(side("id_b", "e_b", "n_b"), col("id_a") =!= col("id_b"))
      .withColumn("sim", trunc6(
        when(denom === 0d, 0d)
          .otherwise(VectorFunctions.dot(col("e_a"), col("e_b")) / denom)))
      .select("id_a", "id_b", "sim")
    val w = Window.partitionBy("id_a").orderBy(col("sim").desc, col("id_b"))
    val top = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("id_a", "id_b", "sim")
    val back = top.select(col("id_a").as("id_b"), col("id_b").as("id_a"))
    top.join(back, Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sim")
      .orderBy("id_a")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space with k-means, then WITHIN each cluster drop every item that
    * has a lower-id near-neighbor above the cosine threshold. The
    * keep rule is the one-pass form — an item is dropped iff SOME
    * lower-id item in its cluster exceeds the threshold (not the
    * transitive greedy chain), which keeps the decision a pure pairwise
    * predicate: embarrassingly parallel and SQL-replayable.
    *
    * Scale shape (the reason SemDeDup works at web scale): the
    * quadratic pairwise check never crosses cluster boundaries, so its
    * cost is Σ|cluster|² — bounded by k and the clustering balance, not
    * corpus². The self-join keys on the cluster label (one shuffle);
    * a skewed giant cluster would be salted ([[SkewOps]]) or split by
    * recursive re-clustering at 100 TB. Returns every vec_id with its
    * cluster and the keep flag. */
  def semanticDedup(embeddings: DataFrame, k: Int,
      threshold: Double, iters: Int = 2): DataFrame = {
    import graft.functions.VectorFunctions
    val labeled = graft.operators.Retrieval.kmeansClusters(embeddings, k, iters)
      .join(embeddings.select(col("vec_id"), col("embedding")), "vec_id")
    def side(idName: String, eName: String, nName: String) =
      labeled.select(col("cluster"), col("vec_id").as(idName),
        col("embedding").as(eName),
        VectorFunctions.l2Norm(col("embedding")).as(nName))
    val denom = col("n_a") * col("n_b")
    // (lower id a, higher id b) pairs within one cluster over threshold
    // → b is dropped; the threshold compares the trunc6'd score so both
    // engines make identical keep decisions at the boundary
    val dropped = side("id_a", "e_a", "n_a")
      .join(side("id_b", "e_b", "n_b").withColumnRenamed("cluster", "cluster_b"),
        col("cluster") === col("cluster_b") && col("id_a") < col("id_b"))
      .withColumn("score", trunc6(
        when(denom === 0d, 0d)
          .otherwise(VectorFunctions.dot(col("e_a"), col("e_b")) / denom)))
      .filter(col("score") >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    labeled.select(col("vec_id"), col("cluster"))
      .join(dropped.withColumn("_dropped", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        coalesce(!col("_dropped"), lit(true)).as("keep"))
      .orderBy("vec_id")
  }

  /** Token shingle occurrences: one row per k-token window position.
    * Positions are 1-based token indices. Docs shorter than k tokens
    * contribute no shingles. Row-local (tokenize + posexplode).
    *
    * Key representation: `hashKeys = false` keeps the shingle TEXT
    * itself (exact substring semantics, no collision caveat, and the
    * oracle replays it verbatim); `hashKeys = true` folds the k tokens
    * to one xxhash64 long BEFORE the shuffle — the 100 TB shape, where
    * a fixed 8-byte key replaces a k-token string as the exchange key
    * (shuffle bytes drop by ~the mean shingle length). Every consumer
    * only ever groups/joins on the key, so the two representations
    * produce identical spans whenever the hash is collision-free on
    * the corpus (q327 pins that equivalence against the text oracle;
    * OperatorSpec asserts collision-freedom where it is claimed). */
  private def shingleOccurrences(docs: DataFrame, k: Int,
      hashKeys: Boolean = false): DataFrame = {
    val key = if (hashKeys) xxhash64(col("col")) else col("col")
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> array_join(slice(toks, i, $k), ' '))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), key.as("sh"))
  }

  /** Merge duplicated k-token window START positions into maximal
    * disjoint token spans: two duplicated windows belong to one span
    * when their token intervals touch or overlap (start gap <= k-1,
    * NOT only gap 1 — a [2, k-1] start gap still overlaps in token
    * coverage, and emitting both would double-count the shared
    * tokens). Gap flag + running sum = interval union; both are
    * windows over the SAME (doc_id, pos) ordering, so they share one
    * exchange + sort, bounded by document length. */
  private def mergeSpans(dupPos: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("new_grp",
        when(col("pos") - lag("pos", 1).over(w) > (k - 1), 1).otherwise(0))
      .withColumn("grp", sum("new_grp")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"),
        (max("pos") + (k - 1)).as("span_end"))
      .select(col("doc_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** Exact duplicated-span detection — the substring-level dedup every
    * large training pipeline runs (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", which uses a corpus
    * suffix array). The Spark-first reformulation replaces the suffix
    * array with k-token shingle occurrence grouping: a token position is
    * duplicated iff its k-token shingle occurs at >= 2 occurrences
    * corpus-wide (cross-doc or within-doc), and overlapping/adjacent
    * duplicated windows merge into maximal DISJOINT spans covering
    * [start, end] token indices (end = last window start + k - 1) —
    * exactly the token regions a suffix-array scan would mark for
    * duplicated substrings of >= k tokens. No reference analogue
    * (training-pipeline extension).
    *
    * Scale shape: tokenize/posexplode is row-local; duplicate detection
    * is ONE shuffle keyed on the shingle with map-side partial counts (a
    * boilerplate-hot shingle costs a count, never a collected bag); the
    * position filter is a left-semi join back on the same key (AQE
    * broadcasts the usually-small duplicated-shingle side); span merging
    * is a window partitioned by doc_id — bounded by document length,
    * never corpus-wide. `hashKeys = true` pre-hashes the shingle to a
    * fixed-width long before the shuffle (the 100 TB key shape — see
    * [[shingleOccurrences]]); the text form is the oracle twin. */
  def duplicatedSpans(docs: DataFrame, k: Int = 8,
      hashKeys: Boolean = false): DataFrame = {
    val sh = shingleOccurrences(docs, k, hashKeys)
    val dupSh = sh.groupBy("sh").count()
      .filter(col("count") >= 2).select("sh")
    mergeSpans(sh.join(dupSh, Seq("sh"), "left_semi"), k)
  }

  /** Incremental duplicated-span detection — the crawl-ingest shape of
    * [[duplicatedSpans]]: only NEW (batch) documents are scanned for
    * spans duplicating either the committed corpus or the batch itself;
    * the corpus contributes just its distinct shingle set, never its
    * positions. Returns maximal spans of batch docs only.
    *
    * This RECOMPUTE form pays O(corpus) shingle work per batch — it is
    * the semantic twin kept for the oracle and for one-shot use. The
    * crawl-ingest deployment shape is [[incrementalSpansIndexed]] over a
    * [[shingleIndex]] maintained at ingest by [[shingleIndexUpdate]],
    * whose per-batch cost is independent of corpus size. */
  def incrementalSpans(batch: DataFrame, corpus: DataFrame,
      k: Int = 8): DataFrame =
    incrementalSpansIndexed(batch,
      shingleOccurrences(corpus, k).select("sh").distinct(), k)

  /** The persisted corpus shingle index behind incremental span dedup:
    * one row per distinct shingle key with its corpus occurrence count
    * — the substring-dedup analogue of the BM25 postings table
    * ([[graft.pipeline.KeywordIndex]]) and the minhash signature cache
    * above, built once per corpus and maintained at ingest (reference
    * pattern: incremental index upkeep,
    * store/keyword_store/sqlite_store.py:93-145). Counts (not just the
    * distinct set) make the upkeep a mergeable SUM — two index states
    * combine without re-reading any document — and keep within-corpus
    * duplication queryable. One map-side-combined shuffle on the key. */
  def shingleIndex(corpus: DataFrame, k: Int = 8,
      hashKeys: Boolean = false): DataFrame =
    shingleOccurrences(corpus, k, hashKeys)
      .groupBy("sh").agg(count(lit(1)).as("n_occ"))

  /** Ingest-time upkeep of [[shingleIndex]]: fold a new batch's shingle
    * counts into the committed index. Cost: one shuffle over the
    * BATCH's shingles plus a co-partitioned merge with the index —
    * never a corpus re-scan. NOTE the materialization contract: this
    * frame is the MERGED VIEW; a deployment that wrote it out whole per
    * batch would pay an index-sized rewrite per ingest increment, so
    * the crawl-ingest path (StreamingIngest.spanDedupIngest) instead
    * appends the batch term ([[shingleIndex]] of the batch alone) as a
    * LOG DELTA and runs [[shingleIndexMerge]] as periodic COMPACTION —
    * counts being a mergeable SUM is exactly what makes the
    * log-structured form equivalent. Idempotence is the caller's
    * contract (the MVCC commit marker pattern in TableOps guards
    * replays). */
  def shingleIndexUpdate(index: DataFrame, batch: DataFrame, k: Int = 8,
      hashKeys: Boolean = false): DataFrame =
    shingleIndexMerge(Seq(index, shingleIndex(batch, k, hashKeys)))

  /** Merge any number of [[shingleIndex]] states (full indexes or
    * per-batch count deltas) into one: counts are a mergeable SUM, so
    * two index states combine without re-reading any document — the
    * compaction step of the log-structured ingest fold, and the
    * union-of-shards step of a partitioned build. One
    * map-side-combined shuffle over the parts' total size (paid at
    * compaction CADENCE, never per batch; at 100 TB the parts are
    * bucketed by key so even this merge is shuffle-free). */
  def shingleIndexMerge(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy("sh").agg(sum(col("n_occ")).as("n_occ"))

  /** Incremental duplicated-span detection against a PERSISTED
    * [[shingleIndex]] — the operator the crawl-ingest story actually
    * runs. Per-batch work: one shuffle over the batch's own (small)
    * shingle set, plus one membership pass over the index that streams
    * it MAP-SIDE against a broadcast of the batch's distinct keys —
    * the corpus-sized side is never shuffled or sorted, so batch cost
    * is one embarrassingly-parallel index scan, not a corpus-keyed
    * exchange (the batch-is-small contract every ingest increment
    * satisfies). At extreme corpus sizes [[incrementalSpansBloom]]
    * adds the persisted Bloom-snapshot prefilter in front (same
    * results), and a key-sorted on-disk index layout lets row-group
    * stats prune the membership scan further. Accepts the full index
    * (sh, n_occ) or any frame exposing the corpus keys as `sh`;
    * identical output to [[incrementalSpans]] on the corpus the index
    * was built from — q326 pins that equivalence hash-for-hash against
    * q324's oracle. */
  def incrementalSpansIndexed(batch: DataFrame, index: DataFrame,
      k: Int = 8, hashKeys: Boolean = false): DataFrame = {
    val sb = shingleOccurrences(batch, k, hashKeys)
    val batchKeys = sb.select("sh").distinct()
    val corpusHits = index.select("sh")
      .join(broadcast(batchKeys), Seq("sh"), "left_semi")
    val dupInBatch = sb.groupBy("sh").count()
      .filter(col("count") >= 2).select("sh")
    // sb keys ⊆ batch keys, so filtering against (index ∩ batch keys) ∪
    // within-batch dups ≡ filtering against index ∪ dups; both sides of
    // the union are batch-bounded, so the final semi-join broadcasts.
    // left_semi is insensitive to duplicate right-side keys — no distinct
    mergeSpans(
      sb.join(broadcast(corpusHits.union(dupInBatch)), Seq("sh"), "left_semi"),
      k)
  }

  /** Bloom SNAPSHOT of a [[shingleIndex]]'s key set — the prefilter
    * artifact maintained ALONGSIDE the index at extreme corpus sizes
    * (Bloom insertion is mergeable the same way the counts are: a
    * batch's keys fold in without re-reading the corpus; this builder
    * is the from-scratch form). Pair with [[incrementalSpansBloom]]. */
  def shingleIndexBloom(index: DataFrame, fpp: Double = 0.01): Array[Byte] = {
    val expected = math.max(index.count(), 1L)
    val bloom = index.stat.bloomFilter("sh", expected, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** SHARDED Bloom snapshot of a [[shingleIndex]]'s key set — the
    * extreme-corpus form of [[shingleIndexBloom]], whose single array
    * is driver-resident and sized by the WHOLE key count (a 1% fpp
    * filter over trillions of keys is tens of GB — un-broadcastable).
    * Here the key space is hash-partitioned into `shards` buckets and
    * each bucket gets its OWN filter, built executor-side from that
    * bucket's keys alone and stored as a TABLE row
    * (shard, n_shards, n_keys, expected, bloom) — nothing corpus-sized
    * ever lands on the driver, and probes reach each filter via a
    * batch-keys-sized shuffle on the shard id
    * ([[incrementalSpansBloomSharded]]), never a broadcast of the
    * snapshot. Every shard emits a row (empty shards carry an empty
    * filter) so the fold below never has to invent capacities.
    * Mergeable upkeep: [[shingleIndexBloomShardsFold]] folds a batch's
    * keys in without re-reading the corpus — only touched shards
    * rewrite. `expected` records the capacity each filter was BUILT
    * for: folds insert past it without resizing (fpp degrades, never
    * exactness), so the maintainer compares n_keys against expected and
    * rebuilds once a shard runs ≥ 2× over — the doubling schedule that
    * keeps the prefilter's benefit from silently eroding to a no-op
    * over a long ingest (StreamingIngest.applySpanBatch runs exactly
    * that check). Same exactness contract as the single-array form: no
    * false negatives, and the exact confirm downstream kills false
    * positives. */
  def shingleIndexBloomShards(index: DataFrame, shards: Int = 64,
      fpp: Double = 0.01): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val nKeys = math.max(index.count(), 1L)
    // per-shard capacity with headroom: an over-full shard only degrades
    // fpp (never exactness); the floor keeps tiny fixtures well-formed
    val expected = math.max(nKeys * 3 / (2 * shards.toLong), 16L)
    val shardOf = pmod(xxhash64(col("sh")), lit(shards.toLong)).cast("int")
    val keyed = index.select(col("sh"), shardOf.as("shard"))
    // cogroup against the full shard-id range: every shard emits exactly
    // one row (empty shards carry an empty filter) with no sentinel keys
    // polluting the filters
    val shardIds = spark.range(shards.toLong).map(_.toInt)
    def build[T](ks: org.apache.spark.sql.Dataset[(T, Int)],
        put: (org.apache.spark.util.sketch.BloomFilter, T) => Unit): DataFrame =
      shardIds.groupByKey(identity).cogroup(ks.groupByKey(_._2)) {
        (shard, _, keys) =>
          val bf = org.apache.spark.util.sketch.BloomFilter.create(expected, fpp)
          var n = 0L
          keys.foreach { case (key, _) => put(bf, key); n += 1 }
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          Iterator.single((shard, shards, n, expected, bos.toByteArray))
      }.toDF("shard", "n_shards", "n_keys", "expected", "bloom")
    if (batchKeysAreLong(keyed))
      build[Long](keyed.as[(Long, Int)], (bf, key) => bf.putLong(key))
    else
      build[String](keyed.as[(String, Int)],
        (bf, key) => bf.putBinary(
          key.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Fold a BATCH's shingle keys into a sharded Bloom snapshot WITHOUT
    * re-reading the corpus (the mergeable upkeep
    * [[shingleIndexBloom]]'s scaladoc promises, delivered on the
    * sharded form): only the shards the batch touches deserialize,
    * insert the new keys, and re-serialize — untouched shards pass
    * through byte-identical. Cost ∝ batch keys + touched-shard bytes;
    * never corpus. */
  def shingleIndexBloomShardsFold(snapshot: DataFrame, batch: DataFrame,
      k: Int = 8, hashKeys: Boolean = false): DataFrame = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val nShards = snapshot.select("n_shards").head().getInt(0)
    val shardOf = pmod(xxhash64(col("sh")), lit(nShards.toLong)).cast("int")
    val keys = shingleOccurrences(batch, k, hashKeys)
      .select("sh").distinct().select(col("sh"), shardOf.as("shard"))
    val snap = snapshot
      .select("shard", "n_shards", "n_keys", "expected", "bloom")
      .as[(Int, Int, Long, Long, Array[Byte])]
    def fold[T](ks: org.apache.spark.sql.Dataset[(T, Int)],
        put: (org.apache.spark.util.sketch.BloomFilter, T) => Unit): DataFrame =
      snap.groupByKey(_._1).cogroup(ks.groupByKey(_._2)) {
        (shard, filters, newKeys) =>
          filters.map { case (_, ns, n, exp, bytes) =>
            if (!newKeys.hasNext) (shard, ns, n, exp, bytes)
            else {
              val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(bytes))
              var added = 0L
              newKeys.foreach { case (key, _) => put(bf, key); added += 1 }
              val bos = new java.io.ByteArrayOutputStream()
              bf.writeTo(bos)
              // n_keys counts INSERTIONS (batch keys may repeat corpus
              // keys), so it upper-bounds distinct occupancy — the
              // conservative side for the 2x-over-expected rebuild check
              (shard, ns, n + added, exp, bos.toByteArray)
            }
          }
      }.toDF("shard", "n_shards", "n_keys", "expected", "bloom")
    if (batchKeysAreLong(keys)) fold[Long](
      keys.as[(Long, Int)], (bf, key) => bf.putLong(key))
    else fold[String](keys.as[(String, Int)],
      (bf, key) => bf.putBinary(
        key.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  private def batchKeysAreLong(keys: DataFrame): Boolean =
    keys.schema("sh").dataType == org.apache.spark.sql.types.LongType

  /** [[incrementalSpansIndexed]] behind the SHARDED Bloom prefilter —
    * [[incrementalSpansBloom]]'s extreme-corpus twin: the batch's
    * distinct keys shuffle by shard id to meet their shard's filter
    * (cogroup — one filter deserialization per shard, the filter bytes
    * never replicate per key and never land on the driver), survivors
    * pay the exact membership confirm against the index. Results are
    * IDENTICAL to the unfiltered path: no false negatives means every
    * true index key reaches the confirm, and the confirm kills the
    * false positives. */
  def incrementalSpansBloomSharded(batch: DataFrame, index: DataFrame,
      snapshot: DataFrame, k: Int = 8,
      hashKeys: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val sb = shingleOccurrences(batch, k, hashKeys)
    val nShards = snapshot.select("n_shards").head().getInt(0)
    val shardOf = pmod(xxhash64(col("sh")), lit(nShards.toLong)).cast("int")
    val keys = sb.select("sh").distinct().select(col("sh"), shardOf.as("shard"))
    val snap = snapshot.select("shard", "bloom").as[(Int, Array[Byte])]
    def probe[T: org.apache.spark.sql.Encoder](
        ks: org.apache.spark.sql.Dataset[(T, Int)],
        might: (org.apache.spark.util.sketch.BloomFilter, T) => Boolean) =
      snap.groupByKey(_._1).cogroup(ks.groupByKey(_._2)) {
        (_, filters, candidates) =>
          // a shard with no snapshot row is treated as MIGHT-CONTAIN:
          // the build invariant is every-shard-emits-a-row, but a
          // filtered or hand-built snapshot that breaks it must cost
          // performance (extra exact confirms), never exactness
          // (silent false negatives)
          if (!filters.hasNext) candidates.map(_._1)
          else {
            val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(filters.next()._2))
            candidates.collect { case (key, _) if might(bf, key) => key }
          }
      }
    val candKeys =
      if (batchKeysAreLong(keys))
        probe[Long](keys.as[(Long, Int)],
          (bf, key) => bf.mightContainLong(key)).toDF("sh")
      else
        probe[String](keys.as[(String, Int)],
          (bf, key) => bf.mightContainBinary(
            key.getBytes(java.nio.charset.StandardCharsets.UTF_8))).toDF("sh")
    val corpusHits = index.select("sh")
      .join(broadcast(candKeys), Seq("sh"), "left_semi")
    val dupInBatch = sb.groupBy("sh").count()
      .filter(col("count") >= 2).select("sh")
    mergeSpans(
      sb.join(broadcast(corpusHits.union(dupInBatch)), Seq("sh"), "left_semi"),
      k)
  }

  /** [[incrementalSpansIndexed]] behind a broadcast Bloom prefilter —
    * the extreme-corpus shape (the q83 decontamination pattern): the
    * batch's shingles probe the persisted snapshot O(batch) MAP-SIDE
    * first, and only the (few) possible hits pay the exact membership
    * confirm against the index, which stays the exactness backstop —
    * no false negatives means every true index key still reaches the
    * confirm, and the confirm kills the false positives, so results
    * are IDENTICAL to the unfiltered path (q329 pins this against
    * q324's recompute oracle; the win is that the confirm's broadcast
    * candidate set shrinks from all batch keys to the near-hits). */
  def incrementalSpansBloom(batch: DataFrame, index: DataFrame,
      bloomBytes: Array[Byte], k: Int = 8,
      hashKeys: Boolean = false): DataFrame = {
    val sb = shingleOccurrences(batch, k, hashKeys)
    val probe =
      if (hashKeys) bloomMightContainLong(col("sh"), bloomBytes)
      else bloomMightContain(col("sh"), bloomBytes)
    val candKeys = sb.filter(probe).select("sh").distinct()
    val corpusHits = index.select("sh")
      .join(broadcast(candKeys), Seq("sh"), "left_semi")
    val dupInBatch = sb.groupBy("sh").count()
      .filter(col("count") >= 2).select("sh")
    mergeSpans(
      sb.join(broadcast(corpusHits.union(dupInBatch)), Seq("sh"), "left_semi"),
      k)
  }

  /** Corpus duplication-rate rollup over [[duplicatedSpans]] — the
    * one-row summary a dedup run reports (Lee et al. 2022 Table 1
    * shape): total tokens, tokens inside duplicated spans (the maximal
    * spans are disjoint per doc, so the sum is exact), the duplication
    * ratio, span count, and the longest span. All-aggregate: two scans
    * and a scalar combine, no driver materialization. */
  def duplicationReport(docs: DataFrame, k: Int = 8,
      hashKeys: Boolean = false): DataFrame = {
    val spans = duplicatedSpans(docs, k, hashKeys)
    val tot = docs
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n").as("total_tokens"))
    val sp = spans.agg(
      coalesce(sum("span_len"), lit(0L)).as("dup_tokens"),
      count(lit(1)).as("n_spans"),
      coalesce(max("span_len"), lit(0L)).as("max_span_len"))
    tot.crossJoin(sp) // 1x1 scalar combine
      .select(col("total_tokens").cast("long").as("total_tokens"),
        col("dup_tokens").cast("long").as("dup_tokens"),
        when(col("total_tokens") === 0L, 0d)
          .otherwise(trunc6(col("dup_tokens").cast("double") /
            col("total_tokens"))).as("dup_ratio"),
        col("n_spans").cast("long").as("n_spans"),
        col("max_span_len").cast("long").as("max_span_len"))
  }

  /** Duplicated-span REMOVAL — [[duplicatedSpans]]'s cleaning step: every
    * duplicated k-token shingle keeps its canonical first occurrence
    * (minimal (doc_id, pos)) INTACT — canonical occurrences' tokens are
    * protected, and tokens covered only by non-canonical occurrences are
    * stripped — so at least one whole copy of every duplicated substring
    * survives corpus-wide (Lee et al. 2022 §3 semantics, keep-first
    * tie-break). Without the protection, a removable occurrence of one
    * shingle overlapping another shingle's canonical occurrence in the
    * same doc would destroy every intact copy of the latter. The
    * converse looseness is accepted: a non-canonical occurrence sheltered by
    * an overlapping canonical span may partially survive (conservative —
    * dedup misses it rather than harming the kept copy). Returns every
    * input doc with its original/removed token counts and cleaned text.
    *
    * Scale: the keeper is a map-side-combinable min(struct) per shingle
    * (same single shuffle as detection); covered-token expansion fans
    * out at most k rows per occurrence; the protection is ONE
    * aggregation over that fan-out (a removed token = covered by some
    * occurrence, max(isCanonical) false) — everything keyed work
    * touches is bounded by the DUPLICATED occurrences, typically a
    * small corpus fraction. Re-assembly then folds the covered positions to one
    * array row per affected doc and joins that (dup-bounded) frame back
    * to the corpus on doc_id alone, where a compiled merge
    * ([[graft.functions.TextFunctions.tokensExceptPositions]], O(n + m)
    * per doc) rebuilds the cleaned text ROW-LOCALLY — the corpus-token
    * explosion never crosses an exchange (the previous formulation
    * shuffled every corpus token twice: the (doc_id, pos) join and the
    * collect_list re-sort; this was the ladder's worst rung at ×8.21
    * for 100× data). `hashKeys` as in [[duplicatedSpans]]: the keeper
    * min(struct) and the >=2 filter only touch the key, so the hashed
    * form is span-identical while the hash is collision-free.
    * `ordered = true` appends a total orderBy(doc_id) — wanted ONLY for
    * deterministic-hash oracle replay; the default skips it, since a
    * global sort of the whole cleaned corpus is an avoidable final
    * exchange at 100 TB (the cleaned rows are usually written
    * partitioned, not rank-consumed). */
  def spanRemoval(docs: DataFrame, k: Int = 8,
      hashKeys: Boolean = false, ordered: Boolean = false): DataFrame = {
    val sh = shingleOccurrences(docs, k, hashKeys)
    val keeper = sh.groupBy("sh").agg(
      min(struct(col("doc_id"), col("pos"))).as("kp"),
      count(lit(1)).as("n_occ"))
    // single-consumer frame now (the covered computation below is one
    // pass), so no checkpoint: the r10 localCheckpoint traded executor
    // fault-tolerance for a saved recompute across the two old
    // covered-token branches; with one consumer there is nothing to save
    val dupOcc = sh.join(keeper, "sh").filter(col("n_occ") >= 2)
    val isCanonical =
      col("doc_id") === col("kp.doc_id") && col("pos") === col("kp.pos")
    // a token is REMOVED iff some non-canonical occurrence covers it
    // and no canonical one does — i.e. max(isCanonical) over its
    // covering occurrences is false. One explode + one aggregation
    // (the two-distinct + anti-join formulation paid three shuffles of
    // the same covered-token set)
    val covered = dupOcc
      .select(col("doc_id"), isCanonical.as("canon"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("t"))
      .groupBy("doc_id", "t").agg(max(col("canon")).as("protected"))
      .filter(!col("protected"))
    // one array row per AFFECTED doc (dup-bounded, ≤ 1 row/doc), then a
    // doc_id join against the corpus and a row-local compiled rebuild
    // positions as LONGS: the compiled merge reads the array through
    // toLongArray, and an int-element UnsafeArrayData would silently
    // reinterpret (not convert) its bytes
    val coveredArr = covered.groupBy("doc_id")
      .agg(collect_list(col("t").cast("long")).as("cov"))
    val cleaned = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(coveredArr, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        when(col("cov").isNull, 0L)
          .otherwise(size(col("cov")).cast("long")).as("n_removed"),
        graft.functions.TextFunctions
          .tokensExceptPositions(col("toks"), col("cov")).as("text_clean"))
    if (ordered) cleaned.orderBy("doc_id") else cleaned
  }
}
