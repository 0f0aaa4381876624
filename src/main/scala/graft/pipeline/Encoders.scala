package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Pluggable embedding encoder stage (reference: rag/encode/base.py
  * registry + rag/encode/MiniLM.py SentenceTransformer wrapper, K9).
  *
  * The production path is a broadcast ONNX session driven from
  * `mapPartitions` — each partition encodes its rows in batches, so the
  * work distributes across executors with no shuffle and no driver
  * round-trip. Model inference libraries are not available in this
  * environment, so the shipped implementation is [[HashingEncoder]]: the
  * same partition-parallel shape with a deterministic feature-hashing
  * kernel (tokens hashed into `dim` buckets, L2-normalized) standing in
  * for the model forward pass.
  */
/** Shared hashed bag-of-tokens featurizer: token t adds ±1 (sign from
  * the hash's top bit) into bucket murmur3(t, seed) % featDim. Both the
  * projection models and the offline trainer (graft.tools.TrainWeights)
  * featurize through here, so shipped weights can never drift from the
  * runtime feature space. */
object HashedBow {
  def raw(text: String, featDim: Int, seed: Int): Array[Float] = {
    val f = new Array[Float](featDim)
    text.split(" ").foreach { tok =>
      if (tok.nonEmpty) {
        val h = scala.util.hashing.MurmurHash3.stringHash(tok, seed)
        f(math.floorMod(h, featDim)) += (if (((h >>> 31) & 1) == 0) 1f else -1f)
      }
    }
    f
  }

  def l2(text: String, featDim: Int, seed: Int): Array[Float] = {
    val f = raw(text, featDim, seed)
    val n = math.sqrt(f.map(x => x.toDouble * x).sum)
    if (n > 0) f.map(x => (x / n).toFloat) else f
  }
}

/** Loader for the small trained weight tensors shipped on the classpath
  * (`src/main/resources/graft/weights/`). The tensors are TRAINED, not
  * random: `graft.tools.TrainWeights` (test scope, committed alongside)
  * fits them by SGD on sentence pairs generated from a public
  * common-English synonym lexicon — positives share meaning through
  * different surface tokens, so the models must learn cross-bucket
  * synonym alignment, which no hash kernel can express. File format:
  * DataOutputStream big-endian — matrix = int rows, int cols, row-major
  * float32; vector = int length, float32. */
object TrainedWeights {
  val EncoderResource = "/graft/weights/encoder_w.bin"
  val CrossW1Resource = "/graft/weights/cross_w1.bin"
  val CrossW2Resource = "/graft/weights/cross_w2.bin"

  private def open(resource: String) = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"trained weight resource $resource not on classpath")
    new java.io.DataInputStream(new java.io.BufferedInputStream(in))
  }

  def loadMatrix(resource: String): Array[Array[Float]] = {
    val in = open(resource)
    try {
      val rows = in.readInt(); val cols = in.readInt()
      Array.fill(rows)(Array.fill(cols)(in.readFloat()))
    } finally in.close()
  }

  def loadVector(resource: String): Array[Float] = {
    val in = open(resource)
    try Array.fill(in.readInt())(in.readFloat()) finally in.close()
  }
}

trait TextEncoder extends Serializable {
  def dim: Int
  /** Encode one text — used for query-time single encodes. */
  def encodeOne(text: String): Array[Float]

  /** Add an `embedding` array<float> column derived from `textCol` —
    * partition-parallel, the same `mapPartitions` shape a real ONNX
    * encoder uses (batch per partition, no shuffle). */
  def encode(df: DataFrame, textCol: String): DataFrame = {
    val enc = this
    val outSchema = df.schema.add("embedding", ArrayType(FloatType, containsNull = false))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(textCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        Row.fromSeq(r.toSeq :+ enc.encodeOne(r.getString(idx)).toSeq)
      }
    }(encoder)
  }
}

/** Deterministic feature-hashing encoder: token counts hashed into `dim`
  * buckets with a signed hash, L2-normalized. Embeds semantically-similar
  * (token-overlapping) texts near each other, which is exactly what the
  * retrieval tests need, and is reproducible across runs/engines. */
case class HashingEncoder(dim: Int = Schemas.EmbeddingDim) extends TextEncoder {

  def encodeOne(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    text.split(" ").foreach { tok =>
      if (tok.nonEmpty) {
        val h = scala.util.hashing.MurmurHash3.stringHash(tok, 42)
        val bucket = math.floorMod(h, dim)
        val sign = if (((h >>> 31) & 1) == 0) 1f else -1f
        v(bucket) += sign
      }
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (norm > 0) v.map(x => (x / norm).toFloat) else v
  }
}

/** Fixed-weight random-projection encoder — the closest stand-in for a
  * real model this dependency-free build can ship (and a step up in
  * honesty from token hashing): a frozen, seed-derived dense layer
  * W[dim×featDim] maps a hashed bag-of-tokens feature vector through
  * tanh, L2-normalized. The compute is a genuine per-row matrix-vector
  * product with broadcast-once weights inside `mapPartitions` — exactly
  * the shape of an ONNX session forward pass (reference
  * rag/encode/MiniLM.py), so swapping in real weights changes only the
  * kernel, not the distribution strategy. Deterministic across
  * executors: the weights regenerate from the fixed seed per JVM —
  * or, with `weightsResource` set ([[RandomProjectionEncoder.trained]]),
  * load once per JVM from a shipped TRAINED tensor, closing the last
  * gap between "the compute shape of a model" and "a model actually
  * scoring": with the trained weights, synonym paraphrases embed near
  * each other even with zero token overlap. */
case class RandomProjectionEncoder(
    dim: Int = Schemas.EmbeddingDim,
    featDim: Int = 256,
    seed: Long = 42L,
    weightsResource: Option[String] = None) extends TextEncoder {

  // frozen "model weights": loaded from the shipped trained tensor, or
  // regenerated deterministically per executor from the seed — never
  // shipped through the closure either way
  @transient private lazy val weights: Array[Array[Float]] =
    weightsResource match {
      case Some(res) =>
        val w = TrainedWeights.loadMatrix(res)
        require(w.length == dim && w.head.length == featDim,
          s"trained tensor $res is ${w.length}x${w.head.length}, model wants ${dim}x$featDim")
        w
      case None =>
        val rnd = new java.util.Random(seed)
        Array.fill(dim, featDim)((rnd.nextGaussian() / math.sqrt(featDim)).toFloat)
    }

  def encodeOne(text: String): Array[Float] = {
    val feat = HashedBow.raw(text, featDim, seed.toInt)
    val w = weights
    val v = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      var acc = 0.0
      val row = w(i)
      var j = 0
      while (j < featDim) { acc += row(j) * feat(j); j += 1 }
      v(i) = math.tanh(acc).toFloat
      i += 1
    }
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (norm > 0) v.map(x => (x / norm).toFloat) else v
  }
}

object RandomProjectionEncoder {
  /** The shipped TRAINED encoder (weights fit offline by
    * graft.tools.TrainWeights on the public synonym lexicon). */
  def trained: RandomProjectionEncoder =
    RandomProjectionEncoder(weightsResource = Some(TrainedWeights.EncoderResource))
}

/** Oracle-reproducible sign-hash encoder: token t lands in bucket
  * md5_52(t) % dim with sign from bit 6 of the same digest, counts left
  * UNNORMALIZED — every component is a small exact integer, and cosine is
  * scale-invariant, so a SQL oracle can rebuild the identical similarity
  * from md5() alone (DuckDB: CAST(concat('0x', substr(md5(t),1,13)) AS
  * BIGINT), bucket = h % dim, sign = ((h >> 6) & 1)). Used wherever a
  * correctness gate needs bit-exact cross-engine embeddings; the
  * murmur-based [[HashingEncoder]] stays the default runtime stub. */
case class Md5SignEncoder(dim: Int = Schemas.EmbeddingDim) extends TextEncoder {
  def encodeOne(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    text.split(" ").foreach { t =>
      if (t.nonEmpty) {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 13)
        val h = java.lang.Long.parseLong(hex, 16) // 52 bits, non-negative
        val b = (h % dim).toInt
        v(b) += (if (((h >> 6) & 1) == 0L) 1f else -1f)
      }
    }
    v
  }
}

/** Pluggable second-stage reranker (reference: rag/rerank/MiniLM.py
  * cross-encoder, K8). Production = broadcast cross-encoder model in
  * `mapPartitions` over (query, candidate) pairs; shipped stand-in scores
  * by normalized token overlap — deterministic, same plumbing. */
trait Reranker extends Serializable {
  def rerank(candidates: DataFrame, queryText: String, topK: Int): DataFrame

  /** The `rerank_score` [[rerank]] gives a candidate's content, computed
    * on the driver and bit-identical to it — or None, and the facade
    * answers `queryText` on its Spark path. */
  def localScorer(queryText: String): Option[String => Double] = None
}

case class OverlapReranker() extends Reranker {
  private def queryTokens(queryText: String) = queryText.split(" ").filter(_.nonEmpty).distinct

  /** candidates: must carry (id, content); returns (id, content,
    * rerank_score) top-k sorted desc with id tie-break. */
  def rerank(candidates: DataFrame, queryText: String, topK: Int): DataFrame = {
    val qTokens = queryTokens(queryText)
    candidates
      .withColumn("rerank_score",
        graft.functions.TextFunctions.trunc6(
          size(array_intersect(array_distinct(split(col("content"), " ")),
            lit(qTokens))).cast("double") / lit(qTokens.length.toDouble)))
      .orderBy(col("rerank_score").desc, col("id"))
      .limit(topK)
  }

  /** None for a query with no tokens: its score divides by zero. */
  override def localScorer(queryText: String): Option[String => Double] = {
    val qTokens = queryTokens(queryText)
    val q = qTokens.toSet
    Option.when(qTokens.nonEmpty)(content => DriverQuery.trunc6(
      DriverQuery.tokens(content).distinct.count(q).toDouble / qTokens.length.toDouble))
  }
}

/** Fixed-weight CROSS-encoder (K8): hashed token features pass through a
  * projection layer P (a learned token-representation), then a two-layer
  * MLP head scores each (query, candidate) pair JOINTLY over
  * [p(q) ; p(c) ; p(q)⊙p(c) ; 1] — the interaction block is what
  * distinguishes a cross-encoder from a bi-encoder, and the trailing
  * constant is the hidden bias input. Computed per candidate row inside
  * `mapPartitions` with tensors materialized once per executor — the
  * exact distribution shape of the reference's MiniLM cross-encoder
  * (rag/rerank/MiniLM.py:26-240): swapping real weights in changes only
  * the tensors, never the plumbing. With the default seed-random tensors
  * the model scores arbitrarily (shape, not semantics) and
  * [[OverlapReranker]] stays the facade's default heuristic; with
  * [[ProjectionCrossEncoder.trained]] the shipped TRAINED tensors make
  * it a real (if tiny) relevance model — the facade's documented
  * non-default reranker. In the trained build P is the bi-encoder's
  * trained projection reused as the frozen representation layer and the
  * head is fit on synonym-paraphrase relevance — the classic
  * "pretrained body + task head" composition. */
case class ProjectionCrossEncoder(
    featDim: Int = 256,
    projDim: Int = 64,
    hidden: Int = 64,
    seed: Long = 7L,
    hashSeed: Int = 42,
    weightsResource: Option[(String, String, String)] = None) extends Reranker {

  // (P projection, w1 hidden, w2 output)
  @transient private lazy val weights
      : (Array[Array[Float]], Array[Array[Float]], Array[Float]) =
    weightsResource match {
      case Some((pRes, w1Res, w2Res)) =>
        val p = TrainedWeights.loadMatrix(pRes)
        val w1 = TrainedWeights.loadMatrix(w1Res)
        val w2 = TrainedWeights.loadVector(w2Res)
        require(p.length == projDim && p.head.length == featDim &&
          w1.length == hidden && w1.head.length == 3 * projDim + 1 && w2.length == hidden,
          s"trained tensors $pRes/$w1Res/$w2Res don't fit " +
            s"featDim=$featDim projDim=$projDim hidden=$hidden")
        (p, w1, w2)
      case None =>
        val rnd = new java.util.Random(seed)
        (Array.fill(projDim, featDim)(
          (rnd.nextGaussian() / math.sqrt(featDim)).toFloat),
          Array.fill(hidden, 3 * projDim + 1)(
            (rnd.nextGaussian() / math.sqrt(3.0 * projDim)).toFloat),
          Array.fill(hidden)((rnd.nextGaussian() / math.sqrt(hidden.toDouble)).toFloat))
    }

  /** p(text) = tanh(P · hashedBow(text)) — the representation layer. */
  private def proj(p: Array[Array[Float]], text: String): Array[Float] = {
    val f = HashedBow.raw(text, featDim, hashSeed)
    val v = new Array[Float](projDim)
    var i = 0
    while (i < projDim) {
      var acc = 0.0
      val row = p(i)
      var j = 0
      while (j < featDim) { acc += row(j) * f(j); j += 1 }
      v(i) = math.tanh(acc).toFloat
      i += 1
    }
    v
  }

  /** One pairwise forward pass. */
  def score(query: String, candidate: String): Double = {
    val (p, w1, w2) = weights
    val fq = proj(p, query); val fc = proj(p, candidate)
    val joint = new Array[Float](3 * projDim + 1)
    var j = 0
    while (j < projDim) {
      joint(j) = fq(j); joint(projDim + j) = fc(j)
      joint(2 * projDim + j) = fq(j) * fc(j)
      j += 1
    }
    joint(3 * projDim) = 1f
    var out = 0.0
    var i = 0
    while (i < hidden) {
      var acc = 0.0
      val row = w1(i)
      var k = 0
      while (k < joint.length) { acc += row(k) * joint(k); k += 1 }
      out += w2(i) * math.tanh(acc)
      i += 1
    }
    math.tanh(out)
  }

  def rerank(candidates: DataFrame, queryText: String, topK: Int): DataFrame = {
    val self = this
    val outSchema = candidates.schema.add("rerank_score",
      org.apache.spark.sql.types.DoubleType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val contentIdx = candidates.schema.fieldIndex("content")
    candidates.mapPartitions { rows =>
      rows.map(r => Row.fromSeq(r.toSeq :+ self.truncScore(queryText, r.getString(contentIdx))))
    }(enc)
      .orderBy(col("rerank_score").desc, col("id"))
      .limit(topK)
  }

  private def truncScore(query: String, candidate: String): Double =
    math.floor(score(query, candidate) * 1e6) / 1e6

  override def localScorer(queryText: String): Option[String => Double] =
    Some(truncScore(queryText, _))
}

object ProjectionCrossEncoder {
  /** The shipped TRAINED cross-encoder (tensors fit offline by
    * graft.tools.TrainWeights; P is the bi-encoder's trained projection):
    * pass as `MemFuse(reranker = ...)` to replace the default
    * token-overlap heuristic with a model that scores synonym-paraphrase
    * relevance. */
  def trained: ProjectionCrossEncoder =
    ProjectionCrossEncoder(weightsResource = Some((
      TrainedWeights.EncoderResource,
      TrainedWeights.CrossW1Resource,
      TrainedWeights.CrossW2Resource)))
}
