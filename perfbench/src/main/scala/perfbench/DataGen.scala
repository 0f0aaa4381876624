package perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the benchmark's input tables.
  *
  * Writes the ten tables the program's loaders read (`graft.Tables`):
  * the TPC-H-ish star schema (region, nation, customer, supplier, part,
  * orders, lineitem), the `events` stream table, the `documents` text
  * corpus and the labelled `embeddings`. Shapes, key ranges and value
  * distributions follow the synthetic sf-scaled testdata the program's
  * specs are written against (row counts: lineitem 6M·sf, orders
  * 1.5M·sf, documents 50k·sf, embeddings 20k·sf, ...).
  *
  * Every value is a pure function of (table, row id, column), via a
  * 64-bit hash of a fixed seed — independent of partitioning, so the same
  * `sf` always yields byte-identical rows. The tables are a build
  * artifact of the benchmark: they depend on nothing the program does,
  * so they are generated once per checkout and reused.
  */
object DataGen {
  val Version = "1"
  private val Seed = 42L

  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** Uniform double in [0, 1) for (tag, id). */
  private def u(tag: String, id: Column): Column =
    pmod(xxhash64(lit(Seed), lit(tag), id), lit(1L << 40)).cast("double") / (1L << 40).toDouble

  private def pick(tag: String, id: Column, values: Seq[String]): Column =
    element_at(typedLit(values), (floor(u(tag, id) * values.size) + 1).cast("int"))

  private def between(tag: String, id: Column, lo: Long, hi: Long): Column =
    (floor(u(tag, id) * (hi - lo + 1)) + lo).cast("long")

  private def cents(c: Column): Column = round(c * 100) / 100

  private def day(tag: String, id: Column, from: String, to: String): Column = {
    val d0 = java.time.LocalDate.parse(from).toEpochDay
    val d1 = java.time.LocalDate.parse(to).toEpochDay
    timestamp_seconds((between(tag, id, d0, d1)) * 86400L)
  }

  /** Write every table under `dir` unless a complete copy of this
    * generator version is already there. */
  def ensure(spark: SparkSession, dir: String, sf: Double): Unit = {
    val target = new java.io.File(dir)
    if (new java.io.File(target, s"_GENERATED_v$Version").exists()) return
    // generate beside the target and rename into place: a run that dies
    // half-way never leaves a partial copy that looks complete
    val tmp = new java.io.File(target.getParentFile, s".${target.getName}.tmp-${ProcessHandle.current().pid()}")
    deleteTree(tmp)
    generate(spark, tmp.getAbsolutePath, sf)
    java.nio.file.Files.write(new java.io.File(tmp, s"_GENERATED_v$Version").toPath,
      s"sf=$sf\n".getBytes("UTF-8"))
    deleteTree(target)
    if (!tmp.renameTo(target)) throw new IllegalStateException(s"cannot move $tmp to $target")
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    import spark.implicits._
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    val id = col("id")

    save("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name"))
    save("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000)
    save("customer", spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      between("c_nat", id, 0, 24).cast("int").as("c_nationkey"),
      cents(u("c_bal", id) * 10999.99 - 999.99).as("c_acctbal"),
      pick("c_seg", id, Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD",
        "FURNITURE")).as("c_mktsegment")))
    save("supplier", spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      between("s_nat", id, 0, 24).cast("int").as("s_nationkey"),
      cents(u("s_bal", id) * 10999.99 - 999.99).as("s_acctbal")))
    val adjectives = Seq("blue", "cold", "hot", "large", "old", "small", "red", "new")
    val nouns = Seq("anvil", "bolt", "gear", "plate", "ring", "widget", "nut", "spring")
    save("part", spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick("p_adj", id, adjectives), pick("p_noun", id, nouns)).as("p_name"),
      concat(lit("Brand#"), between("p_brand", id, 1, 25)).as("p_brand"),
      pick("p_type", id, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
        "PROMO")).as("p_type"),
      between("p_size", id, 1, 50).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)).cast("double") / 10).as("p_retailprice")))
    save("orders", spark.range(nOrd).select(id.as("o_orderkey"),
      between("o_cust", id, 0, nCust - 1).as("o_custkey"),
      pick("o_status", id, Seq("O", "P", "F")).as("o_orderstatus"),
      cents(u("o_total", id) * 498991.27 + 1001.91).as("o_totalprice"),
      day("o_date", id, "1995-01-01", "2001-08-01").as("o_orderdate"),
      pick("o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    save("lineitem", spark.range(nLine).select(
      between("l_ord", id, 0, nOrd - 1).as("l_orderkey"),
      between("l_part", id, 0, nPart - 1).as("l_partkey"),
      between("l_supp", id, 0, nSupp - 1).as("l_suppkey"),
      between("l_line", id, 1, 7).cast("int").as("l_linenumber"),
      between("l_qty", id, 1, 50).cast("double").as("l_quantity"),
      cents(u("l_price", id) * 104099.23 + 900.68).as("l_extendedprice"),
      (between("l_disc", id, 0, 10).cast("double") / 100).as("l_discount"),
      (between("l_tax", id, 0, 8).cast("double") / 100).as("l_tax"),
      pick("l_rf", id, Seq("N", "A", "R")).as("l_returnflag"),
      pick("l_ls", id, Seq("O", "F")).as("l_linestatus"),
      day("l_ship", id, "1995-01-02", "2001-11-04").as("l_shipdate")))

    // events: ids in time order over 30 days, exponential-ish values
    val nEv = n(1000000)
    val stepUs = 30L * 86400L * 1000000L / nEv
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
    save("events", spark.range(nEv).select(id.as("event_id"),
      timestamp_micros(lit(t0) + id * stepUs + floor(u("e_jit", id) * stepUs).cast("long"))
        .as("ts"),
      between("e_user", id, 0, math.max(1L, n(15000)) - 1).as("user_id"),
      pick("e_type", id, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      cents(-log(lit(1.0) - u("e_val", id) * 0.999) * 50).as("value"),
      format_string("{\"k\": %d}", between("e_k", id, 0, 99)).as("props")))

    // documents: 10–100 vocabulary tokens; every 20th doc re-uses an
    // earlier doc's text with a trailing "dup" (near-duplicate pairs)
    val nDoc = n(50000).toInt
    val rnd = new scala.util.Random(Seed)
    val texts = new Array[String](nDoc)
    val langs = Seq("en", "en", "fr", "zh", "de", "es")
    val docs = (0 until nDoc).map { i =>
      texts(i) =
        if (i % 20 == 11 && i > 20) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      (i.toLong, texts(i), langs(rnd.nextInt(langs.size)), s"src${i % 20}",
        texts(i).length.toLong)
    }
    save("documents", docs.toDF("doc_id", "text", "lang", "source", "n_chars"))

    // embeddings: 10 labelled clusters in 64 dims, unit-normalised
    val nVec = n(20000).toInt
    val centers = Array.fill(10, 64)(rnd.nextGaussian())
    val vecs = (0 until nVec).map { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(64)(j => centers(label)(j) + 1.5 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
    save("embeddings", vecs.toDF("vec_id", "embedding", "label"))
  }
}
