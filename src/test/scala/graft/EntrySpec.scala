package graft

class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs at sf0.001") {
    // one collect() per query, shared with DeterminismSpec's first run
    val failures = QueryPass.first(spark, sf()).collect {
      case (name, Left(e)) => s"$name: ${e.getMessage.take(100)}"
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("q29 and q106 share one persisted minhash index, built once") {
    // a private copy of the documents: no registry entry exists for this
    // dataset dir yet, whatever ran earlier in the JVM
    val d = graft.TempDirs.create("minhash_fixture").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf(), "documents.parquet"),
      java.nio.file.Paths.get(d, "documents.parquet"))
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val runs = Seq("q29_minhash_lsh", "q106_minhash_estimate",
        "q29_minhash_lsh", "q106_minhash_estimate")
      .map(name => QueryPass.rows(SparkEntry.queries(name)(spark, d)))
    val after = persisted
    assert((before -- after).isEmpty, "nothing already persisted is dropped")
    assert((after -- before).size == 3,
      s"one index set (verify, band rows, signatures): ${after -- before}")
    assert(runs(0).nonEmpty && runs(0) == runs(2) && runs(1) == runs(3))
  }

  test("oracle coverage: every query has oracle SQL, none orphaned") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, noOracle.toString)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, orphans.toString)
  }

  test("every bench-only extra runs at sf0.001") {
    // the amortization rungs are the SAME code as x93/x94 with bigger
    // fixed message/doc constants (they ignore sf) — smoking them here
    // would push 60k driver-built messages through the pipeline for
    // zero extra coverage
    val sizeOnlyRungs = Set("x96_stream_ingest_6k", "x97_stream_ingest_60k",
      "x99_stream_clean_24k", "x9a_stream_ingest_600k")
    val failures = SparkEntry.benchExtras.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => sizeOnlyRungs(name) }
      .flatMap { case (name, fn) =>
        try { fn(spark, sf()).count(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(100)}") }
      }
    assert(failures.isEmpty, failures.mkString("; "))
  }
}
