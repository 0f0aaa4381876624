package graft

class DeterminismSpec extends SparkSpec {

  test("every registered query is run-to-run deterministic at sf0.001") {
    // run 1 is the shared pass EntrySpec also checks; a query that threw
    // there fails this test with its exception
    val unstable = QueryPass.first(spark, sf()).flatMap { case (name, first) =>
      val a = first.toTry.get
      val b = QueryPass.rows(SparkEntry.queries(name)(spark, sf()))
      if (a == b) None else Some(name)
    }
    assert(unstable.isEmpty, s"nondeterministic: $unstable")
  }
}
