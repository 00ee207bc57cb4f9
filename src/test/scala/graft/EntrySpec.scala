package graft

/** Smoke coverage of the gate registry: every declared gate runs at
  * sf0.001, and the registry is well formed. */
class EntrySpec extends SparkSpec {

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and returns a non-degenerate result") {
    val allowedEmpty = Set.empty[String] // every query must produce rows
    SparkEntry.gates.foreach { g =>
      val n = g.run(spark, sf).count()
      assert(n > 0 || allowedEmpty(g.name), s"${g.name} returned $n rows")
    }
  }

  test("every query has an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("oracle keys all refer to real queries") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }

  test("gate names are unique and the registry starts at q1_agg") {
    // a duplicate name would silently shadow a gate in the name-keyed views
    val dups = SparkEntry.gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate gate names: $dups")
    assert(SparkEntry.gates.head.name == "q1_agg")
  }
}
