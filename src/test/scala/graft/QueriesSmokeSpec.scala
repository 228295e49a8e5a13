package graft

/** Every registered query runs end-to-end on sf0.001 and yields a sane
  * result. The DuckDB hash-match is the driver's job; this guards against
  * regressions (analysis errors, empty results) between rounds. */
class QueriesSmokeSpec extends SparkSpec {

  // Queries whose correct sf0.001 result may legitimately be small.
  private val mayBeSmall = Set("q36_lsh_neardup", "q37_jaccard_pairs")

  SparkEntry.registry.foreach { q =>
    test(s"${q.name} runs and returns rows") {
      val n = q.run(spark, sfDir).count()
      if (!mayBeSmall(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
      else assert(n >= 0)
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key corresponds to a registered query") {
    val names = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(names))
  }

  // `queries` and `oracleSql` are Maps keyed by name: a repeated name
  // would silently drop a row from Verify, Bench and the oracle dump.
  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    val repeated = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(repeated.isEmpty, s"repeated registry names: ${repeated.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }
}
