package graft

/** Registry-wide smoke: the driver's correctness gate only proves queries
  * that return rows; a data-dependent predicate drifting to an empty result
  * would "pass" while testing nothing. Every registered query must return
  * rows at the smallest scale factor, and the oracle map must track the
  * registry exactly — since round 7 there is NO rows-only query left. */
class RegistrySpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  test("every registered query runs at sf0.001 and returns rows") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned 0 rows at sf0.001 — tests nothing")
    }
  }

  test("oracle SQL tracks the query registry") {
    // Holds by construction: a `Query` carries its own oracle SQL. Kept as
    // a cheap guard on the two maps `SparkEntry` derives.
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle entries without a query: $extra")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without an oracle: $missing")
  }

  test("a query name declared twice is rejected, naming it") {
    def q(name: String) = graft.queries.Query(name, (_, _) => null, "SELECT 1")
    val e = intercept[IllegalArgumentException] {
      graft.queries.Query.byName(Seq(q("a"), q("dup_name"), q("b"), q("dup_name")))
    }
    assert(e.getMessage.endsWith(": dup_name"), e.getMessage)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
