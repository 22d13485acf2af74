package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants that would otherwise fail SILENTLY:
  * an oracle entry whose key name drifts from its query (typo, rename)
  * simply never gets compared, and a new query without an oracle quietly
  * downgrades to rows-only checking. Pin both directions, and the exact
  * documented no-oracle set.
  */
class ContractSpec extends AnyFunSuite {

  private val noOracle = Set(
    "pagerank")        // unrounded twin of pagerank_oracle

  test("every query key has an oracle unless documented no-oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- noOracle
    assert(missing.isEmpty,
      s"keys without oracle and not documented: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("no orphan oracle entries (every oracle key is a declared query)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracle entries with no query: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("the documented no-oracle set is exactly the undocumented gap") {
    val actual = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(actual === noOracle,
      s"no-oracle drift: actual=${actual.toSeq.sorted.mkString(",")}")
  }
}
