package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.GraphTier

/** The graph tier policy at each bound and one past it, the PageRank
  * conf-ceiling rule, and the scope of the `distributedOnly` test seam.
  * Pure decisions: no Spark session. */
class GraphTierSpec extends AnyFunSuite {

  test("single task: up to 5M edges; k-core passes twice its pairs") {
    assert(GraphTier.singleTask("Hits.run", 5000000L))
    assert(!GraphTier.singleTask("Hits.run", 5000001L))
    assert(GraphTier.singleTask("KCore.run", 2 * 2500000L))
    assert(!GraphTier.singleTask("KCore.run", 2 * 2500001L))
  }

  test("PageRank single task: up to 250k pages AND up to 5M links") {
    assert(GraphTier.pageRankSingleTask("PageRank.run", 250000L, 5000000L, 4))
    assert(!GraphTier.pageRankSingleTask("PageRank.run", 250001L, 5000000L, 4))
    assert(!GraphTier.pageRankSingleTask("PageRank.run", 250000L, 5000001L, 4))
  }

  test("PageRank: a shuffle-partition ceiling of 1 keeps any graph on one task") {
    assert(GraphTier.pageRankSingleTask("PageRank.run", 10000000L, 90000000L, 1))
    assert(!GraphTier.pageRankSingleTask("PageRank.run", 10000000L, 90000000L, 2))
  }

  test("driver union-find: up to 100k distinct edges") {
    assert(GraphTier.driver("ConnectedComponents.run", 100000L))
    assert(!GraphTier.driver("ConnectedComponents.run", 100001L))
  }

  test("distributedOnly forces every tier and restores the default after a throw") {
    def fastTiers = Seq(
      GraphTier.singleTask("Hits.run", 0L),
      GraphTier.pageRankSingleTask("PageRank.run", 4L, 6L, 1),
      GraphTier.driver("ConnectedComponents.run", 0L))
    assert(fastTiers == Seq(true, true, true))
    assert(GraphTier.distributedOnly(fastTiers) == Seq(false, false, false))
    val boom = intercept[IllegalStateException] {
      GraphTier.distributedOnly[Unit](throw new IllegalStateException("boom"))
    }
    assert(boom.getMessage == "boom")
    assert(fastTiers == Seq(true, true, true))
  }
}
