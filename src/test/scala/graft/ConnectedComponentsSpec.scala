package graft

import org.apache.spark.sql.functions._
import graft.graph.{ConnectedComponents, GraphTier}

/** Star-algorithm CC: correctness on known graphs, one-row-per-node
  * shape, and the round bound that justifies the O(log² n) claim on the
  * adversarial (long-chain) input — the case plain min propagation
  * cannot survive at scale. The random-graph cross-check against an
  * in-test union-find lives in GraftProperties. */
class ConnectedComponentsSpec extends SparkTestBase {
  import spark.implicits._

  /** Runs BOTH execution paths (driver union-find fast path and the
    * distributed star loop) and asserts they agree before returning —
    * every case in this suite checks the gate can't change results. */
  private def run(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = pairs.toDF("a", "b")
    val fast = ConnectedComponents.run(df, "a", "b")
      .as[(Long, Long)].collect().toMap
    val dist = GraphTier.distributedOnly {
      ConnectedComponents.run(df, "a", "b").as[(Long, Long)].collect().toMap
    }
    assert(fast == dist, "fast path and star loop disagree")
    fast
  }

  test("two components, chain + triangle, labels = component min") {
    // chain 5-3-9 and triangle 1-2, 2-4, 4-1 (one redundant + reversed pair)
    val got = run(Seq((5L, 3L), (3L, 9L), (1L, 2L), (2L, 4L), (4L, 1L), (2L, 1L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 1L -> 1L, 2L -> 1L, 4L -> 1L))
  }

  test("self-pairs and duplicates are ignored") {
    val got = run(Seq((7L, 7L), (7L, 2L), (2L, 7L), (7L, 2L)))
    assert(got == Map(2L -> 2L, 7L -> 2L))
  }

  test("empty pair set → empty labeling") {
    assert(run(Seq.empty).isEmpty)
  }

  test("exactly one row per node (star fixpoint is a function)") {
    val pairs = Seq((10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L), (30L, 31L))
    GraphTier.distributedOnly {
      val df = ConnectedComponents.run(pairs.toDF("a", "b"), "a", "b")
      assert(df.count() == df.select("node").distinct().count())
    }
  }

  test("256-node chain converges within the log² bound, not the diameter") {
    // Worst case for label propagation: a single path. Diameter = 255, so
    // a propagation algorithm needs ~255 rounds; the star algorithm must
    // stay in O(log² 256) = tens. The assert leaves slack (≤ 16) but
    // would catch any regression to diameter-bound behavior.
    val chain = (0L until 255L).map(i => (i, i + 1))
    val rounds = ConnectedComponents.roundsToConverge(chain.toDF("a", "b"), "a", "b")
    assert(rounds <= 16, s"chain took $rounds rounds")
    val labels = run(chain)
    assert(labels.size == 256 && labels.values.forall(_ == 0L))
  }

  test("hub star (degree 500) resolves in ≤ 3 rounds") {
    val star = (1L to 500L).map(i => (0L, i))
    val rounds = ConnectedComponents.roundsToConverge(star.toDF("a", "b"), "a", "b")
    assert(rounds <= 3, s"star took $rounds rounds")
    val labels = run(star)
    assert(labels.size == 501 && labels.values.forall(_ == 0L))
  }
}
