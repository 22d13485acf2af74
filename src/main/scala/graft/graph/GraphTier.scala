package graft.graph

import scala.util.DynamicVariable

/** The graph operators' one tier policy. A graph one task holds runs its
  * whole loop inside ONE task over primitive arrays, and a tiny
  * connected-components edge set closes in one driver union-find: at
  * that size per-iteration job scheduling costs more than the arithmetic.
  * Anything larger takes the operator's distributed loop. Each decision
  * is logged once at INFO. */
object GraphTier {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  /** Edges one task holds as int-indexed adjacency (≤ 10M vertex ids). */
  val SingleTaskMaxEdges: Long = 5000000L
  /** PageRank's single task also bounds its pages. */
  val PageRankSingleTaskMaxVertices: Long = 250000L
  /** Distinct edges connected components collects to the driver. */
  val DriverMaxEdges: Long = 100000L
  private val forceDistributed = new DynamicVariable(false)

  /** Test seam: every decision this thread makes while `body` runs picks
    * the distributed tier, until `body` returns or throws. */
  private[graft] def distributedOnly[T](body: => T): T =
    forceDistributed.withValue(true)(body)

  /** HITS, LPA, BFS, SSSP and k-core (which passes twice its pair count:
    * its kernel holds the symmetrized adjacency). */
  def singleTask(algorithm: String, edges: Long): Boolean =
    decide(algorithm, "", edges, "single task", edges <= SingleTaskMaxEdges)

  /** PageRank: pages and link occurrences both fit, or a shuffle-partition
    * ceiling of 1 leaves nothing to distribute. */
  def pageRankSingleTask(algorithm: String, vertices: Long, edges: Long,
                         confParts: Int): Boolean =
    decide(algorithm, s"$vertices vertices, ", edges, "single task", confParts == 1 ||
      vertices <= PageRankSingleTaskMaxVertices && edges <= SingleTaskMaxEdges)

  /** Connected components' driver union-find. */
  def driver(algorithm: String, edges: Long): Boolean =
    decide(algorithm, "", edges, "driver", edges <= DriverMaxEdges)

  private def decide(algorithm: String, vertices: String, edges: Long,
                     tier: String, fits: Boolean): Boolean = {
    val fast = fits && !forceDistributed.value
    log.info(s"$algorithm: $vertices$edges edges -> ${if (fast) tier else "distributed"}")
    fast
  }
}
