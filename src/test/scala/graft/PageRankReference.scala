package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Independent formulations of the PageRank recurrences that specs
  * compare `graft.pagerank.PageRank` against. */
object PageRankReference {

  /** The declarative Catalyst formulation of `PageRank.run`'s semantics
    * (no seeds, no rounding). */
  def runDataFrame(vertices: DataFrame, iters: Int = 10, d: Double = 0.85,
                   checkpointEvery: Int = 1): DataFrame = {
    // Pre-partition the static vertex relation by the join key and cache
    // the PARTITIONED form: InMemoryRelation preserves outputPartitioning,
    // so none of the iterations re-shuffles the vertex side.
    val verts = vertices.select(col("title"), col("outlinks"))
      .repartition(col("title"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count()

    var ranks = verts.select(col("title"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iters) {
      val contribs = ranks.join(verts, "title")
        .filter(size(col("outlinks")) > 0)
        .select(explode(col("outlinks")).as("title"),
          (col("rank") / size(col("outlinks"))).as("c"))
      val summed = contribs.groupBy("title").agg(sum("c").as("s"))
      // left join FROM the vertex set: keeps contribution-less pages at
      // rank 1-d AND drops red-link targets in one step (ref :369,:392-394)
      val next = verts.select("title")
        .join(summed, Seq("title"), "left")
        .select(col("title"),
          (lit(d) * coalesce(col("s"), lit(0.0)) + lit(1.0 - d)).as("rank"))
      // truncate lineage every `checkpointEvery` iterations: Catalyst's
      // analysis cost grows superlinearly with plan depth
      ranks =
        if (i % checkpointEvery == 0 && i < iters) next.localCheckpoint()
        else next
    }
    ranks
  }

  /** The normalized recurrence (`PageRank.runNormalized`) in plain Scala:
    * red links pruned, the mass of pages without a resolved link spread
    * uniformly. */
  def naiveNormalized(graph: Map[String, Seq[String]], iters: Int): Map[String, Double] = {
    val titles = graph.keySet
    val resolved = graph.map { case (t, ls) => t -> ls.filter(titles) }
    val nn = graph.size
    var rank: Map[String, Double] = resolved.map { case (t, _) => t -> 1.0 / nn }
    for (_ <- 1 to iters) {
      val contribs = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      for ((t, ls) <- resolved if ls.nonEmpty; l <- ls) contribs(l) += rank(t) / ls.size
      val dMass = resolved.collect { case (t, ls) if ls.isEmpty => rank(t) }.sum
      rank = resolved.map { case (t, _) =>
        t -> (0.15 / nn + 0.85 * (contribs(t) + dMass / nn))
      }
    }
    rank
  }
}
