package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Level-synchronous breadth-first search — single-source shortest
  * hop-distances over an unweighted edge relation, the third iterative
  * graph primitive next to the connected-components fixpoint
  * ([[Clusters]]) and the rank fixpoint ([[PageRank]]).
  *
  * Unlike those two (whole-graph fixpoints), BFS is frontier-driven:
  * round d touches only the vertices first reached at distance d, so
  * on high-diameter graphs the per-round work SHRINKS — the classic
  * Pregel BFS shape. All quantities are exact integers (hop counts),
  * so the result is bit-identical on any partitioning and replayable
  * by a bounded recursive CTE in the oracle engine.
  *
  * Scale shape: the edge relation is projected narrow, made distinct,
  * and persisted ONCE; each round is one shuffle join
  * (frontier ⋈ edges on src), a distinct, and a left-anti join against
  * the already-settled levels to drop visited vertices. Every level's
  * frontier is persisted (each is a slice of the RESULT, so none can
  * be freed early) and the settled set is their lazy union — reading
  * persisted blocks, never copying them. Nothing reaches the driver
  * but the per-round frontier COUNT (the loop-termination scalar). On
  * a 1000-executor cluster the per-round join partitioning is the edge
  * relation's hash partitioning; a power-law hub vertex makes one
  * round's join skewed, which AQE's skew-join split handles — no
  * driver bottleneck anywhere.
  */
object Bfs {

  /** Hop distances from `source`, capped at `maxDepth`: one row per
    * reached vertex, (node: long, dist: long), dist ∈ [0, maxDepth].
    * Stops early when a frontier empties. Directed traversal — pass a
    * symmetrized edge list for undirected semantics.
    */
  def distances(edges: DataFrame, src: Column, dst: Column,
      source: Long, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be >= 0")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Bridge.persistRows(edges
      .select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val levels = scala.collection.mutable.ArrayBuffer(
      Bridge.persistRows(Seq((source, 0L)).toDF("node", "dist")))
    var d = 1
    var live = true
    while (d <= maxDepth && live) {
      val settled = levels.reduce(_ union _)
      val step = levels.last
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .select(col("node"), lit(d.toLong).as("dist"))
      // the count() below materializes the level, which is when a
      // checkpoint round severs the chain (a checkpointed level
      // rejected as empty is left to the ContextCleaner)
      val next = Bridge.persistRound(step, d)
      live = next.count() > 0L
      if (live) levels += next
      else Bridge.unpersistRows(next) // rejected empty frontier
      d += 1
    }
    // every kept level was materialized by its count(), so the result
    // union reads cached blocks and the edge relation can be freed
    // now instead of waiting for the ContextCleaner
    Bridge.unpersistRows(e)
    levels.reduce(_ union _)
  }
}
