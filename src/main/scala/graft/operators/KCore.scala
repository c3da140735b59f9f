package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round k-core peeling — the degeneracy-based graph sparsifier
  * that completes the graph family ([[Clusters]] connectivity,
  * [[PageRank]] centrality, [[Triangles]] local density): repeatedly
  * delete every node of degree < k, keeping the subgraph where all
  * surviving nodes have k or more surviving neighbors. In a data
  * pipeline this is the standard "dense interaction core" extractor
  * (spam rings, co-purchase cores, collaboration cliques) and the
  * classic preprocessing step before community detection.
  *
  * Each round is two hash aggregations (degree count over both edge
  * endpoints) and two left-semi equi-joins (edge restriction to
  * surviving nodes) — all shuffle-native on node keys, no windows, no
  * driver-side data. Per-round edge sets pass through the RDD-persist
  * bridge exactly like [[PageRank]]'s rank iterates: without it
  * Catalyst re-derives every earlier round for each new consumer and
  * the plan grows exponentially in the round count.
  *
  * Rounds are a FIXED count rather than a fixpoint test, which is what
  * makes an iterative deletion hash-gateable: the oracle unrolls the
  * same R rounds, and once the peel has converged extra rounds are
  * no-ops (the sequence of edge sets is monotone decreasing), so R is
  * an upper bound, not a tuning knob. At 100 TB the same loop runs
  * with a driver-side `count()` early-exit per round — a scalar read,
  * not a data collect — trading oracle-exactness for fewer rounds (the
  * shape every BSP graph system shares; a real peel converges in tens
  * of rounds on power-law graphs).
  */
object KCore {

  /** The degree table of the edge set that survives `rounds` peels at
    * threshold `k`: columns `node, deg` (only nodes with at least one
    * surviving edge appear). `edges` must be distinct undirected pairs
    * (a, b) with a < b — [[Triangles.coPurchaseEdges]]'s contract.
    */
  def peel(edges0: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, "need k >= 1 and rounds >= 0")
    import org.apache.spark.sql.graft.Bridge.{persistRound, persistRows}

    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))

    var edges = persistRows(edges0)
    for (r <- 1 to rounds) {
      val keep = degrees(edges).filter(col("deg") >= k).select("node")
      val next = edges
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
      // a real peel runs to a data-dependent fixpoint, so the chain
      // must not scale with round count
      edges = persistRound(next, r)
    }
    degrees(edges)
  }
}
