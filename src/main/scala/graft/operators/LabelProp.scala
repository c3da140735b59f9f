package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round synchronous label propagation — community detection,
  * the fourth leg of the graph family ([[Clusters]] connectivity,
  * [[PageRank]] centrality, [[Triangles]] density, [[KCore]]
  * degeneracy): every node simultaneously adopts the most frequent
  * label among its neighbors (Raghavan, Albert & Kumara, "Near linear
  * time algorithm to detect community structures in large-scale
  * networks", 2007). Classic LPA breaks ties randomly, which is
  * neither reproducible nor oracle-checkable; here ties break
  * deterministically toward the SMALLEST label (the same
  * determinism-over-folklore choice as [[PageRank]]'s integer
  * damping), so the whole fixpoint prefix is a pure function of the
  * edge set.
  *
  * Each round is one equi-join (neighbor label lookup), one
  * map-side-combinable count aggregation, and one per-node argmax —
  * a struct-min aggregate over (−cnt, label), the exact
  * (cnt DESC, label ASC) tie-break the oracle spells with
  * `row_number`, minus the window's per-node sort. All shuffles
  * key on the node id; per-round label iterates pass through the
  * RDD-persist bridge like [[PageRank]]'s ranks (without it Catalyst
  * re-derives round r−1 for every consumer of round r).
  *
  * Rounds are a fixed count, not a convergence test — the same
  * hash-gateability contract as [[KCore]]; unlike the peel, LPA is
  * NOT monotone (labels can oscillate on bipartite-ish structure), so
  * R is part of the operator's definition, exactly as in the BSP
  * formulations (Pregel/Giraph run LPA with a max-superstep for the
  * same reason).
  */
object LabelProp {

  /** `rounds` synchronous LPA rounds over undirected distinct edges
    * (a, b), a < b — [[Triangles.coPurchaseEdges]]'s contract. Labels
    * start as each node's own id; votes are neighbor labels only (no
    * self-vote — a node's current label wins only via neighbors that
    * carry it). Output: `node, label`, one row per node with ≥ 1 edge.
    */
  def propagate(edges0: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    import org.apache.spark.sql.graft.Bridge.{persistRound, persistRows}

    val edges = persistRows(
      edges0.select(col("a"), col("b"))
        .union(edges0.select(col("b").as("a"), col("a").as("b"))))
    var labels = edges.select(col("a").as("node"))
      .distinct()
      .withColumn("label", col("node"))
    for (r <- 1 to rounds) {
      val votes = edges
        .join(labels.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // per-node argmax as ONE struct-min aggregate — same
      // (cnt DESC, label ASC) order as the previous row_number
      // window, without the window's per-node sort (round-17; the
      // aggregate is map-side combinable and exact, so the winner is
      // identical on any partitioning — the Classifier/triplets
      // argmax pattern)
      val next = votes
        .groupBy(col("node"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("label")))
          .as("_b"))
        .select(col("node"), col("_b.label").as("label"))
      labels = persistRound(next, r)
    }
    labels
  }
}
