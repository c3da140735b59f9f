package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Exact integer-scaled PageRank — iterative graph analytics beyond the
  * connected-components operator ([[Clusters]]), formulated so the
  * result is bit-reproducible across engines and partitionings.
  *
  * The classic double-precision PageRank is NOT oracle-gateable: the
  * per-node Σ of neighbor contributions is floating-point, so its value
  * depends on shuffle merge order. This variant keeps every quantity a
  * 64-bit integer:
  *
  *   R₀(v)    = S                    (the scale, default 10¹²)
  *   R_{t+1}(v) = ⌊0.15·S⌋ + (17 · Σ_{u→v} (R_t(u) div d(u))) div 20
  *
  * `div` is integral division — identical floor semantics on
  * non-negative operands in Spark (`div`) and DuckDB (`//`) — and an
  * integer Σ is associative-commutative, so any aggregation order gives
  * the same bits. The 0.85 damping is the exact rational 17/20.
  * Truncation loses at most d(u) mass per node per hop — at S = 10¹²
  * a relative error of ~10⁻⁹ per iteration, far below rank separation.
  *
  * Overflow contract (ANSI off wraps silently, so the caller must hold
  * this): 17 · Σ contributions < 2⁶³. Total mass stays ≈ N·S, so the
  * requirement is N · S · 17 < 2⁶³ — with the default S = 10¹² that is
  * N ≲ 5·10⁵ nodes; at larger N pass a smaller `scale` (S = 10⁹ admits
  * N ≈ 5·10⁸).
  *
  * Scale shape: edges+degrees and the node set are computed once and
  * persisted; each of the `iters` rounds is the Pregel step — join
  * ranks to the out-edge relation on `src` (contributions pre-reduced
  * map-side by the partial agg), shuffle on `dst`, roll up, left-join
  * back to the node set for teleport-only nodes. Per-iteration cost is
  * two exchanges of the edge relation's size; nothing is collected to
  * the driver and no per-node state lives outside the shuffle machinery.
  */
object PageRank {

  /** Per-node integer rank after `iters` rounds over the directed edge
    * list (parallel edges collapse — the relation is made distinct).
    * Output: (node: long, rank: long), one row per node appearing as
    * src or dst.
    */
  def ranks(edges: DataFrame, src: Column, dst: Column, iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(scale >= 20L, "scale must be >= 20")
    val e = Bridge.persistRows(edges
      .select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val eDeg = Bridge.persistRows(e.join(deg, "src"))
    val nodes = Bridge.persistRows(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    require(scale <= Long.MaxValue / 17L, "scale too large")
    val tele = 3L * scale / 20L // ⌊0.15·S⌋, exact (3·S < 2⁶³ by require)
    var r = nodes.select(col("node"), lit(scale).as("rank"))
    for (i <- 1 to iters) {
      // teleport-only nodes ride the SAME aggregate as the
      // contributions — a zero row per node unioned into the rollup —
      // instead of a per-round left join back to the node set
      // (round-17, guide §2.4: the join re-keyed what the aggregate
      // already keyed; sum is exact-integer either way, and nodes with
      // no in-edges sum to the unioned 0, reproducing coalesce(_, 0)).
      val contrib = eDeg
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .union(nodes.select(col("node"), lit(0L).as("c")))
        .groupBy("node").agg(sum(col("c")).as("csum"))
      r = contrib
        .select(col("node"),
          (lit(tele) + expr("(17 * csum) div 20")).as("rank"))
      // lineage truncation (round-12 verdict #3): unlike the BSP
      // loops, r is never wrapped per round, so without this the
      // FINAL plan nests all `iters` rounds — O(iters) Catalyst tree
      // for one optimizer pass, and the RDD chain underneath grows
      // the same way. Re-rooting r on a checkpointRows LogicalRDD
      // every few rounds caps plan depth at the cadence and severs
      // the RDD chain once the segment first materializes; planning
      // total stays linear (iters/cadence segments × O(cadence) each).
      // Not on the last round — the caller composes the returned plan.
      if (i % Bridge.CheckpointEvery == 0 && i < iters)
        r = Bridge.checkpointRows(r)
    }
    r
  }
}
