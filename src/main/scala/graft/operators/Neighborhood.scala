package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Per-vertex neighborhood-size estimation via HLL register diffusion
  * — the HyperBall algorithm (Boldi & Vigna, "In-Core Computation of
  * Geometric Centralities with HyperBall", ICDM 2013 workshops; the
  * technique behind the four-degrees-of-separation measurement):
  * every vertex carries an HLL sketch of the vertex set within `r`
  * hops, and one round of "merge each neighbor's registers" advances
  * every ball radius by one simultaneously.
  *
  * This is the sketch-composition answer to "how big is every
  * vertex's 2-hop audience on a 100 TB graph": the EXACT 2-hop count
  * is Σ_v |N(N(v))| — a self-join whose intermediate explodes
  * quadratically on hub vertices — while the sketch state is
  * |V|·m small integers and each round is ONE edge join + ONE
  * per-vertex max rollup, both map-side combinable, no quadratic
  * intermediate anywhere. Exactness of the GATE: registers are
  * max-of-integers ([[CardSketch]]), so every round, the final
  * registers, and the harmonic denominators replay bit-for-bit in
  * unrolled oracle SQL; the estimate's accuracy (vs the true ball
  * size) is pinned in the spec on a small graph instead — running
  * the exact count at corpus scale would defeat the operator's
  * purpose.
  *
  * Register width: mBits = 4 (m = 16, σ ≈ 26%) keeps per-vertex state
  * at m bytes — HyperBall's published configuration trades per-node
  * precision for graph-scale feasibility exactly this way; the
  * aggregate statistics (mean ball size, the neighborhood function)
  * concentrate much tighter than per-node σ.
  */
object Neighborhood {

  /** Per-vertex r-ball HLL denominators after `rounds` diffusion
    * rounds over the DIRECTED edge list (symmetrize for undirected):
    * (node, n_used, s_scaled) — estimate = α·m²·2^(wBits+1)/s_scaled.
    * Round 0 seeds each vertex's sketch with ITSELF, so `rounds` = r
    * yields the ball of radius r.
    *
    * Layout (round-18, supersedes the round-13 packed array; guide
    * §2.3 narrower types): the m registers travel as m BYTE LANES
    * packed into m/8 longs per vertex — HyperBall's actual in-core
    * layout; ρ ≤ wBits+1 ≤ 57 always fits a byte. vs the previous
    * array<long> form the register payload shrinks 8× (m bytes vs an
    * m-element UnsafeArrayData), the per-round merge becomes m
    * lane-extract max aggregates over plain longs (shiftright/AND —
    * whole-stage codegen builtins, no array accessors), and the FINAL
    * rollup needs no explode + re-aggregation exchange at all: n_used
    * and the exact harmonic denominator are row-local byte-lane sums
    * (empty lanes hold ρ = 0, and 2^(wBits+1−0) is exactly the empty-
    * bucket term, so one uniform Σ_lanes 2^(wBits+1−ρ_lane) needs no
    * case split). Register values are bit-identical to the relational
    * [[CardSketch]] form on any partitioning (max of exact integers,
    * lane-isolated).
    *
    * Superstep memory discipline: each INTRA-loop round is
    * materialized (count) and its predecessor's blocks freed eagerly —
    * bounded state at HyperBall round counts. The FINAL round is left
    * LAZY (round-18; one fewer job/materialization per invocation):
    * its single consumer is the returned frame, so persisting it would
    * only add a cache copy; the price is that the last intermediate
    * round and the edge relation stay cached until the caller's action
    * completes — the lifetime any lazy operator output already has —
    * and are then reclaimed by the ContextCleaner.
    */
  def ballDenominators(edges: DataFrame, src: Column, dst: Column,
      rounds: Int, mBits: Int = 4): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val m = 1 << mBits
    require(m % 8 == 0, "register count must pack whole longs")
    val nWords = m / 8
    val wBits = 60 - mBits
    val words = (0 until nWords).map(w => s"_r$w")
    val e = Bridge.persistRows(edges
      .select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // seed: the vertex's own single observation — ρ into byte lane
    // `bucket` of word `bucket div 8`
    var regs = Bridge.persistRows(CardSketch
      .withHllParts(nodes, col("node").cast("string"), mBits)
      .select(col("node") +: words.zipWithIndex.map { case (wn, w) =>
        when(expr("bucket div 8") === w,
            expr("shiftleft(rho, CAST((bucket % 8) * 8 AS INT))"))
          .otherwise(lit(0L)).as(wn)
      }: _*))
    // lane-wise max merge: extract each byte lane, max it, repack —
    // all builtin long arithmetic inside whole-stage codegen
    val laneMaxes = for (w <- 0 until nWords; l <- 0 until 8)
      yield max(expr(s"shiftright(_r$w, ${l * 8}) & 255")).as(s"_m${w}_$l")
    val repacked = (0 until nWords).map { w =>
      (0 until 8).map(l => shiftleft(col(s"_m${w}_$l"), l * 8))
        .reduce(_ bitwiseOR _).as(s"_r$w")
    }
    for (round <- 1 to rounds) {
      // PULL form: v's next sketch merges the sketches of its
      // OUT-neighbors (v → w reads regs(w)), so the ball grows along
      // edge direction — the push form (grouping by dst) would grow
      // the ball of REVERSED reachability instead. The vertex's own
      // previous sketch rides the same rollup as a unioned row
      // (replacing the old self-loop edges — one fewer persisted
      // relation, same merge multiset).
      val prev = regs
      val step = regs
        .join(e, regs("node") === e("dst"))
        .select(col("src").as("node") +: words.map(col): _*)
        .union(prev)
        .groupBy(col("node"))
        .agg(laneMaxes.head, laneMaxes.tail: _*)
        .select(col("node") +: repacked: _*)
      if (round < rounds) {
        regs = Bridge.persistRound(step, round)
        // superstep discipline: materialize round r, THEN free round
        // r−1's registers — at HyperBall round counts the dead rounds
        // would otherwise pile onto the storage budget until a full GC
        // lets the ContextCleaner notice (persistRows is lazy, so
        // freeing before the count would force a full-chain recompute)
        regs.count()
        Bridge.unpersistRows(prev)
      } else {
        // final round: lazy — materialized once by the caller's action
        regs = step
      }
    }
    // row-local exact denominators: ρ of lane l of word w, empty lanes
    // ρ = 0 included uniformly (2^(wBits+1−0) IS the empty-bucket term)
    val laneSql = for (w <- 0 until nWords; l <- 0 until 8)
      yield s"(shiftright(_r$w, ${l * 8}) & 255)"
    val nUsed = expr("CAST(" + laneSql
      .map(s => s"(CASE WHEN $s > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ") + " AS BIGINT)")
    val sScaled = expr(laneSql
      .map(s => s"shiftleft(CAST(1 AS BIGINT), CAST(${wBits + 1} - $s AS INT))")
      .mkString(" + "))
    regs.select(col("node"), nUsed.as("n_used"), sScaled.as("s_scaled"))
  }
}
