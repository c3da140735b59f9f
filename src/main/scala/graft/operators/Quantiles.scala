package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed per-group quantiles, both discontinuous (an
  * actual data element) and continuous (linear interpolation, the
  * PERCENTILE_CONT rule: index i = p·(n−1) zero-based; disc takes
  * element ⌊i⌋, cont interpolates lo + (hi − lo)·(i − ⌊i⌋)).
  *
  * Built from one rank window + one roll-up aggregation instead of a
  * percentile UDAF: the window shuffles each group once (the same
  * exchange the roll-up reuses), ranking is ordinal so the result is
  * engine-exact — no FP comparator, and the interpolation arithmetic
  * is a fixed expression tree the oracle mirrors literally. A
  * percentile aggregate that buffers the whole group in one executor
  * (Spark's exact `percentile` does) dies on a skewed 100 TB group;
  * this shape spills through the sort machinery instead.
  *
  * NULL values are excluded before ranking (the SQL-standard aggregate
  * contract). This is also an engine-parity requirement: Spark windows
  * sort NULLs FIRST ascending while DuckDB's row_number sorts them
  * LAST, so an unfiltered NULL would silently shift every rank.
  */
object Quantiles {

  /** Histogram-based exact quantiles: aggregate (group, value) counts
    * FIRST (map-side combinable — the 600k-row scan parallelizes over
    * (group, value) keys, not groups), then rank only the DISTINCT
    * values per group and pick each quantile's element from the
    * cumulative ranges. Identical quantile definition and output as
    * [[exactQuantiles]]; strictly better when value cardinality is
    * bounded (numeric measures usually are), because the expensive
    * full-row sort disappears and the only per-group-serial work is a
    * window over |distinct values| rows. With 3 groups × 600k rows at
    * sf0.1 the rank-window variant runs 3 tasks over the whole table;
    * this one runs the table scan at full parallelism.
    */
  def exactQuantilesHist(df: DataFrame, group: Column, value: Column,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "quantiles must be within [0, 1]")
    val counts = df
      .select(group.as("_g"), value.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy(col("_g"), col("_v"))
      .agg(count(lit(1)).as("_cnt"))
    val wCum = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("_g"))
    val ranged = counts
      .withColumn("_before", coalesce(sum(col("_cnt")).over(wCum), lit(0L)))
      .withColumn("_n", sum(col("_cnt")).over(wAll))
    val aggs = ps.flatMap { p =>
      val pp = math.round(p * 100).toInt
      val i = lit(p) * (col("_n") - lit(1)).cast("double")
      // 0-based ranks wanted: ⌊i⌋ and ⌈i⌉; value v covers ranks
      // [_before, _before + _cnt)
      val loIdx = floor(i).cast("long")
      val hiIdx = ceil(i).cast("long")
      def at(idx: Column) = max(when(
        col("_before") <= idx && idx < col("_before") + col("_cnt"),
        col("_v")))
      val lo = at(loIdx)
      val hi = at(hiIdx)
      val frac = max(i - floor(i))
      Seq(
        lo.as(s"p${pp}_disc"),
        (lo + (hi - lo) * frac).as(s"p${pp}_cont"))
    }
    ranged.groupBy(col("_g"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** One row per group: `p<PP>_disc` and `p<PP>_cont` per requested
    * quantile (PP = percent, e.g. p50_disc). `ps` values must be in
    * [0, 1].
    */
  def exactQuantiles(df: DataFrame, group: Column, value: Column,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "quantiles must be within [0, 1]")
    val ranked = df
      .select(group.as("_g"), value.cast("double").as("_v"))
      .filter(col("_v").isNotNull)
      .withColumn("_rn", row_number().over(Window.partitionBy(col("_g"))
        .orderBy(col("_v"))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("_g"))))
    val aggs = ps.flatMap { p =>
      val pp = math.round(p * 100).toInt
      // zero-based fractional index i = p * (n - 1)
      val i = lit(p) * (col("_n") - lit(1)).cast("double")
      val loIdx = floor(i).cast("long") + lit(1L) // back to 1-based rank
      val hiIdx = ceil(i).cast("long") + lit(1L)
      val lo = max(when(col("_rn") === loIdx, col("_v")))
      val hi = max(when(col("_rn") === hiIdx, col("_v")))
      // i (hence frac) is constant within a group; max() is just the
      // aggregate-scope hoist of that constant
      val frac = max(i - floor(i))
      Seq(
        lo.as(s"p${pp}_disc"),
        (lo + (hi - lo) * frac).as(s"p${pp}_cont"))
    }
    ranked.groupBy(col("_g"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** EXACT percentile-rank gate WITHOUT a full per-group sort — the
    * 100 TB form of q_quality_gate_rel's window gate that SURVEY
    * promised ("sources too big to sort: compute per-source exact
    * rank thresholds via the q_quantiles machinery and broadcast-join
    * them"). Returns the (group, tiebreak) → kept relation where
    * `kept` ⟺ percent_rank over (value, tiebreak) within group
    * ≥ num/den — the IDENTICAL keep set as
    * `percent_rank().over(partitionBy(group).orderBy(value, tiebreak))
    * >= num/den` (QuantilesSpec pins equality on the fixture and on
    * planted edges), derived exactly in integers:
    *
    *  1. (group, value) histogram counts (map-side combinable — the
    *     corpus scan parallelizes over value keys, not groups), plus
    *     per-group totals n;
    *  2. the boundary RANK k* = ⌈num·(n−1)/den⌉ + 1 (smallest rank
    *     with (rank−1)·den ≥ num·(n−1) — all BIGINT `DIV` math);
    *  3. the boundary VALUE from the cumulative histogram (a window
    *     over |distinct values| rows per group, vocabulary-sized);
    *  4. the boundary TIEBREAK: the (k* − cum)-th smallest tiebreak
    *     within the boundary value class only (a window over one
    *     value class — per-group-serial work is O(largest tie class),
    *     not O(group); degenerates to the full sort only when one
    *     value dominates a group, which a near-continuous score never
    *     does);
    *  5. kept = value > boundary value OR (value = boundary value AND
    *     tiebreak ≥ boundary tiebreak), via a |groups|-row broadcast.
    *
    * Single-row groups follow the engines' percent_rank convention
    * (pr = 0): kept only when num = 0 — pinned in the spec (the
    * round-14 sweep edge).
    *
    * `tiebreak` must be unique within a group (the same totality
    * requirement the window gate's determinism rests on). If
    * duplicates slip through anyway, the gate DEGRADES SAFELY
    * (round-15 sweep pin): the boundary tiebreak is the j-th-smallest
    * VALUE of the sorted multiset (deterministic whichever physical
    * row the tie window ranks there), `>=` keeps every duplicate of
    * it, and the kept count exceeds the exact complement by the
    * boundary-duplicate multiplicity — deterministic and
    * partitioning-invariant, just not an exact-count cut. `value` is
    * compared AS DOUBLE (like the other quantile ops): a DECIMAL
    * whose sub-ulp differences vanish under the cast would merge
    * value classes that the raw-decimal window gate keeps distinct —
    * compare against a window gate over the SAME cast column, or
    * don't feed >53-bit-precision decimals.
    */
  def rankGateTwoPass(df: DataFrame, group: Column, value: Column,
      tiebreak: Column, num: Long, den: Long): DataFrame = {
    require(den > 0 && num >= 0, "gate fraction must be >= 0 with den > 0")
    // NULL values are EXCLUDED (rows absent from the output) — the
    // same SQL-aggregate contract as exactQuantiles, and an engine-
    // parity requirement: Spark windows sort NULLs first ascending,
    // DuckDB's percent_rank sorts them last, so a null-valued row
    // would shift every rank differently per engine (round-14 sweep)
    val base = df.select(group.as("_g"), value.cast("double").as("_q"),
      tiebreak.as("_t"))
      .filter(col("_q").isNotNull)
    val boundary = rankBoundary(df, group, value, tiebreak, num, den)
    base.join(broadcast(boundary), Seq("_g"), "left")
      .select(col("_g"), col("_t"),
        // a group past its k* entirely (kept set empty ⇒ no boundary
        // row survives the filter) keeps nothing
        coalesce(col("_q") > col("_qb") ||
          (col("_q") === col("_qb") && col("_t") >= col("_tb")),
          lit(false)).as("kept"))
  }

  /** The boundary relation of [[rankGateTwoPass]], exposed (round 15)
    * so callers applying SEVERAL gates over one relation (e.g. the
    * CCNet head/middle/tail terciles — two boundaries) can derive
    * each |groups|-row boundary independently and apply them all in
    * ONE pass over the data with broadcast comparisons, instead of
    * re-running the whole gate per fraction. Returns
    * (_g, _qb, _tb): a row (q, t) in group g has
    * percent_rank ≥ num/den ⟺ q > _qb ∨ (q = _qb ∧ t ≥ _tb);
    * a group whose kept set is empty has NO row here (match with a
    * left join + coalesce(false), as rankGateTwoPass does). Same
    * null/tiebreak contract as rankGateTwoPass.
    */
  def rankBoundary(df: DataFrame, group: Column, value: Column,
      tiebreak: Column, num: Long, den: Long): DataFrame = {
    require(den > 0 && num >= 0, "gate fraction must be >= 0 with den > 0")
    val base = df.select(group.as("_g"), value.cast("double").as("_q"),
      tiebreak.as("_t"))
      .filter(col("_q").isNotNull)
    val cnts = base.groupBy(col("_g"), col("_q"))
      .agg(count(lit(1)).as("_c"))
    val wCum = Window.partitionBy(col("_g")).orderBy(col("_q"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("_g"))
    val ranged = cnts
      .withColumn("_cum", coalesce(sum(col("_c")).over(wCum), lit(0L)))
      .withColumn("_n", sum(col("_c")).over(wAll))
      .withColumn("_kstar",
        when(col("_n") === 1, if (num == 0) lit(1L) else lit(2L))
          .otherwise(expr(
            s"($num * (_n - 1) + ${den - 1}) DIV $den + 1")))
    val boundaryVal = ranged
      .filter(col("_cum") < col("_kstar") &&
        col("_cum") + col("_c") >= col("_kstar"))
      .select(col("_g"), col("_q").as("_qb"),
        (col("_kstar") - col("_cum")).as("_j"))
    // the boundary tiebreak: j-th smallest tiebreak INSIDE the
    // boundary value class (the only sorted relation in the gate)
    val wTie = Window.partitionBy(col("_g")).orderBy(col("_t"))
    base
      .join(broadcast(boundaryVal), Seq("_g"))
      .filter(col("_q") === col("_qb"))
      .withColumn("_rn", row_number().over(wTie))
      .filter(col("_rn") === col("_j"))
      .select(col("_g"), col("_qb"), col("_t").as("_tb"))
  }

  /** Adds `out` = the exact `ntile(k)` bucket of each row in
    * `orderCol` order, WITHOUT a single-partition window: the global
    * rank comes from [[Packing.withGlobalCumsum]]'s two-phase scan
    * (range partition on the order key → per-partition sums as
    * offsets → one narrow pass) and the bucket from ntile's piecewise closed
    * form. With q = n div k and rem = n mod k, buckets 1..rem hold
    * q+1 rows and the rest q, so rank r (1-based) maps to
    *   r ≤ rem·(q+1):  (r−1) div (q+1) + 1
    *   otherwise:      rem + (r − rem·(q+1) − 1) div q + 1
    * (NOT the tempting single expression (r−1)·k div n + 1, which
    * drifts by one bucket whenever k ∤ n — it coincides only on the
    * front-loaded boundary ranks; QuantilesSpec pins a 997-row case).
    * `orderCol` must be unique (use a struct with a key tie-break;
    * negate components for descending order) — the same determinism
    * contract every hash-gated ranking here carries. The row count n is
    * the same scan's grand total; all arithmetic is integer DIV.
    */
  def withGlobalNtile(df: DataFrame, orderCol: Column, k: Int,
      out: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    Packing.withGlobalCumsum(df, orderCol, Seq(lit(1L) -> "_gnt_cum"))
      .withColumn("_gnt_q", expr(s"_gnt_cum_total DIV $k"))
      .withColumn("_gnt_rem", expr(s"_gnt_cum_total % $k"))
      .withColumn(out,
        when(col("_gnt_cum") < col("_gnt_rem") * (col("_gnt_q") + 1),
          expr("_gnt_cum DIV (_gnt_q + 1)") + lit(1L))
          .otherwise(col("_gnt_rem") +
            expr("(_gnt_cum - _gnt_rem * (_gnt_q + 1)) DIV _gnt_q") +
            lit(1L))
          .cast("long"))
      .drop("_gnt_cum", "_gnt_cum_total", "_gnt_q", "_gnt_rem")
  }

  /** Exact per-group lower weighted median: the smallest value whose
    * cumulative weight reaches half the group's total — the estimator
    * robust aggregation pipelines want when observations carry
    * multiplicities (token counts, traded volume, sample weights) and
    * an unweighted median would over-count light rows.
    *
    * `weight` must be integer-valued (cast to BIGINT; fractional
    * weights would need an FP cumulative sum, which is order-dependent
    * and not hash-gateable). NULL values and non-positive weights are
    * excluded up front on both engines.
    *
    * Shape — TWO-PHASE, so no group is ever scanned serially (unlike a
    * single per-group rank window, whose task count equals the group
    * count — 3 groups over 10⁹ distinct values would run 3 tasks):
    *
    *  1. weights collapse onto DISTINCT (group, value) keys
    *     (map-side combinable), then onto coarse ORDERED value buckets
    *     `floor(v · bucketScale)`; a per-group window over the few
    *     buckets finds the single bucket whose cumulative weight
    *     crosses half the total.
    *  2. only that bucket's (value, weight) rows are rejoined (the
    *     1-row-per-group crossing relation broadcasts) and a window
    *     over the BUCKET's values — not the group's — picks the exact
    *     crossing value, offset by the weight before the bucket.
    *
    * Bucket granularity affects only performance, never the result: a
    * degenerate bucketing (all values in one bucket) reduces phase 2
    * to the single-window form. The selected value is deterministic
    * even under value ties in the raw input because ties merge in the
    * pre-aggregation. The oracle needs none of this — any algorithm
    * returns the same median, so the SQL stays the direct one-window
    * form.
    */
  def weightedMedian(df: DataFrame, group: Column, value: Column,
      weight: Column, bucketScale: Double = 1.0): DataFrame = {
    require(bucketScale > 0, "bucketScale must be positive")
    val counts = df
      .select(group.as("_g"), value.as("_v"), weight.cast("long").as("_w"))
      .filter(col("_v").isNotNull && col("_w") > 0L)
      .groupBy(col("_g"), col("_v"))
      .agg(sum(col("_w")).as("_w"))
    val bucketed = counts.withColumn("_b",
      floor(col("_v").cast("double") * lit(bucketScale)).cast("long"))
    // phase 1: per-bucket weights, tiny per-group window over buckets
    val wB = Window.partitionBy(col("_g")).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val crossing = bucketed
      .groupBy(col("_g"), col("_b")).agg(sum(col("_w")).as("_bw"))
      .withColumn("_bcum", sum(col("_bw")).over(wB))
      .withColumn("_tot", sum(col("_bw")).over(Window.partitionBy(col("_g"))))
      .filter(col("_bcum") * 2L >= col("_tot") &&
        (col("_bcum") - col("_bw")) * 2L < col("_tot"))
      .select(col("_g"), col("_b"),
        (col("_bcum") - col("_bw")).as("_before"), col("_tot"))
    // phase 2: exact crossing value inside the one crossing bucket
    val wV = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val median = bucketed.join(broadcast(crossing), Seq("_g", "_b"))
      .withColumn("_cum", col("_before") + sum(col("_w")).over(wV))
      .groupBy(col("_g"))
      .agg(min(when(col("_cum") * 2L >= col("_tot"), col("_v")))
        .as("weighted_median"))
    counts
      .groupBy(col("_g"))
      .agg(sum(col("_w")).as("total_weight"),
        count(lit(1)).as("n_distinct"))
      .join(median, Seq("_g"))
      .select(col("_g"), col("weighted_median"), col("total_weight"),
        col("n_distinct"))
  }
}
