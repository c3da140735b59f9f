package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 2-D Pareto skyline — the preference-query operator (Börzsönyi,
  * Kossmann & Stocker, "The Skyline Operator", ICDE 2001): the set of
  * points not dominated by any other point, here with one minimized
  * and one maximized dimension (cheapest-for-its-size frontier). The
  * naive formulation is an O(n²) NOT-EXISTS self-join; the 2-D case
  * collapses to a sort + prefix-max scan, which is the shape that
  * survives scale.
  *
  * Plan: (1) per-x reduction `groupBy(x).agg(max(y))` — a map-side
  * combinable aggregation that shrinks n rows to |distinct x|;
  * (2) the exclusive prefix max over the x-ordered reduced relation
  * via [[Packing.withGlobalPrefixMax]] — the two-phase
  * partition-offset scan, so even a huge distinct-x relation never
  * funnels through one task (only the |partitions| per-partition
  * maxima meet on the driver). A point is on the frontier iff its y strictly
  * exceeds every smaller-x point's y.
  *
  * Output is the frontier POINT SET (x, best y at that x) — a pure
  * function of the input value multiset, so the whole result is
  * hash-gateable (row identities of ties are not part of the
  * contract, exactly as in the ICDE paper's distinct-value model).
  */
object Skyline {

  /** Frontier of (minimize `minDim`, maximize `maxDim`): all
    * (`minDim`, max `maxDim`) pairs not dominated by a pair with
    * smaller `minDim` and ≥ `maxDim`. Output columns `x, y`, one row
    * per frontier x, ascending x (and thus strictly ascending y).
    * NULL dimensions are excluded (dominance is undefined on NULL;
    * same contract as [[Quantiles]]).
    */
  def frontier2(df: DataFrame, minDim: Column, maxDim: Column): DataFrame = {
    val g = df.filter(minDim.isNotNull && maxDim.isNotNull)
      .groupBy(minDim.as("x")).agg(max(maxDim).as("y"))
    Packing.withGlobalPrefixMax(g, col("x"), col("y"), "_best")
      .filter(col("_best").isNull || col("y") > col("_best"))
      .select(col("x"), col("y"))
  }
}
