package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DecimalType

/** Integer-exact distributed power iteration — the top principal
  * direction of an embedding corpus's (uncentered) second-moment matrix
  * XᵀX, the spectral building block behind embedding whitening,
  * dominant-component removal (the "all-but-the-top" cleanup step for
  * text embeddings), and spectral initialization of coarse quantizers.
  *
  * Floating-point power iteration is not oracle-gateable: both the
  * per-row dot xᵢ·v and the per-dimension Σᵢ xᵢⱼ(xᵢ·v) depend on
  * accumulation order. This variant keeps every quantity integral
  * (the [[PageRank]] recipe applied to a dense spectral recursion):
  *
  *   qᵢⱼ   = ⌊xᵢⱼ·S₁ + ½⌋                    (one-time quantization)
  *   v⁰ⱼ   = S₂
  *   dᵢ    = Σⱼ qᵢⱼ·vⱼ                        (exact 64-bit)
  *   wⱼ    = Σᵢ qᵢⱼ·dᵢ                        (exact DECIMAL(38,0))
  *   v'ⱼ   = sgn(wⱼ) · ((|wⱼ|·S₂) div maxⱼ|wⱼ|)
  *
  * `div` on non-negative operands floors identically in Spark and
  * DuckDB (signs are handled explicitly because the two engines
  * disagree on negative integral division), and integer sums are
  * order-free, so `iters` rounds produce bit-identical output on any
  * partitioning. Convergence to the true top eigenvector is governed
  * by the spectral gap λ₁/λ₂ exactly as in float arithmetic; the
  * quantization perturbs each step by ≤ dim/S₂ relative — far below
  * the gap on any corpus with a dominant direction.
  *
  * Overflow contract: [[IntVectors]]'s at scales (S₁, S₂), which keeps
  * dᵢ ≤ dim·S₁·S₂ in range; each product qᵢⱼ·dᵢ ≤ dim·S₁²·S₂ is a
  * Spark long multiply (< 2⁶³ at the default scales for dim ≤ 92),
  * and the Σᵢ lives in DECIMAL(38,0).
  *
  * Scale shape: the quantized vectors are persisted once and each
  * round is ONE narrow scan — dᵢ is a codegen'd 64-term integer dot,
  * wⱼ a map-side-combinable dim-column aggregate — so nothing wider
  * than `dim` partial sums per task ever shuffles, and the iterate v
  * (dim longs) is driver-resident index metadata, the documented
  * O(dim) analogue of [[Similarity]]'s IVF centroid build. At 100 TB
  * the cost is `iters` scans of the (cached) quantized corpus with no
  * data shuffle at all.
  */
object PowerIteration {

  /** The S₂-scaled iterate after `iters` rounds: (j, v), j 1-based,
    * one row per dimension.
    */
  def topComponent(emb: DataFrame, id: Column, vec: Column,
      iters: Int = 6, s1: Long = 1000000L, s2: Long = 100000L): DataFrame = {
    val (q, v) = iterate(emb, id, vec, iters, s1, s2)
    val spark = emb.sparkSession
    import spark.implicits._
    v.zipWithIndex.map { case (vj, j) => (j + 1L, vj) }.toSeq.toDF("j", "v")
  }

  /** Exact integer projection of every row onto the learned direction:
    * (id, score) with score = Σⱼ qᵢⱼ·vⱼ — the ranking used to inspect
    * or strip the dominant component.
    */
  def project(emb: DataFrame, id: Column, vec: Column,
      iters: Int = 6, s1: Long = 1000000L, s2: Long = 100000L): DataFrame = {
    val (q, v) = iterate(emb, id, vec, iters, s1, s2)
    q.select(col("id"), IntVectors.dot(col("q"), v).as("score"))
  }

  private def iterate(emb: DataFrame, id: Column, vec: Column,
      iters: Int, s1: Long, s2: Long): (DataFrame, Array[Long]) = {
    require(iters >= 1, "iters must be >= 1")
    val q = Bridge.persistRows(IntVectors.quantize(emb, vec, s1, id.as("id")))
    val dim = q.select(size(col("q"))).head().getInt(0)
    IntVectors.requireExact(dim, s1, s2)
    var v = Array.fill(dim)(s2)
    for (_ <- 1 to iters) {
      // one scan: d is a projection (the iterate as a reference
      // object, so every round compiles to the same code), the w_j
      // are dim partial-agg sums
      val row = q.select(col("q"), IntVectors.dot(col("q"), v).as("d"))
        .agg(
          sum((element_at(col("q"), 1) * col("d")).cast(DecimalType(38, 0)))
            .as("w0"),
          (1 until dim).map(j =>
            sum((element_at(col("q"), j + 1) * col("d"))
              .cast(DecimalType(38, 0))).as(s"w$j")): _*)
        .head()
      val w = Array.tabulate(dim)(j =>
        BigInt(row.getDecimal(j).toBigInteger))
      val wm = w.map(_.abs).max
      v = w.map(wj =>
        if (wm == 0) 0L
        else (wj.signum * ((wj.abs * s2) / wm)).toLong)
    }
    (q, v)
  }
}
