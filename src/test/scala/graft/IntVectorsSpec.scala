package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BinaryEmbed, Coreset, IntVectors, KMeans, Mmr, PowerIteration}

/** The exactness guard of the integer-vector operators: every public
  * entry point that quantizes rejects a scale below 1 and a scale whose
  * exact dots would not fit in 64 bits. At dim 64, s = 2³¹ gives
  * dim·s² = 2⁶⁸, which a product computed in `Long` wraps to 0 — the
  * case a wrapping guard lets through, leaving `LongDot` to return
  * wrong neighbours and centers.
  */
class IntVectorsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 64
  private lazy val emb: DataFrame = (0L until 6L).map { i =>
    (i, i % 2, (0 until dim).map(j => (((i * 7 + j * 3) % 21) - 10) / 10.0))
  }.toDF("vec_id", "label", "embedding")
  private val (id, vec) = (col("vec_id"), col("embedding"))

  private val entryPoints: Seq[(String, Long => DataFrame)] = Seq(
    "Coreset.kCenter" -> (s => Coreset.kCenter(emb, id, vec, k = 3, s = s)),
    "Coreset.kCenterAssign" ->
      (s => Coreset.kCenterAssign(emb, id, vec, k = 3, s = s)),
    "Mmr.diverseTopK" ->
      (s => Mmr.diverseTopK(emb, id, vec, queryId = 0L, k = 3, s = s)),
    "KMeans.assign" -> (s => KMeans.assign(emb, id, vec, k = 2, s = s)),
    "PowerIteration.project" ->
      (s => PowerIteration.project(emb, id, vec, iters = 1, s1 = s, s2 = s)),
    "BinaryEmbed.intLshTopK" ->
      (s => BinaryEmbed.intLshTopK(emb, id, vec, Seq(0L), k = 2, s = s)),
    "BinaryEmbed.contrastiveTriplets" ->
      (s => BinaryEmbed.contrastiveTriplets(emb, id, vec, col("label"), s = s)),
    "BinaryEmbed.intCosineNearDupPairs" ->
      (s => BinaryEmbed.intCosineNearDupPairs(emb, id, vec, s = s)))

  private val badScales = Seq(
    "s = 2^31 (dim * s^2 wraps a Long to 0)" -> (1L << 31),
    "s = 0" -> 0L)

  for ((name, run) <- entryPoints; (what, s) <- badScales)
    test(s"$name rejects $what") {
      intercept[IllegalArgumentException](run(s).collect())
    }

  test("the guard's bound is dim * s1 * s2 < 2^62, exactly") {
    IntVectors.requireExact(dim, (1L << 28) - 1)
    intercept[IllegalArgumentException](IntVectors.requireExact(dim, 1L << 28))
    IntVectors.requireExact(dim, 1L << 27, (1L << 29) - 1)
    intercept[IllegalArgumentException](
      IntVectors.requireExact(dim, 1L << 27, 1L << 29))
    intercept[IllegalArgumentException](
      IntVectors.requireExact(dim, Long.MaxValue, Long.MaxValue))
    intercept[IllegalArgumentException](IntVectors.requireExact(1, 1L, 0L))
  }
}
