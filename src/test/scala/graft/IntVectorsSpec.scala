package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{BinaryEmbed, Coreset, IntVectors, KMeans, Mmr, PowerIteration}

/** The exactness guard of the integer-vector operators: every public
  * entry point that quantizes rejects a scale below 1 and a scale at
  * which some quantity it computes would not be exact. At dim 64,
  * s = 2³¹ gives dim·s² = 2⁶⁸, which a product computed in `Long` wraps
  * to 0 — the case a wrapping guard lets through, leaving `LongDot` to
  * return wrong neighbours and centers. Dots are not the widest
  * quantity: squared distances reach 4·dim·s², the cosine test
  * 10⁴·(dim·s²)² and the product of two norms (dim·s²)², so a scale
  * the guard admits must keep those exact too.
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

  test("the guard's bound is dim * max(s1, s2)^2 < 10^17, exactly") {
    IntVectors.requireExact(10, 100000000L - 1)
    intercept[IllegalArgumentException](IntVectors.requireExact(10, 100000000L))
    IntVectors.requireExact(10, 1L, 100000000L - 1)
    intercept[IllegalArgumentException](
      IntVectors.requireExact(10, 100000000L, 1L))
    IntVectors.requireExact(dim, maxScale)
    intercept[IllegalArgumentException](IntVectors.requireExact(dim, maxScale + 1))
    intercept[IllegalArgumentException](
      IntVectors.requireExact(dim, Long.MaxValue, Long.MaxValue))
    intercept[IllegalArgumentException](IntVectors.requireExact(1, 1L, 0L))
  }

  /** The largest scale the guard admits at `dim`: 64·s² < 10¹⁷. */
  private val maxScale = 39528470L

  /** All +1, all −1, and alternating ±1: the first two are as far apart
    * as quantized vectors get, 4·dim·s² in squared distance.
    */
  private lazy val signs: DataFrame = Seq(
    (0L, Seq.fill(dim)(1.0)), (1L, Seq.fill(dim)(-1.0)),
    (2L, Seq.tabulate(dim)(j => if (j % 2 == 0) 1.0 else -1.0)))
    .toDF("vec_id", "embedding")

  test("Coreset.kCenter on ±1 vectors at s = 2^28 - 1 is rejected at the guard") {
    // dim·s² < 2⁶² passes a dots-only bound, but the ±1 distance
    // 4·dim·s² ≈ 2⁶⁴ does not fit a long
    intercept[IllegalArgumentException](
      Coreset.kCenter(signs, id, vec, k = 3, s = (1L << 28) - 1).collect())
  }

  test("Coreset.kCenter distances are exact at the largest admitted scale") {
    val s = maxScale
    val got = Coreset.kCenter(signs, id, vec, k = 3, s = s)
      .orderBy("sel_rank").collect()
      .map(r => (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(got.toSeq == Seq(
      (0L, None), (1L, Some(4L * dim * s * s)), (2L, Some(2L * dim * s * s))))
  }

  /** Two near-parallel vectors of 0.9s and one pointing away from both. */
  private lazy val nearParallel: DataFrame = Seq(
    (0L, Seq.fill(dim)(0.9)),
    (1L, Seq.tabulate(dim)(j => if (j == 0) 0.8 else 0.9)),
    (2L, Seq.fill(dim)(-0.9)))
    .toDF("vec_id", "embedding")

  /** The pairs with cosine ≥ 0.3, by the same integer recipe on the
    * driver: num, nₐ·nᵦ in BigInt, the cosine as `IntVectors.cosine`
    * computes it.
    */
  private def exactNearDups(s: Long): Seq[(Long, Long, Long, Double)] = {
    val q = nearParallel.collect().map { r =>
      r.getLong(0) -> r.getSeq[Double](1).map(x => math.floor(x * s + 0.5).toLong)
    }
    def dotOf(a: Seq[Long], b: Seq[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x) * y }.sum
    for {
      (ia, a) <- q.toSeq; (ib, b) <- q.toSeq if ia < ib
      num = dotOf(a, b); (na, nb) = (dotOf(a, a), dotOf(b, b))
      if num > 0 && num * num * 10000 >= na * nb * 900
    } yield (ia, ib, num.toLong,
      num.toDouble / math.sqrt(na.toDouble * nb.toDouble))
  }

  for (s <- Seq(100000L, maxScale))
    test(s"BinaryEmbed.intCosineNearDupPairs is exact at dim 64, s = $s") {
      // at s = 10⁵ the norms' product (≈ 2.7·10²³) does not fit a long
      val got = BinaryEmbed.intCosineNearDupPairs(nearParallel, id, vec, s = s)
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val want = exactNearDups(s)
      assert(want.map(p => (p._1, p._2)) == Seq((0L, 1L)))
      assert(got.toSeq == want)
    }
}
