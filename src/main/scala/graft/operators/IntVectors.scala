package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DecimalType

import graft.functions.{LongDot, LongVecDot}

/** The exact-integer vector format shared by the oracle-gated embedding
  * operators ([[KMeans]], [[Coreset]], [[Mmr]], [[PowerIteration]] and
  * [[BinaryEmbed]]'s int-LSH paths), and every decision that depends on
  * it.
  *
  * Format: a float vector x quantizes once to qᵢ = ⌊xᵢ·s + ½⌋ (floor,
  * not round: round's half-case rule differs between engines) as an
  * `array<long>` column `q`, with its squared norm `nq` = q·q; rows
  * whose vector is null are dropped. Everything after that is integer
  * arithmetic — exact 64-bit dots, squared distances
  * nq − 2·q·c + n(c), argmins with ties to the lowest id, cosine tests
  * in DECIMAL(38,0) — so no result depends on operand order or
  * partitioning, and the DuckDB oracles replay each step exactly.
  *
  * Overflow contract: |x| ≤ 1 ⇒ |q| ≤ s, so a dot of vectors quantized
  * at s₁ and s₂ is at most dim·s₁·s₂. [[requireExact]] is the one guard:
  * s ≥ 1 and dim·s₁·s₂ < 2⁶², computed in `BigInt` so it cannot wrap.
  *
  * Driver-side vectors (centers, the query, the selected set) enter a
  * scan as [[LongVecDot]] reference objects, not `dim` literals, so a
  * round's generated code does not depend on the vectors' values and a
  * repeated run compiles nothing new.
  *
  * Column helpers read the scan row's vector from the columns `q` and
  * `nq`, the names [[quantize]] gives them.
  */
object IntVectors {

  private val DotBound = BigInt(1) << 62

  private def requireScale(s: Long): Unit =
    require(s >= 1L, s"scale must be >= 1, got $s")

  /** Every exact dot of a dim-`dim` vector quantized at `s1` with one
    * quantized at `s2` fits in a signed 64-bit long.
    */
  def requireExact(dim: Int, s1: Long, s2: Long): Unit = {
    requireScale(s1)
    requireScale(s2)
    require(BigInt(dim) * s1 * s2 < DotBound,
      s"dim * scale^2 = $dim * $s1 * $s2 is too large for exact 64-bit dots")
  }

  def requireExact(dim: Int, s: Long): Unit = requireExact(dim, s, s)

  /** `emb`'s non-null vectors quantized at `s`: the `keep` columns, then
    * `q` and `nq`. Not persisted — callers persist once they have added
    * any columns of their own.
    */
  def quantize(emb: DataFrame, vec: Column, s: Long,
      keep: Column*): DataFrame = {
    requireScale(s)
    emb.filter(vec.isNotNull)
      .select(keep :+ transform(vec, x =>
        floor(x.cast("double") * s + lit(0.5)).cast("long")).as("q"): _*)
      .withColumn("nq", dot(col("q"), col("q")))
  }

  /** The quantized vector `q` of a collected row. */
  def vectorOf(row: Row): Array[Long] = row.getAs[Seq[Long]]("q").toArray

  /** Exact dot of two `array<long>` columns. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(LongDot(Bridge.expression(a), Bridge.expression(b)))

  /** Exact dot of an `array<long>` column with a driver-side vector. */
  def dot(a: Column, v: Array[Long]): Column =
    Bridge.column(LongVecDot(Bridge.expression(a), v.toSeq))

  /** Exact squared L2 distance of the scan row to `c`. */
  def sqDist(c: Array[Long]): Column =
    col("nq") - lit(2L) * dot(col("q"), c) + lit(c.map(x => x * x).sum)

  /** `array(struct(dist, id))`, one element per center: the row's exact
    * squared distance to each center, so the array orders by distance,
    * ties to the lowest center id.
    */
  def centerDists(centers: Seq[(Long, Array[Long])]): Column =
    array(centers.map { case (id, c) =>
      struct(sqDist(c).as("dist"), lit(id).as("id"))
    }: _*)

  /** `struct(dist, id)` of the row's nearest center. */
  def nearest(centers: Seq[(Long, Array[Long])]): Column =
    array_min(centerDists(centers))

  /** Exact cosine ≥ tPct/100 without floating point:
    * num > 0 and 10⁴·num² ≥ tPct²·nₐ·nᵦ in DECIMAL(38,0).
    */
  def cosineAtLeast(num: Column, na: Column, nb: Column, tPct: Int): Column = {
    require(tPct >= 1 && tPct <= 99, "tPct is an integer percent")
    val dec = DecimalType(38, 0)
    num > 0 && lit(10000L) * num.cast(dec) * num >=
      lit(tPct.toLong * tPct) * na.cast(dec) * nb
  }

  /** num/√(nₐ·nᵦ) as a double: correctly rounded in both engines while
    * nₐ·nᵦ < 2⁵³, so it ranks identically in the oracle.
    */
  def cosine(num: Column, na: Column, nb: Column): Column =
    num.cast("double") / sqrt((na * nb).cast("double"))

  /** Greedy top-1 selection over `pool` (an `id`, `q` relation), at most
    * `k` rounds. Each round is ONE scan: drop the selected ids, score
    * every row with `score(selected vectors)`, keep the highest score
    * with ties to the lowest id (a distributed top-1, no global sort).
    * Returns the winning rows in selection order — the pool's columns
    * plus `score` — fewer than `k` when the pool runs out. Each selected
    * vector becomes a reference object in later rounds, so it is held to
    * [[requireExact]] at scale `s` before it is scored against.
    */
  def greedy(pool: DataFrame, k: Int, s: Long)(
      score: Seq[Array[Long]] => Column): Seq[Row] = {
    require(k >= 1, "k must be >= 1")
    val picks = scala.collection.mutable.ArrayBuffer.empty[Row]
    val selected = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    var exhausted = false
    while (picks.size < k && !exhausted) {
      val win = pool
        .filter(!col("id").isInCollection(picks.map(_.getAs[Long]("id"))))
        .select(col("*"), score(selected.toSeq).as("score"))
        .orderBy(col("score").desc, col("id")).limit(1).collect()
      if (win.isEmpty) exhausted = true
      else {
        val v = vectorOf(win.head)
        requireExact(v.length, s)
        picks += win.head
        selected += v
      }
    }
    picks.toSeq
  }
}
