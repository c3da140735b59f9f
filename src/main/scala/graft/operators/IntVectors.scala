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
  * Overflow contract: |x| ≤ 1 ⇒ |q| ≤ s, so with m = dim·max(s₁, s₂)²
  * every dot and norm is at most m, a squared distance
  * nq − 2·q·c + n(c) at most 4m, and the cosine test's products
  * 10⁴·num² and tPct²·nₐ·nᵦ below 10⁴·m². [[requireExact]] is the one
  * guard: s ≥ 1 and m < 10¹⁷, computed in `BigInt` so it cannot wrap.
  * That keeps distances in a signed 64-bit long (4m < 2⁶³) and the
  * cosine test in DECIMAL(38,0) (10⁴·m² < 10³⁸). [[cosine]] multiplies
  * nₐ·nᵦ (up to m²) in double, where it cannot overflow.
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

  private val Bound = BigInt(10).pow(17)

  private def requireScale(s: Long): Unit =
    require(s >= 1L, s"scale must be >= 1, got $s")

  /** Every quantity this module computes over dim-`dim` vectors quantized
    * at `s1` and `s2` is exact: dim·max(s1, s2)² < 10¹⁷.
    */
  def requireExact(dim: Int, s1: Long, s2: Long): Unit = {
    requireScale(s1)
    requireScale(s2)
    val s = s1 max s2
    require(BigInt(dim) * s * s < Bound,
      s"dim * scale^2 = $dim * $s^2 is too large for exact integer arithmetic")
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

  /** num/√(nₐ·nᵦ) in double, the product of the norms included: each
    * step is one correctly rounded IEEE operation in both engines, so it
    * ranks identically in the oracle.
    */
  def cosine(num: Column, na: Column, nb: Column): Column =
    num.cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  /** A [[greedy]] scan keeps the top `KeptPerPick`·k + 1 rows. */
  private val KeptPerPick = 4

  /** Greedy top-1 selection over `pool` (an `id`, `q` relation), at most
    * `k` rounds: each round picks the unselected row of highest `long`
    * `score(selected vectors)`, ties to the lowest id. Returns the
    * winning rows in selection order — the pool's columns plus `score` —
    * fewer than `k` when the pool runs out. Each selected vector becomes
    * a reference object in later rounds, so it is held to
    * [[requireExact]] at scale `s` before it is scored against.
    *
    * Lazy greedy, exact because a row's score never rises once something
    * is selected: a k-center distance only shrinks as centers are added,
    * and MMR's rel − red only falls as the max-dot redundancy grows. A
    * scan is ONE narrow pass plus a distributed top-(M+1), M = 4·k (no
    * global sort), and keeps those M+1 rows, not just the winner. Later
    * rounds rescore the kept rows on the driver with the same `score`
    * Column over a `LocalRelation` of them, which `ConvertToLocalRelation`
    * folds, so it runs no job. Their best row is the pick if its score is
    * strictly above the scan's (M+1)-th score: every row the scan did not
    * keep scored at most that then, and scores no more now. The loop
    * rescans when the best only ties that bound, when the bound is NULL
    * (k-center's first round), when no kept row is left, and after a scan
    * made with nothing selected (MMR's empty redundancy is 0, above a
    * later negative max-dot, so those scores bound nothing). A scan that
    * kept every unselected row needs no bound.
    */
  def greedy(pool: DataFrame, k: Int, s: Long)(
      score: Seq[Array[Long]] => Column): Seq[Row] = {
    require(k >= 1, "k must be >= 1")
    val m = KeptPerPick * k
    val picks = scala.collection.mutable.ArrayBuffer.empty[Row]
    val selected = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    // the last scan's reusable rows; whether they are every unselected
    // row, and if not, the scan's (M+1)-th score
    var kept = Seq.empty[Row]
    var complete = false
    var bound = 0L
    def scored(df: DataFrame) =
      df.select(col("*"), score(selected.toSeq).as("score"))
    def scoreOf(r: Row): Option[Long] =
      if (r.isNullAt(r.length - 1)) None else Some(r.getLong(r.length - 1))
    // the scan's order: score descending with NULLs last, then lowest id
    def best(rows: Seq[Row]): Row = rows.minBy { r =>
      val sc = scoreOf(r)
      (sc.isEmpty, sc.fold(0L)(-_), r.getAs[Long]("id"))
    }
    def rescore(): Option[Row] =
      Option.when(kept.nonEmpty)(best(scored(pool.sparkSession.createDataFrame(
        java.util.Arrays.asList(kept.map(r => Row.fromSeq(r.toSeq.init)): _*),
        pool.schema)).collect().toSeq))
    def scan(): Option[Row] = {
      val top = scored(pool
          .filter(!col("id").isInCollection(picks.map(_.getAs[Long]("id")))))
        .orderBy(col("score").desc, col("id")).limit(m + 1).collect().toSeq
      complete = top.length <= m
      kept =
        if (complete) top.drop(1)
        else top.lift(m).flatMap(scoreOf) match {
          case Some(b) if selected.nonEmpty => bound = b; top.slice(1, m)
          case _ => Nil
        }
      top.headOption
    }
    var exhausted = false
    while (picks.size < k && !exhausted) {
      val win =
        if (complete) rescore()
        else rescore().filter(w => scoreOf(w).exists(_ > bound)).orElse(scan())
      win match {
        case None => exhausted = true
        case Some(w) =>
          val v = vectorOf(w)
          requireExact(v.length, s)
          picks += w
          selected += v
          val id = w.getAs[Long]("id")
          kept = kept.filterNot(_.getAs[Long]("id") == id)
      }
    }
    picks.toSeq
  }
}
