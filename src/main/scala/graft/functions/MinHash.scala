package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Single-pass MinHash over an `array<string>` shingle column — or an
  * `array<long>` of PRE-HASHED shingles ([[Shingles]] with
  * `hashed = true`), which yields bit-identical signatures because the
  * element hash used here (XXH64 of the UTF8 bytes, seed 42) is
  * exactly what the hashed shingle kernel emits, and the min-fold is
  * order-independent.
  *
  * Why a custom expression: composing this from built-ins
  * (`array_min(transform(sh, s => xxhash64(j, s)))` × k) costs k
  * interpreted passes over the shingle array — and any reference to the
  * assembled signature array re-derives ALL k passes because Catalyst
  * does not CSE across expression references (measured: the LSH stage
  * of near-dedup at sf0.1 went from minutes to ~1s with this node).
  * Here each shingle is hashed ONCE (XXH64 over its UTF8 bytes) and the
  * k components are affine rehashes `A_j·h + B_j` (odd SplitMix64
  * constants, a standard minwise family) folded in a tight JVM loop —
  * O(shingles · k) long ops, one call per ROW, not per element.
  *
  * Evaluation is a pure function of the input array + constants:
  * deterministic across runs, partitionings, and cluster layouts.
  */
abstract class MinHashBase extends UnaryKernel[ArrayData] {
  def k: Int

  override def inputTypes =
    Seq(Bridge.anyOf(ArrayType(StringType), ArrayType(LongType)))

  @transient protected lazy val (aConsts, bConsts) = {
    val rnd = new java.util.SplittableRandom(0x6d696e68617368L) // "minhash"
    (Array.fill(k)(rnd.nextLong() | 1L), Array.fill(k)(rnd.nextLong()))
  }

  @transient private lazy val preHashed: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** Signature of one shingle array: sig(j) = min over shingles of
    * A_j * xxh64(shingle) + B_j (wrapping arithmetic). Pre-hashed long
    * input supplies xxh64(shingle) directly.
    */
  protected def signature(arr: ArrayData): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = if (preHashed) arr.getLong(i) else {
        val s = arr.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, 42L)
      }
      var j = 0
      while (j < k) {
        val hj = aConsts(j) * h + bConsts(j)
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
      i += 1
    }
    sig
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
}

/** SQL-parity MinHash over the mod-p affine family: sig_j = min over
  * pre-hashed grams h of (a_j·h + b_j) mod p, p = 2⁶¹ − 1 (Mersenne).
  *
  * Why a second family exists: the production signature
  * ([[MinHashSignature]]) rehashes with WRAPPING 64-bit affine steps —
  * fast, but not expressible in an engine whose BIGINT errors on
  * overflow, so the LSH internals could only ever be checked by
  * brute-forcing the final pair set. This family does the same minwise
  * construction in modular arithmetic that DuckDB replays EXACTLY with
  * HUGEINT intermediates (`(a::HUGEINT * h + b) % p`), putting
  * signatures, band keys, candidate generation, and the
  * matching-component Jaccard estimate all under the DuckDB hash gate
  * (q_lsh_parity). Input grams are [[Shingles.md5Prefix60]] values
  * (< 2⁶⁰ < p); a_j ∈ [1, p−1], b_j ∈ [0, p−1] from a fixed seed —
  * [[MinHashMod.consts]] is the single source the oracle SQL inlines.
  *
  * (a·h) mod p without 128-bit types: with hi:lo the unsigned 128-bit
  * product, 2⁶⁴ ≡ 8 and 2⁶¹ ≡ 1 (mod p), so a·h ≡ (hi·8) + (lo ≫ 61)
  * + (lo & p) — each term < 2⁶¹ (hi < 2⁵⁷ because a < 2⁶¹, h < 2⁶⁰),
  * the sum < 2⁶², and one fold + conditional subtract lands in [0, p).
  * Math.multiplyHigh is the signed high word, which equals the
  * unsigned one for non-negative operands.
  */
object MinHashMod {
  val P: Long = (1L << 61) - 1

  /** The j-indexed (a, b) coefficient arrays for a k-component
    * signature — deterministic, and inlined verbatim into the oracle
    * SQL by the query layer.
    */
  def consts(k: Int): (Array[Long], Array[Long]) = {
    val rnd = new java.util.SplittableRandom(0x6c736870726974L) // "lshprit"
    (Array.fill(k)(rnd.nextLong(P - 1L) + 1L),
      Array.fill(k)(rnd.nextLong(P)))
  }

  /** Fold x < 2⁶² into [0, p). */
  @inline private def modP(x: Long): Long = {
    val r = (x & P) + (x >>> 61)
    if (r >= P) r - P else r
  }

  /** (a·h) mod p for 0 ≤ a < p, 0 ≤ h < 2⁶⁰. */
  @inline def mulmod(a: Long, h: Long): Long = {
    val hi = Math.multiplyHigh(a, h)
    val lo = a * h
    modP((hi << 3) + (lo >>> 61) + (lo & P))
  }
}

/** `minhash_signature_mod(gram_hashes)` → array<long> of k mod-p
  * minwise components (see [[MinHashMod]]). Input must be
  * `array<long>` of md5-parity gram hashes; same single-pass shape as
  * [[MinHashBase]].
  */
case class MinHashSignatureMod(child: Expression, k: Int)
    extends UnaryKernel[ArrayData] {
  override def prettyName: String = "minhash_signature_mod"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  @transient private lazy val (aConsts, bConsts) = MinHashMod.consts(k)

  def compute(arr: ArrayData): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        var v = MinHashMod.mulmod(aConsts(j), h) + bConsts(j)
        if (v >= MinHashMod.P) v -= MinHashMod.P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignatureMod = copy(child = newChild)
}

/** `minhash_signature(shingles)` → array<long> of k components. */
case class MinHashSignature(child: Expression, k: Int) extends MinHashBase {
  override def prettyName: String = "minhash_signature"
  override def compute(arr: ArrayData): ArrayData =
    new GenericArrayData(signature(arr))
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** `minhash_bands(shingles)` → array<long> of b LSH band keys, each an
  * XXH64 fold of r = k/b contiguous signature components (salted with
  * the band index so identical sub-signatures in different bands don't
  * collide).
  */
case class MinHashBands(child: Expression, k: Int, bands: Int) extends MinHashBase {
  require(k % bands == 0, "k must be divisible by bands")
  private val r = k / bands
  override def prettyName: String = "minhash_bands"

  override def compute(arr: ArrayData): ArrayData = {
    val sig = signature(arr)
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = XXH64.hashLong(b.toLong, 42L)
      var i = 0
      while (i < r) {
        acc = XXH64.hashLong(sig(b * r + i), acc)
        i += 1
      }
      keys(b) = acc
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}
