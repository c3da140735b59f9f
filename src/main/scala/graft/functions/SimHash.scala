package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash of an `array<string>` OR `array<long>` feature
  * column (charikar sign-random-projection over the implicit feature
  * hash space): each feature votes ±1 on every bit of its XXH64 hash;
  * the result sets the bits with positive vote sums. Near-duplicate
  * texts differ in few features ⇒ few vote flips ⇒ small Hamming
  * distance.
  *
  * An `array<long>` input is taken as PRE-HASHED features — exactly
  * what [[Shingles]] `hashed = true` emits (XXH64 seed 42 per gram, the
  * same hash this kernel computes from strings) — so
  * `SimHash(shingles_hashed(t))` is bit-identical to
  * `SimHash(shingles(t))` while the upstream moves 8-byte longs.
  *
  * Same design rationale as [[MinHashBase]]: one tight JVM pass per
  * row (features hashed once, 64 counters updated inline) instead of
  * 64 interpreted higher-order-function passes. Pure function of the
  * input ⇒ deterministic across partitionings.
  */
case class SimHash(child: Expression) extends UnaryKernel[ArrayData] {
  override def prettyName: String = "simhash"
  override def dataType: DataType = LongType
  override def inputTypes =
    Seq(Bridge.anyOf(ArrayType(StringType), ArrayType(LongType)))

  // resolved only after analysis — must not be a constructor val
  private lazy val preHashed = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = if (preHashed) arr.getLong(i) else {
        val s = arr.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, 42L)
      }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}
