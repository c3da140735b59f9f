package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Single-pass vector math for the similarity-search family.
  *
  * Why custom expressions: the higher-order-function composition
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) evaluates an
  * interpreted lambda PER ELEMENT, and every column that references a
  * derived dot product re-evaluates the whole chain (Catalyst does not
  * CSE across expression references). The sign-LSH bucketing needed
  * tables x bits separate dot-product columns per row — measured at
  * ~28% of the whole bench (VERDICT round 2). These nodes do the same
  * arithmetic in one tight JVM loop per ROW, in the SAME float
  * operation order as the sequential HOF fold, so results are
  * bit-identical to the previous composition and deterministic across
  * partitionings.
  */

/** `dot_product(a, b)` — ordered-fold dot product of two
  * `array<double>` columns (sequential sum from index 0, the exact FP
  * order of `aggregate(zip_with(...))`).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData] {
  override def prettyName: String = "dot_product"
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Dot products of a vector against a constant row matrix — all rows
  * in one pass: `mat_vec_dots(v)(i) = dot(v, rows(i))`. Used for IVF
  * centroid scoring (c dots + argmax read the input vector once
  * instead of c interpreted lambda passes).
  *
  * `rows` is Seq-of-Seq for structural equality in the plan tree; a
  * flattened primitive copy is built lazily per task for the loop.
  */
case class MatVecDots(child: Expression, rows: Seq[Seq[Double]])
    extends UnaryKernel[ArrayData] {
  override def prettyName: String = "mat_vec_dots"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  private val nRows = rows.length
  private val dim = if (rows.isEmpty) 0 else rows.head.length
  @transient private lazy val flat: Array[Double] = rows.flatten.toArray

  def compute(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val out = new Array[Double](nRows)
    var r = 0
    while (r < nRows) {
      val base = r * dim
      var s = 0.0
      var i = 0
      while (i < n) {
        s += v.getDouble(i) * flat(base + i)
        i += 1
      }
      out(r) = s
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecDots =
    copy(child = newChild)
}

/** Exact 64-bit dot of an `array<long>` column against a constant
  * long vector: `Σⱼ q(j)·v(j)` — the per-row projection of the
  * integer power-iteration recursion ([[graft.operators.PowerIteration]]).
  *
  * Why not `v.indices.map(j => element_at(q, j+1) * lit(v(j))).reduce(_+_)`:
  * that form embeds `dim` LITERALS in the plan, so every iteration
  * round (new v) generates DIFFERENT whole-stage-codegen source and
  * pays a fresh janino compile — measured as the dominant cost of the
  * 6-round loop at sf0.1 (the arithmetic itself is trivial). Holding v
  * as a reference object keeps the generated source identical across
  * rounds and queries: one compile, then cache hits. Integer sums are
  * order-free, so the result is bit-identical to the literal form on
  * any partitioning.
  *
  * `v` is a Seq for structural equality in the plan tree; a primitive
  * copy is built lazily per task for the loop.
  */
case class LongVecDot(child: Expression, v: Seq[Long])
    extends UnaryKernel[ArrayData] {
  override def prettyName: String = "long_vec_dot"
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  @transient private lazy val flat: Array[Long] = v.toArray

  def compute(q: ArrayData): Long = {
    val n = math.min(q.numElements(), flat.length)
    var s = 0L
    var i = 0
    while (i < n) {
      s += q.getLong(i) * flat(i)
      i += 1
    }
    s
  }

  override protected def withNewChildInternal(newChild: Expression): LongVecDot =
    copy(child = newChild)
}

/** Exact 64-bit dot of two `array<long>` columns — the pairwise form
  * of [[LongVecDot]], used for the integer-cosine verification of
  * embedding near-dup candidates. Integer sums are order-free, so the
  * value is partitioning-invariant and oracle-reproducible
  * (`list_sum([a.q[i]*b.q[i] ...])` in DuckDB).
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData] {
  override def prettyName: String = "long_dot"
  override def dataType: DataType = LongType
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  def compute(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)
}

/** All `tables` INTEGER sign-LSH bucket keys of a quantized
  * `array<long>` vector in one pass — the oracle-reproducible analogue
  * of [[SignLshBuckets]]. Hyperplanes have ±1 entries derived from the
  * md5 parity of the string "t:b:i" (table, bit, 1-based dimension —
  * exactly `('0x'||substr(md5(t||':'||b||':'||i),1,15))::BIGINT & 1`
  * in DuckDB, the [[Shingles.md5Prefix60]] hash), so bucket membership
  * is exact integer arithmetic both engines compute bit-identically:
  * bit(t,b) = (Σᵢ sgn(t,b,i)·q(i) >= 0), key(t) = Σ_b bit(t,b)·2^b.
  * ±1-entry random projections are a standard sign-LSH family
  * (Charikar'02 hyperplanes with Rademacher instead of Gaussian
  * entries; Achlioptas'01 shows database-friendly ±1 projections
  * preserve angles with the same guarantees), so recall behaves like
  * the float path while every value stays oracle-gateable. The signs
  * are derived once per expression instance (tables×bits×dim md5
  * calls), never per row.
  */
case class IntSignLshKeys(child: Expression, dim: Int, bits: Int,
    tables: Int) extends UnaryKernel[ArrayData] {
  override def prettyName: String = "int_sign_lsh_keys"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  // row-major (table, bit, component); +1 when the md5 parity bit is
  // set, -1 otherwise
  @transient private lazy val flat: Array[Int] =
    Array.tabulate(tables * bits * dim) { x =>
      val i = x % dim + 1
      val b = x / dim % bits
      val t = x / (dim * bits)
      val h = Shingles.md5Prefix60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$t:$b:$i"))
      if ((h & 1L) == 1L) 1 else -1
    }

  def compute(q: ArrayData): ArrayData = {
    val n = math.min(q.numElements(), dim)
    val keys = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var s = 0L
        var i = 0
        while (i < n) {
          s += q.getLong(i) * flat(base + i)
          i += 1
        }
        if (s >= 0L) key |= (1L << b)
        b += 1
      }
      keys(t) = key
      t += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): IntSignLshKeys =
    copy(child = newChild)
}

/** All `tables` sign-LSH bucket keys of a vector in one pass:
  * key(t) = fold over bits b of `key*2 + (dot(v, plane(t)(b)) >= 0)`.
  *
  * Hyperplanes are regenerated from `(dim, bits, tables, seed)` inside
  * the expression (a fixed-seed `scala.util.Random` Gaussian stream),
  * so the plan tree carries four scalars
  * instead of tables x bits x dim literals, and executors rebuild the
  * planes locally — no closure shipping, bit-stable everywhere.
  */
case class SignLshBuckets(child: Expression, dim: Int, bits: Int,
    tables: Int, seed: Long) extends UnaryKernel[ArrayData] {
  override def prettyName: String = "sign_lsh_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  // the seeded stream's draws, row-major (table, bit, component)
  @transient private lazy val flat: Array[Double] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables * bits * dim)(rnd.nextGaussian())
  }

  def compute(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val keys = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var s = 0.0
        var i = 0
        while (i < n) {
          s += v.getDouble(i) * flat(base + i)
          i += 1
        }
        key = key * 2 + (if (s >= 0.0) 1L else 0L)
        b += 1
      }
      keys(t) = key
      t += 1
    }
    new GenericArrayData(keys)
  }

  override protected def withNewChildInternal(newChild: Expression): SignLshBuckets =
    copy(child = newChild)
}
