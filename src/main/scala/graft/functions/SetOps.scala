package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** `sorted_overlap(a, b)` — intersection size of two SORTED distinct
  * `array<long>` columns via a single merge scan.
  *
  * Why custom: `size(array_intersect(a, b))` builds a hash set per
  * row-pair (boxing every element); the set-similarity verification
  * stage evaluates it once per candidate pair, which made it the
  * hottest stage of the exact Jaccard join (measured 4 s of an ~11 s
  * run at sf0.1). The merge scan does ~|a|+|b| primitive comparisons
  * with zero allocation.
  *
  * Caller contract: both arrays sorted ascending with distinct
  * elements (the operator sorts once upstream, amortized over all
  * pairs touching the row).
  */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, ArrayData] {
  override def prettyName: String = "sorted_overlap"
  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  def compute(x: ArrayData, y: ArrayData): Int = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedOverlapCount =
    copy(left = newLeft, right = newRight)
}

/** `sorted_pairs(items)` — every unordered pair (a, b) with a < b of a
  * SORTED-ascending distinct `array<long>`, as `array<struct<a,b>>` in
  * lexicographic order.
  *
  * This is the per-group half of the A-Priori k=2 candidate step
  * (round-18; guide §2.4 — remove shuffles outright): enumerating
  * co-occurrence pairs per basket as a row-local generate over the
  * basket's item-set array replaces the distinct-relation SELF-JOIN on
  * the basket key, whose plan paid a second full exchange (or a
  * basket-relation-sized broadcast) just to rebuild row-local
  * adjacency. The quadratic blow-up is unchanged (the OUTPUT is every
  * pair; baskets are small by domain contract, and a degenerate
  * mega-basket guard belongs upstream exactly as before) — only the
  * join machinery around it is deleted.
  *
  * Caller contract: array sorted ascending and distinct
  * (`sort_array(collect_set(...))` produces exactly that), so the
  * emitted (a, b) are canonical without per-pair comparisons.
  */
case class SortedPairs(child: Expression) extends UnaryKernel[ArrayData] {
  override def prettyName: String = "sorted_pairs"
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  def compute(items: ArrayData): ArrayData = {
    val n = items.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n - 1) {
      val a = items.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = org.apache.spark.sql.catalyst.InternalRow(a, items.getLong(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SortedPairs =
    copy(child = newChild)
}
