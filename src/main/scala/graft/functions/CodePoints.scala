package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-code-point split BPE starts from —
  * `transform(sequence(1, length(w)), i -> substr(w, i, 1))` — as ONE
  * JVM byte walk with real codegen (round-17; guide §1.2 step 2,
  * per-task work). The HOF formulation evaluates an interpreted
  * lambda per character AND pays `substr`'s O(i) scan-from-start per
  * element (O(len²) per word); this kernel walks the UTF-8 bytes once
  * and slices each code point in place. Semantics identical to the
  * HOF chain: Spark's `substr` indexes CODE POINTS (so astral-plane
  * characters stay whole — the BpeSpec surrogate-pair pin), and so
  * does `numBytesForFirstByte`-driven slicing; BpeSpec pins
  * kernel == HOF on mixed + astral text.
  */
case class CodePoints(child: Expression) extends UnaryKernel[UTF8String] {
  override def prettyName: String = "code_points"
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def inputTypes: Seq[DataType] = Seq(StringType)

  def compute(text: UTF8String): GenericArrayData = {
    val bytes = text.getBytes
    val out = new Array[Any](text.numChars())
    var i = 0
    var k = 0
    while (i < bytes.length) {
      val len = UTF8String.numBytesForFirstByte(bytes(i))
      out(k) = UTF8String.fromBytes(bytes, i, len)
      k += 1
      i += len
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): CodePoints = copy(child = newChild)
}
