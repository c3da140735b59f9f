package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Index of the maximum element of an `array<double>` (first winner on
  * ties). The built-in composition
  * `array_position(scores, array_max(scores))` references `scores`
  * twice and therefore evaluates the array-producing expression twice
  * per row (no CSE across references) — this node reads it once.
  */
case class ArgMaxArray(child: Expression) extends UnaryKernel[ArrayData] {
  override def prettyName: String = "argmax_array"
  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  def compute(arr: ArrayData): Int = {
    val n = arr.numElements()
    var best = 0
    var bestV = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val v = arr.getDouble(i)
      if (v > bestV) { bestV = v; best = i }
      i += 1
    }
    best
  }

  override protected def withNewChildInternal(newChild: Expression): ArgMaxArray =
    copy(child = newChild)
}
