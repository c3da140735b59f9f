package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

/** Base of every single-input row kernel: a null-safe Catalyst
  * expression whose interpreted `eval` and whole-stage generated code
  * both call the same typed [[compute]], so the two paths cannot
  * diverge. A kernel supplies `dataType`, `inputTypes`, `compute` and
  * `withNewChildInternal`.
  *
  * Generated code binds the expression instance as a reference object
  * and calls `compute` on it directly: the stage keeps whole-stage
  * codegen with no interpreted eval island (a `CodegenFallback` would
  * wrap the row and virtual-dispatch `eval` per row). Scala emits the
  * typed `compute` plus an erased `compute(Object)` bridge; Janino
  * resolves the call to the typed overload, so primitive results are
  * not boxed on the generated path.
  *
  * `ExpectsInputTypes` (no implicit cast) makes a mistyped call an
  * analysis-time error instead of an executor `ClassCastException`.
  */
abstract class UnaryKernel[I] extends UnaryExpression with ExpectsInputTypes {
  def compute(in: I): Any

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[I])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
}

/** Two-input form of [[UnaryKernel]]; a kernel supplies `dataType`,
  * `inputTypes`, `compute` and `withNewChildrenInternal`.
  */
abstract class BinaryKernel[A, B] extends BinaryExpression
    with ExpectsInputTypes {
  def compute(a: A, b: B): Any

  protected override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[A], b.asInstanceOf[B])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }
}
