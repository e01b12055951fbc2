package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Codegen entry point (static forwarder — generated Java calls it
  * directly): Hamilton's xy2d as a tight JVM loop. */
object HilbertCodegen {
  /** Hilbert index of (a, b) on the 2^bits × 2^bits grid. */
  def xy2d(a: Long, b: Long, bits: Int): Long = {
    var x = a & ((1L << bits) - 1)
    var y = b & ((1L << bits) - 1)
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        val nx = if (rx == 1) s - 1 - y else y
        val ny = if (rx == 1) s - 1 - x else x
        x = nx; y = ny
      }
      s >>= 1
    }
    d
  }
}

/** Native Hilbert-curve index: `hilbert_value(a, b)` on the 2^bits grid.
  *
  * Why an expression and not Column arithmetic: the rotate-and-accumulate
  * recurrence needs per-level mutable (x, y, d) state. A fused Column
  * tree copies x/y several times per level (~5^bits nodes — OOMs at
  * bits=16), and a 16-step projection ladder pushes the generated
  * whole-stage method past the huge-method limit into interpreted
  * evaluation (measured 7.2 s vs z-order's 0.8 s at sf0.1). One static
  * call compiling to a 16-iteration JIT'd loop keeps the stage fused and
  * the cost within noise of the Morton ladder. */
case class HilbertValue(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (BIGINT, BIGINT), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_value"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HilbertCodegen.xy2d(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expr.HilbertCodegen.xy2d($a, $b, $bits)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
