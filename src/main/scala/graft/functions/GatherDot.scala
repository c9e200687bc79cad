package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Tight-loop kernel for the sparse gather-dot: Σ w[b_i] · x_i. */
object GatherDotKernel {
  /** `indices` are 0-based positions into `w` (hash-bucket ids are
    * bounded by construction); one outside [0, |w|) throws, since an
    * `UnsafeArrayData` read past its end returns garbage, not an
    * error. Plain Java long multiply-add — wraps exactly like the
    * interpreted `element_at(w, b+1) * x` / `aggregate(+)` composition
    * it replaces. */
  def gatherDot(w: ArrayData, indices: ArrayData, values: ArrayData): Long = {
    val n = math.min(indices.numElements(), values.numElements())
    val m = w.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      val b = indices.getLong(i)
      if (b < 0 || b >= m)
        throw new IndexOutOfBoundsException(
          s"gather_dot: bucket index $b is outside [0, |w|) for |w| = $m")
      s += w.getLong(b.toInt) * values.getLong(i)
      i += 1
    }
    s
  }
}

/** Codegen'd sparse margin Σ w[b_i]·x_i over ARRAY<BIGINT> columns
  * (weights, 0-based bucket indices, feature values). Replaces the
  * `aggregate(zip_with(bs, xs, (b, x) -> element_at(w, b+1) * x))`
  * higher-order formulation, which Spark evaluates INTERPRETED (HOFs
  * have no codegen) once per document per training iteration on the
  * perceptron's over-threshold path — the same lambda-vs-kernel trade
  * as [[DotScaledExpr]], with identical values (same long
  * multiply-add order, same wraparound). Arrays must be non-null
  * element-wise and indices in [0, |w|) — both hold by construction
  * for hashed feature buckets; an out-of-range index fails the task. */
case class GatherDotLongExpr(weights: Expression, indices: Expression,
                             values: Expression) extends TernaryExpression {
  override def first: Expression = weights
  override def second: Expression = indices
  override def third: Expression = values
  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = Seq(weights, indices, values).map(_.dataType).filterNot {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gather_dot expects ARRAY<BIGINT> inputs, got ${bad.map(_.catalogString).mkString(", ")}")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(w: Any, b: Any, x: Any): Any =
    GatherDotKernel.gatherDot(w.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], x.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, b, x) =>
      s"graft.functions.GatherDotKernel.gatherDot($w, $b, $x)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): GatherDotLongExpr =
    copy(weights = newFirst, indices = newSecond, values = newThird)
}
