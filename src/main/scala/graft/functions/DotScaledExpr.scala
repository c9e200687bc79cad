package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Tight-loop kernel for the scaled-long dot product. */
object VectorKernels {

  /** Exact HALF_UP (round half away from zero) of a double to long —
    * bit-identical to Spark's `round(x, 0)` (BigDecimal HALF_UP)
    * without allocating: `rint` (half-even) differs from HALF_UP only
    * when the double is EXACTLY k+0.5, which is detectable exactly. */
  def halfUpLong(x: Double): Long = {
    val fl = math.floor(x)
    if (x - fl == 0.5) {
      if (x >= 0) fl.toLong + 1L else fl.toLong
    } else math.rint(x).toLong
  }

  /** The common length of two vectors; a dot product of vectors of
    * different dimensions is an error, as in pgvector. */
  private def sameLength(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"different vector dimensions $n and ${b.numElements()}")
    n
  }

  /** Σ round(a_i·b_i·1e10), exact long accumulation, with per-side
    * element width (float corpus × double centroids — k-means-trained
    * centroids are exact 6-decimal DOUBLES that float narrowing would
    * corrupt). The `aDouble`/`bDouble` flags are codegen-time
    * constants, so the JIT sees a branch-free loop. */
  def dotScaledW(a: ArrayData, aDouble: Boolean,
                 b: ArrayData, bDouble: Boolean): Long = {
    val n = sameLength(a, b)
    var s = 0L
    var i = 0
    while (i < n) {
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      s += halfUpLong(x * y * 1e10)
      i += 1
    }
    s
  }

  /** Σ a_i·b_i over long arrays — exact integer dot for quantized
    * (int8-range) embeddings. */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = sameLength(a, b)
    var s = 0L
    var i = 0
    while (i < n) {
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }

  /** Symmetric int8 quantization of a float vector: s = max|x|/127,
    * q_i = HALF_UP(x_i/s) — one pass for the scale, one for the
    * rounding; all-zero input → all-zero output. */
  def quantizeInt8(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      if (v > mx) mx = v
      i += 1
    }
    val out = new Array[Long](n)
    if (mx > 0.0) {
      val s = mx / 127.0
      i = 0
      while (i < n) {
        out(i) = halfUpLong(a.getFloat(i).toDouble / s)
        i += 1
      }
    }
    ArrayData.toArrayData(out)
  }
}

/** Codegen'd scaled-long dot product over two ARRAY<FLOAT> columns.
  * Replaces the `zip_with`+`aggregate` higher-order formulation, which
  * Spark evaluates interpreted (HOFs have no codegen) at ~µs/element —
  * this is a single static call into a primitive loop, ~100× faster,
  * with identical values (same IEEE products, same HALF_UP rounding,
  * same exact long accumulation). Arrays must be non-null element-wise
  * (embedding columns are) and of one length: a dimension mismatch
  * throws. */
object DotScaledExpr {
  /** Analysis-time gate shared by the float-array kernels. */
  private[functions] def requireFloatArrays(
      fn: String, inputs: Seq[Expression]): TypeCheckResult = {
    val bad = inputs.map(_.dataType).filterNot {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects ARRAY<FLOAT> inputs, got ${bad.map(_.catalogString).mkString(", ")}")
  }
}

case class DotScaledExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  // the kernel reads fixed-width elements from ArrayData: any other
  // element width would silently return garbage, so analysis must
  // reject it (the SQL registry exposes this expression to arbitrary
  // SQL text). FLOAT (raw embeddings) and DOUBLE (k-means-trained
  // centroids) are each allowed per side.
  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = Seq(left, right).map(_.dataType).filterNot {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_scaled expects ARRAY<FLOAT|DOUBLE> inputs, got ${bad.map(_.catalogString).mkString(", ")}")
  }
  private def isDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.dotScaledW(l.asInstanceOf[ArrayData], isDouble(left),
      r.asInstanceOf[ArrayData], isDouble(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.VectorKernels.dotScaledW($l, ${isDouble(left)}, $r, ${isDouble(right)})")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotScaledExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd symmetric int8 quantization: ARRAY<FLOAT> → ARRAY<BIGINT>
  * in [-127, 127] (see [[VectorKernels.quantizeInt8]]). */
case class QuantizeInt8Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    DotScaledExpr.requireFloatArrays("quantize_int8", Seq(child))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    VectorKernels.quantizeInt8(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.quantizeInt8($c)")
  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8Expr =
    copy(child = newChild)
}

/** Codegen'd exact integer dot product over two ARRAY<BIGINT> columns
  * (quantized embeddings). Same kernel shape as [[DotScaledExpr]]. */
case class DotLongExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = Seq(left, right).map(_.dataType).filterNot {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_long expects ARRAY<BIGINT> inputs, got ${bad.map(_.catalogString).mkString(", ")}")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.dotLong(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) =>
      s"graft.functions.VectorKernels.dotLong($l, $r)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLongExpr =
    copy(left = newLeft, right = newRight)
}
