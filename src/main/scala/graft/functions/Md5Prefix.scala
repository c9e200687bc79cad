package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd md5-prefix hash of a STRING column: the first 32 or 60
  * bits of the digest as a BIGINT. Replaces the composed
  * `conv(substring(md5(c), 1, n), 16, 10)` form, which allocates a
  * 32-char hex string per value and re-parses it — per-TOKEN work in
  * the hashed-feature/ngram/minhash families (q180 hashes every token
  * of every document through this). Values are bit-identical to the
  * composed form and to the DuckDB oracle's
  * `('0x' || substr(md5(x), 1, n))::BIGINT`: the first 8 hex digits
  * are the first 4 digest bytes unsigned; the first 15 are the first 7
  * bytes plus the high nibble of the 8th ([[Md5Kernel.md5Prefix]]). */
case class Md5PrefixExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits == 32 || bits == 60, s"md5_prefix bits must be 32|60, got $bits")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_prefix expects STRING input, got ${t.catalogString}")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    Md5Kernel.md5Prefix(input.asInstanceOf[UTF8String].getBytes, bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5Kernel.md5Prefix($c.getBytes(), $bits)")
  override protected def withNewChildInternal(newChild: Expression): Md5PrefixExpr =
    copy(child = newChild)
}
