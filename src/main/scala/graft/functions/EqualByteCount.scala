package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}

/** Native Catalyst expression: number of positions where two equal-length
  * `binary` values hold the same byte — a single primitive loop inside
  * WholeStageCodegen.
  *
  * This is the comparison kernel of the MinHash signature-estimate
  * prefilter (pipeline/Dedup.minhashPairs): each document carries a
  * 64-bin one-permutation signature truncated to one byte per bin, and
  * the equal-byte fraction of a candidate pair estimates its Jaccard
  * similarity (minhash agreement ≈ J; byte truncation adds a +(1−J)/256
  * false-equality bias, negligible against the filter margin). Same
  * extension path as [[IntersectSizeSorted]] (the reference's
  * ImplementableFunction / RexImpTable analogue:
  * core/src/main/java/org/apache/calcite/schema/ImplementableFunction.java).
  *
  * Unequal-length inputs throw: a silent common-prefix comparison would
  * bias the Jaccard estimate if signature widths ever diverged (e.g. a
  * config change on one side of a join). Callers pass fixed 64-byte
  * signatures today, so the hard failure is free insurance (r11 ADVICE).
  */
case class EqualByteCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"equal_byte_count expects (binary, binary), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "equal_byte_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    EqualByteCount.equalBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.EqualByteCount.equalBytes($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object EqualByteCount {
  import org.apache.spark.sql.GraftBridge
  /** Column-level API: `equal_byte_count(a, b)`. */
  def equal_byte_count(a: Column, b: Column): Column =
    GraftBridge.column(
      EqualByteCount(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Positions where `x` and `y` hold the same byte; unequal lengths
    * throw. Called from interpreted eval, generated code and the
    * broadcast-gram tasks. */
  def equalBytes(x: Array[Byte], y: Array[Byte]): Int = {
    if (x.length != y.length) throw lengthMismatch(x.length, y.length)
    var i = 0; var c = 0
    while (i < x.length) { if (x(i) == y(i)) c += 1; i += 1 }
    c
  }

  def lengthMismatch(a: Int, b: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"equal_byte_count: signature widths differ ($a vs $b bytes); " +
        "comparing a common prefix would silently bias the Jaccard estimate")
}
