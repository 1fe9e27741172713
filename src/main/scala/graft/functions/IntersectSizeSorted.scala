package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: |A ∩ B| for two SORTED, duplicate-free
  * `array<bigint>` columns via a single merge scan — O(|A|+|B|), no
  * intermediate array, no per-row hash set, primitive `long` comparisons
  * inside WholeStageCodegen.
  *
  * This is the hot kernel of every pairwise set-similarity operator
  * (n-gram Jaccard, MinHash verification): `size(array_intersect(a, b))`
  * builds an OpenHashSet and materializes the intersection array per
  * candidate pair, which dominates the runtime once pair counts reach
  * millions. Same extension path as [[DotProduct]] (the reference's
  * ImplementableFunction / RexImpTable analogue:
  * core/src/main/java/org/apache/calcite/schema/ImplementableFunction.java).
  *
  * Caller contract: both inputs ascending-sorted and distinct
  * (`array_sort(array_distinct(...))`); the result is then exactly
  * `size(array_intersect(a, b))`.
  */
case class IntersectSizeSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"intersect_size_sorted expects (array<bigint>, array<bigint>), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "intersect_size_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectSizeSorted.intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.IntersectSizeSorted.intersectSize($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectSizeSorted {
  import org.apache.spark.sql.GraftBridge

  /** The merge scan: |x ∩ y| of two ascending, distinct arrays. Called
    * from interpreted eval, generated code and the broadcast-gram tasks. */
  def intersectSize(x: ArrayData, y: ArrayData): Int = {
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
  /** Column-level API: `intersect_size_sorted(a, b)`. */
  def intersect_size_sorted(a: Column, b: Column): Column =
    GraftBridge.column(
      IntersectSizeSorted(GraftBridge.expression(a), GraftBridge.expression(b)))
}
