package graft.functions

import graft.geo.CellIndex
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** [[CellIndex.cellRange]] over four long bounds as a native expression:
  * `eval` and generated code both call the kernel and copy its ids into one
  * array value, so no lambda runs interpreted. Null when a bound is null; an
  * inverted range gives an empty array. Built by [[CellIndex.cellRangeCol]]. */
case class CellRange(first: Expression, second: Expression, third: Expression, fourth: Expression,
                     level: Int) extends QuaternaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"cell_range needs four long bounds, got ${children.map(_.dataType.simpleString)}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cell_range"

  override protected def nullSafeEval(c0: Any, c1: Any, r0: Any, r1: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(CellIndex.cellRange(level,
      c0.asInstanceOf[Long], c1.asInstanceOf[Long], r0.asInstanceOf[Long], r1.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c0, c1, r0, r1) => s"${classOf[UnsafeArrayData].getName}.fromPrimitiveArray(" +
      s"${classOf[CellIndex].getName}.cellRange($level, $c0, $c1, $r0, $r1))")

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}
