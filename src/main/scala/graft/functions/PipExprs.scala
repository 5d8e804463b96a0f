package graft.functions

import graft.ops.PipIndex
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** probe kernel: reads the broadcast [[PipIndex]] once per copy, i.e. per task */
final class PipProbeKernel(bc: Broadcast[PipIndex]) extends Serializable {
  @transient private lazy val index = bc.value
  def apply(x: Double, y: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(index.covering(x, y))
}

/** The flagship PIP probe as a native expression: generated code passes
  * PRIMITIVE doubles (a ScalaUDF boxed both per scanned row) and gets the
  * covering ids of [[PipIndex.covering]] as unboxed array data. */
case class PipProbe(left: Expression, right: Expression, bc: Broadcast[PipIndex])
  extends BinaryExpression {

  @transient private lazy val kernel = new PipProbeKernel(bc)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pip_probe needs two double arguments, got ${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pip_probe"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel.apply(a.asInstanceOf[Double], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kern = ctx.addReferenceObj("pipKern", new PipProbeKernel(bc), classOf[PipProbeKernel].getName)
    nullSafeCodeGen(ctx, ev, (x, y) => s"${ev.value} = $kern.apply($x, $y);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PipExprs {
  /** ids of the polygons of the broadcast index that cover the point */
  def pipProbe(x: Column, y: Column, bc: Broadcast[PipIndex]): Column =
    Bridge.column(PipProbe(Bridge.expression(x), Bridge.expression(y), bc))
}
