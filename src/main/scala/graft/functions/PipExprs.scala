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
import org.apache.spark.unsafe.Platform

/** Probe kernel: reads the broadcast [[PipIndex]] once per copy, i.e. per task.
  * Each call returns a fresh `UnsafeArrayData` of exactly the covering ids, in
  * layer order: the index writes them, and the element count, into the value's
  * own backing words (the header is the count and one null word per 64
  * elements). No buffer is reused across rows, so a consumer may keep the
  * value (`max`, `first`, `collect_list`). Every point that no polygon covers
  * gets the one shared, immutable [[PipProbeKernel.NoHits]]. */
final class PipProbeKernel(bc: Broadcast[PipIndex]) extends Serializable {
  @transient private lazy val index = bc.value
  def apply(x: Double, y: Double): ArrayData = {
    val words = index.covering(x, y, PipProbeKernel.headerWords)
    if (words == null) return PipProbeKernel.NoHits
    val a = new UnsafeArrayData
    a.pointTo(words, Platform.LONG_ARRAY_OFFSET, 8 * words.length)
    a
  }
}

object PipProbeKernel {
  /** the probe of a point that no polygon covers */
  val NoHits: ArrayData = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
  /** words of an `UnsafeArrayData` header over `m` elements */
  private val headerWords: Int => Int = m => UnsafeArrayData.calculateHeaderPortionInBytes(m) / 8
}

/** The flagship PIP probe as a native expression: generated code passes
  * PRIMITIVE doubles (a ScalaUDF boxed both per scanned row) and gets the
  * covering ids of [[PipIndex.covering]] as unboxed array data, a fresh value
  * per covered point and one shared empty value otherwise ([[PipProbeKernel]]). */
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
