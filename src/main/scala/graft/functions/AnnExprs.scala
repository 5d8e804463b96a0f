package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native expression tier for the ANN index-build kernels (round-6
  * optimization): the IVF list assignment, PQ encode and PQ LUT
  * projections previously ran as `mapPartitions` row kernels — every
  * corpus row paid the full row codec (DeserializeToObject → Scala kernel
  * → SerializeFromObject, three extra operators per side in the round-5
  * q63/q70/q71 plans) and the stage fell out of whole-stage codegen. Each
  * expression here is one call of its [[VecKernels]] kernel
  * (`nearestIn`, `pqCodes`, `pqLutTable`, `adcDist`), made by
  * `nullSafeEval` and, as a static call, by the generated code —
  * identical arithmetic in both eval modes, no row codec, and the
  * projection fuses into the surrounding scan/join stage.
  *
  * The centroid/codebook table rides along as one codegen reference
  * object (same pattern as [[BytesSdcDist]]'s SDC table): nLists·dim
  * floats — broadcast-trivial at any realistic geometry (16×64 at the
  * gate; think 4096×768 ≈ 12 MB at production scale, shipped once per
  * executor with the task binary, not per row). */

/** `array<int>` of the `m` nearest IVF list ids (exact cosine desc, list
  * asc — [[VecKernels.nearestIn]]). */
case class FloatVecNearestLists(child: Expression,
                                cents: Array[(Int, Array[Float], Double)],
                                m: Int)
  extends FloatVecKernelExpr {
  override protected def kernel: String = "nearestLists"
  override protected def kernelArgs(ctx: CodegenContext): String =
    s", ${ctx.addReferenceObj("cents", cents, "scala.Tuple3[]")}, $m"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "float_vec_nearest_lists"
  override protected def nullSafeEval(a: Any): Any =
    VecKernels.nearestLists(a.asInstanceOf[ArrayData], cents, m)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ encode: `array<int>` of m per-subspace argmin-L2 codes
  * ([[VecKernels.pqCodes]]). */
case class FloatVecPqEncode(child: Expression, cb: Array[Array[Array[Float]]])
  extends FloatVecKernelExpr {
  override protected def kernel: String = "pqEncode"
  override protected def kernelArgs(ctx: CodegenContext): String =
    s", ${ctx.addReferenceObj("codebook", cb, "float[][][]")}"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "float_vec_pq_encode"
  override protected def nullSafeEval(a: Any): Any =
    VecKernels.pqEncode(a.asInstanceOf[ArrayData], cb)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ encode to the BINARY at-rest layout: one signed byte per subspace
  * (same kernel as [[FloatVecPqEncode]], packed). A codebook with more
  * than 128 entries per subspace would wrap codes to negative bytes, so
  * it is refused when the expression is built. */
case class FloatVecPqEncodeBytes(child: Expression, cb: Array[Array[Array[Float]]])
  extends FloatVecKernelExpr {
  require(cb.forall(_.length <= 128),
    s"ksub=${cb.map(_.length).max} exceeds the signed-byte code range of the binary layout")
  override protected def kernel: String = "pqEncodeBytes"
  override protected def kernelArgs(ctx: CodegenContext): String =
    s", ${ctx.addReferenceObj("codebook", cb, "float[][][]")}"
  override def dataType: DataType = BinaryType
  override def prettyName: String = "float_vec_pq_encode_bytes"
  override protected def nullSafeEval(a: Any): Any =
    VecKernels.pqEncodeBytes(a.asInstanceOf[ArrayData], cb)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-query ADC LUT: `array<array<double>>` of m × ksub exact subspace
  * L2 distances ([[VecKernels.pqLutTable]]). */
case class FloatVecPqLut(child: Expression, cb: Array[Array[Array[Float]]])
  extends FloatVecKernelExpr {
  override protected def kernel: String = "pqLut"
  override protected def kernelArgs(ctx: CodegenContext): String =
    s", ${ctx.addReferenceObj("codebook", cb, "float[][][]")}"
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "float_vec_pq_lut"
  override protected def nullSafeEval(a: Any): Any =
    VecKernels.pqLut(a.asInstanceOf[ArrayData], cb)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC distance: Σ_s lut[s][codes_s] ([[VecKernels.adcDist]]) — the
  * per-pair scoring loop of [[graft.ops.Quantize.annPq]]/
  * [[graft.ops.Quantize.annIvfPq]], inside whole-stage codegen. Replaces
  * the `aggregate(zip_with(codes, lut, (c,l) -> element_at(l, c+1)))`
  * higher-order spelling (a CodegenFallback interpreted per PAIR on the
  * hottest path of the PQ join): the same left-to-right double fold from
  * 0.0 in subspace order, so distances are bit-identical. NULL on a
  * length mismatch or an out-of-range code ([[VecKernels.adcInRange]],
  * the ragged-input contract of every native expression in this tier). */
case class IntVecAdcDist(left: Expression, right: Expression)
  extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"int_vec_adc_dist needs (array<int>, array<array<double>>), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "int_vec_adc_dist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val lut = b.asInstanceOf[ArrayData]
    if (VecKernels.adcInRange(codes, lut)) VecKernels.adcDist(codes, lut) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if (!${VecKernels.Name}.adcInRange($a, $b)) ${ev.isNull} = true;
         |else ${ev.value} = ${VecKernels.Name}.adcDist($a, $b);""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object AnnExprs {
  /** `m` nearest IVF list ids of an `array<float>` column. */
  def nearestLists(v: Column, cents: Array[(Int, Array[Float], Double)],
                   m: Int): Column =
    Bridge.column(FloatVecNearestLists(Bridge.expression(v), cents, m))

  /** single nearest IVF list id (the corpus-assignment projection) */
  def nearestList(v: Column, cents: Array[(Int, Array[Float], Double)]): Column =
    org.apache.spark.sql.functions.element_at(nearestLists(v, cents, 1), 1)

  /** PQ codes (`array<int>`) of an `array<float>` column. */
  def pqEncode(v: Column, cb: Array[Array[Array[Float]]]): Column =
    Bridge.column(FloatVecPqEncode(Bridge.expression(v), cb))

  /** PQ codes packed as BINARY (at-rest layout); refuses ksub > 128 with
    * an IllegalArgumentException. */
  def pqEncodeBytes(v: Column, cb: Array[Array[Array[Float]]]): Column =
    Bridge.column(FloatVecPqEncodeBytes(Bridge.expression(v), cb))

  /** per-query ADC LUT (`array<array<double>>`). */
  def pqLut(v: Column, cb: Array[Array[Array[Float]]]): Column =
    Bridge.column(FloatVecPqLut(Bridge.expression(v), cb))

  /** ADC distance Σ_s lut[s][codes_s] over (codes, lut) columns. */
  def adcDist(codes: Column, lut: Column): Column =
    Bridge.column(IntVecAdcDist(Bridge.expression(codes), Bridge.expression(lut)))
}
