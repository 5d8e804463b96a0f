package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Shared shape of the three dot expressions — native Catalyst
  * expressions for embedding math, the extension tier above any UDF:
  * inside whole-stage codegen the generated code calls the kernel
  * directly on the columnar input, so vector scoring stays in the same
  * generated function as the surrounding join/filter — no HOF
  * interpreter, no row codec, no boxing. Each dot has one kernel in
  * [[VecKernels]], which both eval modes call.
  *
  * Contract: null-free, equal-length inputs (embedding or code
  * columns). A null input yields null (BinaryExpression null-safety), and
  * a LENGTH MISMATCH yields null too — matching the HOF twin, where
  * `zip_with` pads the shorter array with nulls and the `aggregate` fold
  * then returns null — rather than a plausible-looking truncated dot. */
private[functions] trait VecDotExpr extends BinaryExpression {
  /** the [[VecKernels]] method over two inputs of equal length */
  protected def kernel: String
  /** the type both inputs must have, and its name in the type-check error */
  protected def accepts(dt: DataType): Boolean
  protected def inputName: String
  /** Java source for an input's length */
  protected def lengthOf(v: String): String

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (accepts(left.dataType) && accepts(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two $inputName arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if (${lengthOf(a)} != ${lengthOf(b)}) ${ev.isNull} = true;
         |else ${ev.value} = ${VecKernels.Name}.$kernel($a, $b);""".stripMargin)
}

/** [[VecKernels.floatDot]] over `array<float>`: the same left-to-right
  * IEEE-754 accumulation as the `aggregate(zip_with(...))` higher-order
  * fold (measured ~45 µs/pair in round 2), so results are bit-identical
  * to it (asserted in VecExprsSpec / SimilaritySpec). */
case class FloatVecDot(left: Expression, right: Expression) extends VecDotExpr {
  override protected def kernel: String = "floatDot"
  override protected def accepts(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def inputName: String = "array<float>"
  override protected def lengthOf(v: String): String = s"$v.numElements()"
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null else VecKernels.floatDot(x, y)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[FloatVecDot]]'s integer sibling for quantized-code arrays
  * (`array<long>`, e.g. [[graft.ops.Quantize]] SQ8 codes): Σ a_i·b_i in
  * long arithmetic, exact by definition; the caller guarantees products
  * and sums fit a Long (SQ8: |code| ≤ 127). */
case class LongVecDot(left: Expression, right: Expression) extends VecDotExpr {
  override protected def kernel: String = "longDot"
  override protected def accepts(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override protected def inputName: String = "array<bigint>"
  override protected def lengthOf(v: String): String = s"$v.numElements()"
  override def dataType: DataType = LongType
  override def prettyName: String = "long_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null else VecKernels.longDot(x, y)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product DIRECTLY over two BINARY SQ8 code columns (signed
  * bytes widened to long) — quantized scoring straight off the at-rest
  * layout, no array materialization per row. */
case class BytesVecDot(left: Expression, right: Expression) extends VecDotExpr {
  override protected def kernel: String = "bytesDot"
  override protected def accepts(dt: DataType): Boolean = dt == BinaryType
  override protected def inputName: String = "binary"
  override protected def lengthOf(v: String): String = s"$v.length"
  override def dataType: DataType = LongType
  override def prettyName: String = "bytes_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) null else VecKernels.bytesDot(x, y)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Shared shape of the unary expressions over an `array<float>` embedding:
  * the type check, and generated code that is one static call
  * `VecKernels.kernel(input[, kernelArgs])`. */
private[functions] trait FloatVecKernelExpr extends UnaryExpression {
  /** the [[VecKernels]] method the expression evaluates */
  protected def kernel: String
  /** Java source of the kernel's arguments after the input, each led by
    * ", " (tables are added to `ctx` as reference objects) */
  protected def kernelArgs(ctx: CodegenContext): String = ""

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<float> argument, got ${dt.simpleString}")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernelArgs(ctx)
    defineCodeGen(ctx, ev, a => s"${VecKernels.Name}.$kernel($a$args)")
  }
}

/** SQ8 scalar quantization of an `array<float>` embedding to `array<long>`
  * codes ([[VecKernels.sq8Codes]]): scale = max(max|v_i|, 1e-30)/127,
  * then code_i = floor(v_i/scale + 0.5) — the exact IEEE-754 op sequence
  * of the column-HOF spelling the DuckDB oracle replays, but with the
  * scale computed ONCE instead of re-evaluating the array_max scan inside
  * the per-element lambda (O(d) vs O(d²) per vector — invisible at the
  * gated 16 dims, dominant at 768+). Bit-parity with the HOF spelling
  * asserted in QuantizeSpec. Input contract: elements FINITE (see
  * [[VecKernels.sq8Scale]]); the same holds for [[FloatVecSq8Bytes]],
  * which shares the scale scan. */
case class FloatVecSq8(child: Expression) extends FloatVecKernelExpr {
  override protected def kernel: String = "sq8Codes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "float_vec_sq8"
  override protected def nullSafeEval(a: Any): Any =
    VecKernels.sq8Codes(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[FloatVecSq8]]'s AT-REST sibling ([[VecKernels.sq8Bytes]]): the SQ8
  * codes packed as BINARY, one signed byte per dimension (codes are in
  * [-127, 127] by construction), so a parquet embedding table stores d
  * bytes per vector instead of 4d float bytes. */
case class FloatVecSq8Bytes(child: Expression) extends FloatVecKernelExpr {
  override protected def kernel: String = "sq8Bytes"
  override def dataType: DataType = BinaryType
  override def prettyName: String = "float_vec_sq8_bytes"
  override protected def nullSafeEval(a: Any): Any =
    VecKernels.sq8Bytes(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** PQ symmetric-distance (SDC) scoring directly over two BINARY code
  * columns ([[VecKernels.sdcDist]]): dist = Σ_s tbl[s][a_s][b_s], the
  * per-subspace codebook-pair L2 table flattened to one double array
  * (`flat((s·ksub + a_s)·ksub + b_s)`) and folded left to right in
  * subspace order — the fold the HOF spelling computes, inside
  * whole-stage codegen (the HOF pays an interpreted lambda + three
  * nested `element_at`s per subspace per PAIR on the hottest path of a
  * PQ self-join). The table rides along as a codegen reference object —
  * m·ksub² doubles, broadcast-trivial (2 K at the gate geometry). NULL
  * on a length mismatch or a code outside [0, ksub)
  * ([[VecKernels.sdcInRange]]): a corrupt or codebook-mismatched at-rest
  * byte gives null, not an index-out-of-bounds task crash. */
case class BytesSdcDist(left: Expression, right: Expression,
                        flat: Array[Double], ksub: Int)
  extends BinaryExpression {

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bytes_sdc_dist needs two binary arguments, got ${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "bytes_sdc_dist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (VecKernels.sdcInRange(x, y, flat, ksub)) VecKernels.sdcDist(x, y, flat, ksub) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("sdcTbl", flat, "double[]")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if (!${VecKernels.Name}.sdcInRange($a, $b, $tbl, $ksub)) ${ev.isNull} = true;
         |else ${ev.value} = ${VecKernels.Name}.sdcDist($a, $b, $tbl, $ksub);""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All `bands` SRP-LSH band keys of an `array<float>` embedding in ONE
  * expression evaluation ([[VecKernels.srpKeys]]): key b packs
  * `rowsPerBand` sign bits of the deterministic hyperplane projections
  * for planes [b·rowsPerBand, (b+1)·rowsPerBand), with the op order of
  * the column-HOF band key the DuckDB oracle replays (bit-parity
  * asserted in SimilaritySpec). Signature generation stays in the same
  * generated function as the projection: no HOF interpreter per (vector,
  * plane) and no mapPartitions row codec. Output `array<long>` of length
  * `bands`. */
case class FloatVecSrpKeys(child: Expression, bands: Int, rowsPerBand: Int)
  extends FloatVecKernelExpr {
  override protected def kernel: String = "srpKeys"
  override protected def kernelArgs(ctx: CodegenContext): String =
    s", $bands, $rowsPerBand"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "float_vec_srp_keys"
  override protected def nullSafeEval(a: Any): Any =
    VecKernels.srpKeys(a.asInstanceOf[ArrayData], bands, rowsPerBand)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VecExprs {
  /** dot(a, b) over `array<float>` columns as a codegen'd native
    * expression — bit-identical to the HOF fold. */
  def dotF(a: Column, b: Column): Column =
    Bridge.column(FloatVecDot(Bridge.expression(a), Bridge.expression(b)))

  /** L2 norm via [[dotF]] (sqrt of the same fold — bit order preserved). */
  def normF(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dotF(a, a))

  /** integer dot over `array<long>` code columns ([[LongVecDot]]) */
  def dotL(a: Column, b: Column): Column =
    Bridge.column(LongVecDot(Bridge.expression(a), Bridge.expression(b)))

  /** SQ8 codes of an `array<float>` column ([[FloatVecSq8]]): one scale
    * scan per row, bit-identical to the column-HOF twin. */
  def sq8(a: Column): Column =
    Bridge.column(FloatVecSq8(Bridge.expression(a)))

  /** All SRP-LSH band keys of an `array<float>` column in one codegen'd
    * pass ([[FloatVecSrpKeys]]) — bit-identical to the column-HOF band key. */
  def srpKeys(a: Column, bands: Int, rowsPerBand: Int): Column =
    Bridge.column(FloatVecSrpKeys(Bridge.expression(a), bands, rowsPerBand))

  /** SQ8 codes packed as binary — one byte per dim ([[FloatVecSq8Bytes]]). */
  def sq8Bytes(a: Column): Column =
    Bridge.column(FloatVecSq8Bytes(Bridge.expression(a)))

  /** integer dot directly over binary SQ8 code columns ([[BytesVecDot]]). */
  def dotB(a: Column, b: Column): Column =
    Bridge.column(BytesVecDot(Bridge.expression(a), Bridge.expression(b)))

  /** PQ symmetric distance directly over binary code columns
    * ([[BytesSdcDist]]); `tbl` is the m×ksub×ksub SDC table
    * ([[graft.ops.Quantize.pqSdcTable]]). */
  def sdcDist(a: Column, b: Column, tbl: Array[Array[Array[Double]]]): Column = {
    val ksub = tbl.head.length
    val flat = tbl.flatMap(_.flatMap(_.toSeq))
    Bridge.column(BytesSdcDist(Bridge.expression(a), Bridge.expression(b), flat, ksub))
  }
}
