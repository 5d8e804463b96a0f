package graft.functions

import graft.SparkSpec
import graft.ops.RefTwins
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** passes its input through in generated code; throws in `eval` */
private case class EvalProbe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override protected def nullSafeEval(a: Any): Any =
    throw new IllegalStateException("EvalProbe ran eval")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => a)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native codegen'd float-vector dot: bit parity with the HOF fold in
  * BOTH execution modes, and null/degenerate behavior. */
class VecExprsSpec extends SparkSpec {

  private lazy val vecs = {
    val spark2 = spark
    import spark2.implicits._
    rddBacked((0 until 500).map { i =>
      val a = Array.tabulate(16)(d => math.sin(i * 16 + d + 1).toFloat)
      val b = Array.tabulate(16)(d => math.cos(i * 7 + d * 3).toFloat)
      (i.toLong, a, b)
    }.toDF("id", "a", "b"))
  }

  test("dotF is bit-identical to the aggregate/zip_with HOF fold") {
    val rows = vecs.select(col("id"),
        VecExprs.dotF(col("a"), col("b")).as("native"),
        RefTwins.dot(col("a"), col("b")).as("hof"))
      .collect()
    rows.length shouldBe 500
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"id=${r.getLong(0)}")
    }
  }

  test("interpreted eval matches generated code") {
    val on = vecs.select(VecExprs.dotF(col("a"), col("b"))).collect().map(_.getDouble(0))
    val off = withInterpretedEval(
      vecs.select(VecExprs.dotF(col("a"), col("b"))).collect().map(_.getDouble(0)))
    on.zip(off).foreach { case (x, y) =>
      assert(java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y))
    }
  }

  test("dotL matches the integer HOF fold in both eval modes") {
    val spark2 = spark
    import spark2.implicits._
    val codes = rddBacked((0 until 300).map { i =>
      (i.toLong, Array.tabulate(16)(d => ((i * 31 + d * 7) % 255 - 127).toLong),
        Array.tabulate(16)(d => ((i * 13 + d * 11) % 255 - 127).toLong))
    }.toDF("id", "a", "b"))
    def hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    val on = codes.select(VecExprs.dotL(col("a"), col("b")), hof).collect()
    on.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    val off = withInterpretedEval(
      codes.select(VecExprs.dotL(col("a"), col("b"))).collect().map(_.getLong(0)))
    on.map(_.getLong(0)).zip(off).foreach { case (x, y) => assert(x == y) }
  }

  test("null array yields null; empty arrays yield 0.0; normF matches") {
    val spark2 = spark
    import spark2.implicits._
    val df = rddBacked(Seq(
      (1L, Some(Array(1f, 2f)), Some(Array(3f, 4f))),
      (2L, None, Some(Array(3f, 4f))),
      (3L, Some(Array.empty[Float]), Some(Array.empty[Float]))
    ).toDF("id", "a", "b"))
    val got = df.select(col("id"), VecExprs.dotF(col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    got shouldBe Map(1L -> Some(11.0), 2L -> None, 3L -> Some(0.0))
    val n = df.where(col("id") === 1).select(VecExprs.normF(col("a"))).head().getDouble(0)
    n shouldBe math.sqrt(5.0)
  }

  test("length mismatch yields null (matching zip_with's null-padding), both modes") {
    val spark2 = spark
    import spark2.implicits._
    val f = rddBacked(Seq((1L, Array(1f, 2f, 3f), Array(1f, 2f))).toDF("id", "a", "b"))
    val l = rddBacked(Seq((1L, Array(1L, 2L, 3L), Array(1L, 2L))).toDF("id", "a", "b"))
    def hofF = aggregate(zip_with(col("a"), col("b"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    def check(): Unit = {
      val rf = f.select(VecExprs.dotF(col("a"), col("b")), hofF).head()
      assert(rf.isNullAt(0) && rf.isNullAt(1)) // native == HOF twin
      assert(l.select(VecExprs.dotL(col("a"), col("b"))).head().isNullAt(0))
    }
    check()
    withInterpretedEval(check())
  }

  test("withInterpretedEval runs expressions through eval, not generated code") {
    val spark2 = spark
    import spark2.implicits._
    val ids = rddBacked((0L until 10L).toDF("id"))
    def run() = ids.select(Bridge.column(EvalProbe(Bridge.expression(col("id")))))
      .collect().map(_.getLong(0))
    run() shouldBe (0L until 10L).toArray
    val e = intercept[Exception](withInterpretedEval(run()))
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("EvalProbe ran eval")) shouldBe true
    run() shouldBe (0L until 10L).toArray // both settings restored
  }

  test("array dot and norm kernels are bit-identical to floatDot, with -0.0 and subnormals") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val specials = Array(-0.0f, 0.0f, Float.MinPositiveValue, -Float.MinPositiveValue,
      1.0e-39f, -3.5e-40f, 1.0f, -2.5f, 3.0e38f)
    val rnd = new scala.util.Random(20261019L)
    def draw(n: Int) = Array.fill(n) {
      if (rnd.nextInt(3) == 0) specials(rnd.nextInt(specials.length))
      else (rnd.nextGaussian() * math.pow(10, rnd.nextInt(12) - 6)).toFloat
    }
    val cases = Seq((Array(-0.0f, -0.0f), Array(1.0f, -0.0f)),
      (Array(Float.MinPositiveValue), Array(Float.MinPositiveValue))) ++
      (0 until 300).map { _ => val n = rnd.nextInt(24); (draw(n), draw(n)) }
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    cases.foreach { case (x, y) =>
      val (ux, uy) = (UnsafeArrayData.fromPrimitiveArray(x), UnsafeArrayData.fromPrimitiveArray(y))
      withClue(s"${x.mkString(",")} · ${y.mkString(",")}") {
        bits(VecKernels.dot(x, y)) shouldBe bits(VecKernels.floatDot(ux, uy))
        bits(VecKernels.norm(x)) shouldBe bits(math.sqrt(VecKernels.floatDot(ux, ux)))
      }
    }
  }
}
