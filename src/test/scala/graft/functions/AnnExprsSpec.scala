package graft.functions

import graft.SparkSpec
import graft.ops.{Quantize, RefTwins, Similarity}
import org.apache.spark.sql.functions._

/** Round-6 native ANN index-build expressions: parity with the JVM
  * kernels they wrap (the round-5 mapPartitions arithmetic) in BOTH
  * execution modes, ADC bit-parity with the HOF reference twin, and the
  * ragged-input null contracts. */
class AnnExprsSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
  private lazy val e = emb.select(col("vec_id").cast("long").as("id"),
    col("embedding").as("v"))
  private lazy val cents = Similarity.ivfCentroids(e, 16)
  private lazy val cb = Quantize.pqCodebooks(e, m = 8, ksub = 16)

  test("nearestLists matches the nearestIn kernel row-for-row, both eval modes") {
    def run() = e.select(col("id"),
        AnnExprs.nearestLists(col("v"), cents, 3).as("ls"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray, r.getSeq[Float](2).toArray))
    for (rows <- Seq(run(), withInterpretedEval(run()))) {
      rows.foreach { case (id, ls, v) =>
        ls should contain theSameElementsInOrderAs VecKernels.nearestIn(cents, v, 3)
      }
    }
  }

  test("pqEncode / pqEncodeBytes / pqLut match their kernels, both eval modes") {
    def run() = e.select(col("id"),
        AnnExprs.pqEncode(col("v"), cb).as("c"),
        AnnExprs.pqEncodeBytes(col("v"), cb).as("cb"),
        AnnExprs.pqLut(col("v"), cb).as("lut"), col("v"))
      .collect()
    for (rows <- Seq(run(), withInterpretedEval(run()))) {
      rows.foreach { r =>
        val v = r.getSeq[Float](4).toArray
        val want = VecKernels.pqCodes(v, cb)
        r.getSeq[Int](1).toArray should contain theSameElementsInOrderAs want
        r.getAs[Array[Byte]](2) should contain theSameElementsInOrderAs want.map(_.toByte)
        val lut = r.getSeq[scala.collection.Seq[Double]](3).map(_.toArray).toArray
        val wantLut = VecKernels.pqLutTable(v, cb)
        lut.length shouldBe wantLut.length
        lut.zip(wantLut).foreach { case (a, b) =>
          a.zip(b).foreach { case (x, y) =>
            assert(java.lang.Double.doubleToLongBits(x) ==
              java.lang.Double.doubleToLongBits(y))
          }
        }
      }
    }
  }

  test("adcDist is bit-identical to the element_at/aggregate HOF twin, both modes") {
    val scored = e.select(col("id"),
      AnnExprs.pqEncode(col("v"), cb).as("c"),
      AnnExprs.pqLut(col("v"), cb).as("lut"))
    def run() = scored.select(col("id"),
        AnnExprs.adcDist(col("c"), col("lut")).as("native"),
        RefTwins.adcDistColRef(col("c"), col("lut")).as("hof"))
      .collect()
    for (rows <- Seq(run(), withInterpretedEval(run()))) {
      rows.foreach { r =>
        assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(2)), s"id=${r.getLong(0)}")
      }
    }
  }

  test("adcDist nulls on length mismatch and out-of-range codes, both modes") {
    val spark2 = spark
    import spark2.implicits._
    val lut = Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))
    val rows = rddBacked(Seq(
      (1L, Seq(0, 1), lut),      // valid: 1.0 + 4.0
      (2L, Seq(0), lut),         // length mismatch → null
      (3L, Seq(0, 2), lut),      // code ≥ ksub → null
      (4L, Seq(-1, 0), lut))     // negative code → null
      .toDF("id", "c", "lut"))
    def run() = rows.select(col("id"), AnnExprs.adcDist(col("c"), col("lut")))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    for (m <- Seq(run(), withInterpretedEval(run()))) {
      m(1L) shouldBe Some(5.0)
      m(2L) shouldBe None
      m(3L) shouldBe None
      m(4L) shouldBe None
    }
  }

  test("BytesSdcDist nulls on out-of-range at-rest code bytes, both modes (ADVICE r05)") {
    val spark2 = spark
    import spark2.implicits._
    val tbl = Array(Array(Array(0.0, 1.0), Array(2.0, 3.0))) // m=1, ksub=2
    val rows = rddBacked(Seq(
      (1L, Array[Byte](1), Array[Byte](0)),   // valid: tbl(0)(1)(0) = 2.0
      (2L, Array[Byte](2), Array[Byte](0)),   // code ≥ ksub → null
      (3L, Array[Byte](-1), Array[Byte](0)))  // corrupt negative byte → null
      .toDF("id", "a", "b"))
    def run() = rows.select(col("id"), VecExprs.sdcDist(col("a"), col("b"), tbl))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    for (m <- Seq(run(), withInterpretedEval(run()))) {
      m(1L) shouldBe Some(2.0)
      m(2L) shouldBe None
      m(3L) shouldBe None
    }
  }

  test("evalBarrier preserves rows and values") {
    val df = e.select(col("id"), AnnExprs.pqEncode(col("v"), cb).as("c"))
    val plain = df.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val barred = Quantize.evalBarrier(df, "c")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    barred shouldBe plain
  }

  test("pqEncodeBytes refuses a codebook with more than 128 entries per subspace") {
    val cb129 = Quantize.pqCodebooks(e, m = 8, ksub = 129)
    an[IllegalArgumentException] should be thrownBy AnnExprs.pqEncodeBytes(col("v"), cb129)
    val cb128 = Quantize.pqCodebooks(e, m = 8, ksub = 128)
    val codes = e.select(AnnExprs.pqEncodeBytes(col("v"), cb128)).collect()
      .map(_.getAs[Array[Byte]](0))
    codes.flatten.min should be >= 0.toByte // 128 entries: every code fits a signed byte
  }

  test("pqCodebooks accepts the 8-bit int-tier geometry; byte tier still capped") {
    // 200 > 128 codebook entries is legal for the array<int> scoring tier
    val cb200 = Quantize.pqCodebooks(e, m = 8, ksub = 200)
    cb200.head.length shouldBe 200
    // the signed-byte SDC tier must refuse it
    val quant = e.select(col("id"), lit(Array[Byte](0)).as("codes"))
    an[IllegalArgumentException] should be thrownBy
      Quantize.annPqSdc(quant, cb200, "id", "codes", 1)
  }
}
