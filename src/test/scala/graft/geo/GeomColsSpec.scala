package graft.geo

import graft.SparkSpec
import graft.ops.RefTwins
import org.apache.spark.sql.functions._

import java.lang.Double.doubleToRawLongBits

/** The shoelace and bbox ring kernels against their column forms in
  * [[graft.ops.RefTwins]]. */
class GeomColsSpec extends SparkSpec {

  /** closed rings (first vertex repeated): star-shaped, so concave, with
    * random radii around a centre that may be negative, either winding,
    * on integer or fractional coordinates */
  private lazy val rings: Seq[Array[Double]] = {
    val rnd = new scala.util.Random(20240611L)
    (0 until 400).map { k =>
      val n = 3 + rnd.nextInt(14)
      val (cx, cy) = (rnd.nextDouble() * 2000 - 1000, rnd.nextDouble() * 2000 - 1000)
      val verts = (0 until n).map { i =>
        val a = 2 * math.Pi * i / n
        val r = 1 + rnd.nextDouble() * 300
        val (x, y) = (cx + r * math.cos(a), cy + r * math.sin(a))
        if (k % 3 == 0) (math.floor(x), math.floor(y)) else (x, y)
      }
      val wound = if (k % 2 == 0) verts else verts.reverse
      (wound :+ wound.head).flatMap { case (x, y) => Seq(x, y) }.toArray
    }
  }

  test("shoelace and bbox are bit-identical to shoelaceCol and bboxCol") {
    val spark2 = spark
    import spark2.implicits._
    val got = rddBacked(rings.zipWithIndex.map { case (r, i) => (i, r) }.toDF("i", "seg"))
      .select(col("i"), RefTwins.shoelaceCol(col("seg")), RefTwins.bboxCol(col("seg")))
      .collect()
    got.length shouldBe rings.length
    got.foreach { r =>
      val seg = rings(r.getInt(0))
      assert(doubleToRawLongBits(GeomCols.shoelace(seg)) == doubleToRawLongBits(r.getDouble(1)),
        seg.mkString(","))
      GeomCols.bbox(seg).map(doubleToRawLongBits).toSeq shouldBe
        r.getSeq[Double](2).map(doubleToRawLongBits)
    }
  }

  test("shoelace and bbox on a hand-checked concave ring") {
    // an L of area 3: (0,0) (2,0) (2,1) (1,1) (1,2) (0,2), closed, clockwise
    val l = Array(0.0, 0, 0, 2, 1, 2, 1, 1, 2, 1, 2, 0, 0, 0)
    GeomCols.shoelace(l) shouldBe 3.0
    GeomCols.bbox(l).toSeq shouldBe Seq(0.0, 0.0, 2.0, 2.0)
  }
}
