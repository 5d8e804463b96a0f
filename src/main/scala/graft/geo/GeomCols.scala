package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

/** UDF-free column expressions over flat-segmentation polygon arrays
  * `[x1,y1,x2,y2,…]` (the COCO layout, reference coco.py:258), built from
  * higher-order functions so an engine without Scala UDFs (the DuckDB
  * oracle) can replay them. They do not run as generated code: Spark's
  * `ArrayAggregate` is `CodegenFallback`, so each `aggregate` lambda is
  * evaluated row by row through `eval`, inside a whole-stage stage or not.
  * [[shoelace]] and [[bbox]] are the same sums on one ring, for code that
  * already holds the ring; their values are bit-identical to the columns'.
  */
object GeomCols {

  private def xAt(seg: Column, i: Column): Column =
    element_at(seg, (i * 2 + 1).cast("int"))
  private def yAt(seg: Column, i: Column): Column =
    element_at(seg, (i * 2 + 2).cast("int"))

  /** Shoelace polygon area (reference `Polygon(...).area`, coco.py:259;
    * SURVEY.md P9) — `aggregate` cross-product sum over the vertex array. */
  def shoelaceCol(seg: Column): Column = {
    val n = (size(seg) / 2).cast("long")
    val signed = aggregate(
      sequence(lit(0L), n - 1),
      lit(0.0),
      (acc, i) => {
        val j = (i + 1) % n
        acc + (xAt(seg, i) * yAt(seg, j) - xAt(seg, j) * yAt(seg, i))
      })
    abs(signed) / 2.0
  }

  /** COCO bbox `[min_x, min_y, width, height]` from polygon bounds
    * (reference coco.py:221-241; SURVEY.md P8). */
  def bboxCol(seg: Column): Column = {
    val n = (size(seg) / 2).cast("long")
    def reduceBy(f: (Column, Column) => Column, pick: (Column, Column) => Column) =
      aggregate(sequence(lit(1L), n - 1), pick(seg, lit(0L)),
        (acc, i) => f(acc, pick(seg, i)))
    val minX = reduceBy(least(_, _), xAt)
    val minY = reduceBy(least(_, _), yAt)
    val maxX = reduceBy(greatest(_, _), xAt)
    val maxY = reduceBy(greatest(_, _), yAt)
    array(minX, minY, maxX - minX, maxY - minY)
  }

  /** [[shoelaceCol]] on one ring of n ≥ 1 vertices: the same signed sum of
    * xᵢ·y₍ᵢ₊₁₎%ₙ − x₍ᵢ₊₁₎%ₙ·yᵢ in vertex order from 0.0, then `abs / 2.0`. */
  def shoelace(seg: Array[Double]): Double = {
    val n = seg.length / 2
    var signed = 0.0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      signed += seg(2 * i) * seg(2 * j + 1) - seg(2 * j) * seg(2 * i + 1)
      i += 1
    }
    math.abs(signed) / 2.0
  }

  /** [[bboxCol]] on one ring of n ≥ 2 vertices: min and max in vertex order,
    * a vertex replacing the running value only when Spark's `least` /
    * `greatest` would (its double ordering: -0.0 equals 0.0, NaN is
    * largest). */
  def bbox(seg: Array[Double]): Array[Double] = {
    val n = seg.length / 2
    var minX = seg(0); var minY = seg(1); var maxX = minX; var maxY = minY
    var i = 1
    while (i < n) {
      val x = seg(2 * i); val y = seg(2 * i + 1)
      if (SQLOrderingUtil.compareDoubles(x, minX) < 0) minX = x
      if (SQLOrderingUtil.compareDoubles(y, minY) < 0) minY = y
      if (SQLOrderingUtil.compareDoubles(x, maxX) > 0) maxX = x
      if (SQLOrderingUtil.compareDoubles(y, maxY) > 0) maxY = y
      i += 1
    }
    Array(minX, minY, maxX - minX, maxY - minY)
  }

  /** Marginal-bbox predicate, replicated bug-for-bug from the reference
    * (coco.py:347-368; SURVEY.md P15 quirk): with margin>0 the flag fires
    * when the bbox does NOT hug the tile's outer band — which marks nearly
    * every annotation; with margin==0 the guard short-circuits to false. */
  def marginalCol(xMin: Column, yMin: Column, w: Column, h: Column,
                  tileW: Column, tileH: Column, marginPct: Column): Column = {
    val mW = tileW * marginPct / 100.0
    val mH = tileH * marginPct / 100.0
    val xMax = xMin + w
    val yMax = yMin + h
    (marginPct > 0) && (
      xMin < (tileW - mW) || xMax > (tileW + mW) ||
      yMin < (tileH - mH) || yMax > (tileH + mH))
  }
}
