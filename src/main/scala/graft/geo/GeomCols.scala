package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._

/** Polygon measures over flat-segmentation rings `[x1,y1,x2,y2,…]` (the
  * COCO layout, reference coco.py:258). [[shoelace]] and [[bbox]] run in
  * geojson2coco's clip pass and in gate q18; the DuckDB oracle replays
  * their sums from its own SQL.
  */
object GeomCols {

  /** Shoelace polygon area (reference `Polygon(...).area`, coco.py:259;
    * SURVEY.md P9) of one ring of n ≥ 1 vertices: the signed sum of
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

  /** COCO bbox `[min_x, min_y, width, height]` from polygon bounds
    * (reference coco.py:221-241; SURVEY.md P8) of one ring of n ≥ 2
    * vertices: min and max in vertex order, a vertex replacing the running
    * value only when Spark's `least` / `greatest` would (its double
    * ordering: -0.0 equals 0.0, NaN is largest). */
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
