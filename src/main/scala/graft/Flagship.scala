package graft

import graft.geo.CellIndex
import graft.io.WebPages
import graft.ops.SpatialJoins
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The BASELINE.json flagship job, shared by [[Bench]] (driver-visible
  * per-round metric) and [[ScalingBench]] (two-cluster-size protocol):
  * parquet scan of the Z-order-clustered feature table → cell assignment →
  * point-in-polygon join against the zone layer → count per (tile, zone).
  *
  * The input is MATERIALIZED parquet (data at rest, like the real
  * Common-Crawl table), generated once OUTSIDE any timed region — round 1
  * timed the string-heavy synthetic generator inside the flagship region
  * and reported 159 k rows/s while the engine's data-at-rest protocol
  * measured 27.9 M rows/s. Measure the engine, not the generator.
  */
object Flagship {

  val ci: CellIndex = CellIndex.Unit20
  val Level = 8
  val NZones = 4096

  /** Materialize nPages of features, Z-order-clustered on the level-10 cell
    * (repartitionByRange + sortWithinPartitions on cell id): consecutive
    * rows probe neighbouring zones so the PIP working set stays
    * cache-resident at any core count — and the same layout enables
    * cell-range partition pruning at 100 TB. Also writes the zone layer. */
  def gen(spark: SparkSession, nPages: Long, dir: String): Unit = {
    val parts = math.max(32, math.min(256, nPages / 100000)).toInt
    WebPages.features(WebPages.pages(spark, nPages, parts))
      .select("id", "f", "x", "y")
      .withColumn("cell", ci.encodeCol(col("x"), col("y"), 10))
      .repartitionByRange(parts, col("cell"))
      .sortWithinPartitions("cell")
      .drop("cell")
      .write.mode("overwrite").parquet(dir)
    WebPages.benchZones(spark, NZones).write.mode("overwrite").parquet(s"$dir-zones")
  }

  /** the variants [[run]] accepts */
  val Variants = Seq("jtsfast", "box")

  /** One flagship pass over materialized input; returns the result count.
    * Variants: "jtsfast" (default — the broadcast [[graft.ops.PipIndex]]
    * probe over 32-gon polygons, exact packed-ring test, plan stays in
    * whole-stage codegen), "box" (pure-arithmetic envelope refine). */
  def run(spark: SparkSession, dir: String, variant: String = "jtsfast"): Long = {
    import spark.implicits._
    require(Variants.contains(variant),
      s"unknown flagship variant '$variant'; valid variants: ${Variants.mkString(", ")}")
    val feats = spark.read.parquet(dir)
    val joined = variant match {
      case "box" =>
        val zones = spark.read.parquet(s"$dir-zones")
        SpatialJoins.pointInBox(feats, zones, ci, Level, broadcastBoxes = true)
      case "jtsfast" =>
        // 32-gon zones inflated 3×: ~1 candidate per point — the
        // compute-dense realistic shape (complex polygon layers), not a
        // bandwidth microbench
        val zones = spark.read.parquet(s"$dir-zones")
          .map { r =>
            val (x0, y0, x1, y1) =
              (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
            val (cx, cy) = ((x0 + x1) / 2, (y0 + y1) / 2)
            val (rx, ry) = ((x1 - x0) * 1.5, (y1 - y0) * 1.5)
            val coords = (0 to 32).map { k =>
              val a = 2 * math.Pi * k / 32
              new org.locationtech.jts.geom.Coordinate(
                cx + rx * math.cos(a), cy + ry * math.sin(a))
            }.toArray
            coords(32) = coords(0)
            (r.getLong(0),
              graft.geo.JtsGeo.toWkb(graft.geo.JtsGeo.factory.createPolygon(coords)))
          }.toDF("poly_id", "wkb")
        SpatialJoins.pointInPolygonBroadcastFast(feats.select("x", "y"), zones)
    }
    joined
      .withColumn("tile_id", ci.encodeCol(col("x"), col("y"), Level))
      .groupBy("tile_id", "poly_id").agg(count(lit(1)).as("n"))
      .count()
  }
}
