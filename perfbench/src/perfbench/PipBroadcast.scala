package perfbench

import java.nio.file.Path

import graft.geo.CellIndex
import graft.ops.SpatialJoins
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship shape: pages with 1-3 point features at rest in parquet,
  * Z-order clustered (pages follow the level-10 Morton curve, and each
  * file holds a contiguous page range), joined against a dim-sized layer
  * of 32-gon zones by the broadcast probe, counted per (tile, zone). */
object PipBroadcast extends Workload {
  val name = "pip_broadcast"
  /** a pass takes ~1.5 s and is still speeding up after 3 */
  val warmPasses = 4

  val World = 1048576.0
  /** tile level of the output key; level-8 cells are 4096 units wide */
  val TileLevel = 8
  val NZones = 4096
  /** ~8 M rows: enough that the probe, not the per-pass broadcast, index
    * build and job overhead, is the largest share of the pass (README) */
  val NPages = 4000000L
  val Files = 16
  private val ZoLevelCells = 1L << 20 // 4^10 Morton cells at level 10
  private val ZoCell = 1024L

  /** 32-gon ellipses; radii sized for about one match per point */
  def zones(seed: Long): Array[(Long, Array[Byte], Array[Double])] = {
    val rng = Rng.stream(seed, 1)
    Array.tabulate(NZones) { k =>
      val (cx, cy) = (rng.uniform(0, World), rng.uniform(0, World))
      val (rx, ry) = (rng.uniform(4000, 14000), rng.uniform(4000, 14000))
      val xs = Array.tabulate(32)(i => cx + rx * math.cos(2 * math.Pi * i / 32))
      val ys = Array.tabulate(32)(i => cy + ry * math.sin(2 * math.Pi * i / 32))
      val g = Geo.gf.createPolygon(Geo.ring(xs, ys))
      val e = g.getEnvelopeInternal
      (k.toLong, Geo.wkb(g), Array(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
    }
  }

  /** (f, x, y) of page `p`'s 1-3 features: integral coordinates inside the
    * page's level-10 Morton cell. */
  def pagePoints(seed: Long, p: Long): Seq[(Long, Double, Double)] = {
    val h = Rng.mix(seed, p)
    val nf = 1 + java.lang.Long.remainderUnsigned(h, 3L).toInt
    val (c, r) = Geo.deinterleave(p * ZoLevelCells / NPages)
    (0 until nf).map { f =>
      val q = Rng.mix(h, f + 1L)
      (f.toLong, (c * ZoCell + (q & 1023L)).toDouble, (r * ZoCell + ((q >>> 10) & 1023L)).toDouble)
    }
  }

  def prepare(spark: SparkSession, dir: Path, seed: Long): (Map[String, Any], Expectation) = {
    import spark.implicits._
    val zs = zones(seed)
    zs.toSeq.map { case (id, w, e) => (id, w, e(0), e(1), e(2), e(3)) }
      .toDF("poly_id", "wkb", "xmin", "ymin", "xmax", "ymax")
      .coalesce(1).write.parquet(dir.resolve("zones").toString)
    spark.range(0, NPages, 1, Files)
      .flatMap(p => pagePoints(seed, p).map { case (f, x, y) => (p: Long, f, x, y) })(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaDouble))
      .toDF("id", "f", "x", "y")
      .write.parquet(dir.resolve("points").toString)

    // brute force over the generator (not over the written files)
    val bc = spark.sparkContext.broadcast(zs.map(z => (z._1, z._2)))
    val cell = World / (1 << TileLevel)
    val pairs = spark.sparkContext.range(0, NPages, 1, spark.sparkContext.defaultParallelism).mapPartitions { it =>
      val bf = new Geo.BruteForce(bc.value)
      val m = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
      var points, cands = 0L
      it.foreach { p =>
        pagePoints(seed, p).foreach { case (_, x, y) =>
          val tile = Geo.cellId(TileLevel, (x / cell).toLong, (y / cell).toLong)
          points += 1
          cands += bf.probe(x, y)(id => m((tile, id)) = m.getOrElse((tile, id), 0L) + 1)
        }
      }
      m.iterator ++ Iterator(((-1L, -1L), points), ((-2L, -2L), cands))
    }.reduceByKey(_ + _).collect()
    bc.destroy()
    val groups = pairs.filter(_._1._1 >= 0)
    val points = pairs.find(_._1 == ((-1L, -1L))).get._2
    val cands = pairs.find(_._1 == ((-2L, -2L))).get._2
    val hits = groups.map(_._2).sum
    val props = Map(
      "rows" -> points, "polygons" -> NZones, "vertices_per_ring" -> 32,
      "hole_share" -> 0.0, "multipart_share" -> 0.0,
      "envelope_candidates_per_point" -> cands.toDouble / points,
      "hits_per_point" -> hits.toDouble / points,
      "files" -> Files, "layout" -> "z-order clustered, 1-3 points per page",
      "tile_level" -> TileLevel, "tiles_hit" -> groups.map(_._1._1).distinct.length)
    (props, Expectation(Map(
      "groups" -> groups.length.toLong, "hits" -> hits,
      "xor" -> groups.map { case ((t, z), n) => Geo.xxhash(t, z, n) }.foldLeft(0L)(_ ^ _)),
      Map.empty))
  }

  /** the `(groups, Σ count, xor of xxhash64(tile, zone, count))` sink */
  def fingerprint(counts: DataFrame, keys: String*): Observed = {
    val r = counts.agg(count(lit(1)), sum("count"),
      bit_xor(xxhash64((keys :+ "count").map(col): _*))).head()
    Observed(Map("groups" -> r.getLong(0), "hits" -> (if (r.isNullAt(1)) 0L else r.getLong(1)),
      "xor" -> (if (r.isNullAt(2)) 0L else r.getLong(2))))
  }

  final class Opened(spark: SparkSession, in: Prepared.Inputs, tr: Tracer) extends Runner {
    val points: DataFrame = spark.read.parquet(in.dir.resolve("points").toString).select("x", "y")
    val zones: DataFrame = spark.read.parquet(in.dir.resolve("zones").toString)
    val inputRows: Long = in.rows
    val ci: CellIndex = CellIndex.Unit20

    def withTile: DataFrame =
      tr.span("geo.cell_encode") {
        points.withColumn("tile_id", ci.encodeCol(col("x"), col("y"), TileLevel))
      }

    def joined: DataFrame = {
      val t = withTile
      tr.span("ops.pip_broadcast_fast") {
        SpatialJoins.pointInPolygonBroadcastFast(t, zones.select("poly_id", "wkb"))
      }
    }

    def pass(id: String): Observed = {
      val counts = joined.groupBy("tile_id", "poly_id").count()
      tr.span("spark.action") { fingerprint(counts, "tile_id", "poly_id") }
    }
  }

  def open(spark: SparkSession, in: Prepared.Inputs, work: Path, tr: Tracer): Runner =
    new Opened(spark, in, tr)
}
