package perfbench

import java.nio.file.Path

import graft.geo.CellIndex
import graft.ops.SpatialJoins
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.locationtech.jts.geom.{Geometry, Polygon}

/** A polygon layer larger than Spark's auto-broadcast threshold, so the
  * cell equi-join shuffles both sides: concave star polygons with 48-160
  * vertices per ring, a quarter with a hole, a sixth with two parts, and
  * points in unclustered (hash) order. Counted per polygon. */
object PipPartitioned extends Workload {
  val name = "pip_partitioned"
  val warmPasses = 2

  val World = 1048576.0
  /** join cell level: level-7 cells are 8192 units wide, ~2-4 cover cells per polygon */
  val CellLevel = 7
  val NPolys = 7000
  val NPoints = 600000L
  val Files = 8

  private def star(rng: Rng, cx: Double, cy: Double, r0: Double): Polygon = {
    val v = 48 + rng.below(113)
    val lobes = 2 + rng.below(6)
    val phase = rng.uniform(0, math.Pi)
    val rs = Array.tabulate(v) { i =>
      val a = 2 * math.Pi * i / v
      r0 * (0.55 + 0.45 * math.abs(math.sin(lobes * a / 2 + phase))) * rng.uniform(0.985, 1.0)
    }
    val xs = Array.tabulate(v)(i => cx + rs(i) * math.cos(2 * math.Pi * i / v))
    val ys = Array.tabulate(v)(i => cy + rs(i) * math.sin(2 * math.Pi * i / v))
    Geo.gf.createPolygon(Geo.ring(xs, ys))
  }

  private def withHole(p: Polygon, cx: Double, cy: Double, r: Double): Polygon = {
    val n = 12 + p.getNumPoints / 8
    val xs = Array.tabulate(n)(i => cx + r * math.cos(-2 * math.Pi * i / n))
    val ys = Array.tabulate(n)(i => cy + r * math.sin(-2 * math.Pi * i / n))
    Geo.gf.createPolygon(p.getExteriorRing, Array(Geo.gf.createLinearRing(Geo.ring(xs, ys))))
  }

  /** (geometry, has a hole, parts) of polygon k */
  def polygon(seed: Long, k: Int): (Geometry, Boolean, Int) = {
    val rng = Rng.stream(seed, 1000L + k)
    val r0 = rng.uniform(1500, 3500)
    val (cx, cy) = (rng.uniform(20000, World - 20000), rng.uniform(20000, World - 20000))
    val hole = rng.uniform() < 0.25
    val parts = if (rng.uniform() < 1.0 / 6) 2 else 1
    val first0 = star(rng, cx, cy, r0)
    // the star's ring never comes closer than 0.54 r0 to its centre
    val first = if (hole) withHole(first0, cx, cy, 0.25 * r0) else first0
    val g: Geometry =
      if (parts == 1) first
      else {
        val r1 = r0 * rng.uniform(0.5, 1.0)
        Geo.gf.createMultiPolygon(Array(first, star(rng, cx + 2.6 * r0, cy, r1)))
      }
    (g, hole, parts)
  }

  /** point i: uniform over the world, fractional coordinates */
  def point(seed: Long, i: Long): (Double, Double) = {
    val h = Rng.mix(seed, i)
    ((h >>> 11) * (World / (1L << 53)), (Rng.mix(h) >>> 11) * (World / (1L << 53)))
  }

  def prepare(spark: SparkSession, dir: Path, seed: Long): (Map[String, Any], Expectation) = {
    import spark.implicits._
    val polys = Array.tabulate(NPolys)(k => polygon(seed, k))
    val rows = polys.zipWithIndex.map { case ((g, _, _), k) =>
      val e = g.getEnvelopeInternal
      (k.toLong, Geo.wkb(g), e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }
    rows.toSeq.toDF("poly_id", "wkb", "xmin", "ymin", "xmax", "ymax")
      .repartition(4).sortWithinPartitions("poly_id")
      .write.parquet(dir.resolve("polygons").toString)
    spark.range(0, NPoints, 1, Files)
      .map { i => val (x, y) = point(seed, i); (i: Long, x, y) }(
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaDouble))
      .toDF("id", "x", "y")
      .write.parquet(dir.resolve("points").toString)

    val bc = spark.sparkContext.broadcast(rows.map(r => (r._1, r._2)))
    val counts = spark.sparkContext.range(0, NPoints, 1, spark.sparkContext.defaultParallelism).mapPartitions { it =>
      val bf = new Geo.BruteForce(bc.value)
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
      var cands = 0L
      it.foreach { i =>
        val (x, y) = point(seed, i)
        cands += bf.probe(x, y)(id => m(id) = m.getOrElse(id, 0L) + 1)
      }
      m.iterator ++ Iterator((-1L, cands))
    }.reduceByKey(_ + _).collect()
    bc.destroy()
    val hitsBy = counts.filter(_._1 >= 0)
    val cands = counts.find(_._1 == -1L).get._2
    val hits = hitsBy.map(_._2).sum
    val rings = polys.flatMap { case (g, _, _) =>
      (0 until g.getNumGeometries).flatMap { i =>
        val p = g.getGeometryN(i).asInstanceOf[Polygon]
        (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN)).map(_.getNumPoints - 1)
      }
    }
    val layerBytes = Files2.du(dir.resolve("polygons"))._1
    val props = Map(
      "rows" -> NPoints, "polygons" -> NPolys,
      "vertices_per_ring" -> rings.sum.toDouble / rings.length,
      "hole_share" -> polys.count(_._2).toDouble / NPolys,
      "multipart_share" -> polys.count(_._3 > 1).toDouble / NPolys,
      "envelope_candidates_per_point" -> cands.toDouble / NPoints,
      "hits_per_point" -> hits.toDouble / NPoints,
      "polygon_layer_bytes" -> layerBytes, "files" -> Files,
      "layout" -> "points in hash order (unclustered)", "cell_level" -> CellLevel)
    (props, Expectation(Map(
      "groups" -> hitsBy.length.toLong, "hits" -> hits,
      "xor" -> hitsBy.map { case (id, n) => Geo.xxhash(id, n) }.foldLeft(0L)(_ ^ _)),
      Map.empty))
  }

  final class Opened(spark: SparkSession, in: Prepared.Inputs, tr: Tracer) extends Runner {
    val points: DataFrame = spark.read.parquet(in.dir.resolve("points").toString).select("x", "y")
    val polygons: DataFrame = spark.read.parquet(in.dir.resolve("polygons").toString)
    val inputRows: Long = in.rows
    val ci: CellIndex = CellIndex.Unit20

    def joined: DataFrame =
      tr.span("ops.pip_partitioned") { SpatialJoins.pointInPolygon(points, polygons, ci, CellLevel) }

    def pass(id: String): Observed = {
      val counts = joined.groupBy("poly_id").count()
      tr.span("spark.action") { PipBroadcast.fingerprint(counts, "poly_id") }
    }

    /** The layer must not fit Spark's broadcast threshold: the workload
      * exists to measure the shuffled arm. */
    def assertShuffled(): Unit = {
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastNestedLoopJoin"),
        s"pip_partitioned planned a broadcast join:\n$plan")
    }
  }

  def open(spark: SparkSession, in: Prepared.Inputs, work: Path, tr: Tracer): Runner = {
    val o = new Opened(spark, in, tr)
    o.assertShuffled()
    o
  }
}
