package perfbench


import graft.geo.{CellIndex, JtsGeo}
import graft.lake.Lake
import graft.ops.{GeomUnionAgg, SpatialJoins}
import graft.pipeline.{BatchPipeline, CocoToGeojson, GeojsonToCoco}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The traced run (`--trace 1`): per-layer metrics.
  *
  * 1. Passes of the chosen workload alternate untraced and traced (spans
  *    plus the listener); the listener totals of the traced passes give the
  *    `spark.*` metrics and the ratio of the medians the tracing overhead.
  * 2. Layer probes time calls into each module's public functions from
  *    here: prefix controls that add one layer at a time, and single-layer
  *    calls. Each probe runs on the inputs of the workload whose end-to-end
  *    metric the layer moves (its home workload), at this run's seed, so
  *    every traced run reports every layer. */
object Profile {

  private final case class Ctx(spark: SparkSession, a: Main.Args, tr: Tracer, rec: Recorder) {
    def nproc: Int = a.nproc

    /** one probe under its own job group; seconds */
    def time(name: String)(body: => Any): Double = {
      val sc = spark.sparkContext
      sc.setJobGroup(name, name)
      tr.pass = name
      try tr.span(name) {
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      } finally sc.clearJobGroup()
    }

    /** median seconds of `reps` runs of a probe */
    def median(name: String, reps: Int)(body: => Any): Double =
      Stats.median((0 until reps).map(i => time(s"$name#$i")(body)))

    def jobs(name: String): Int = { PerfbenchBus.drain(spark.sparkContext); rec.stats(name).jobs }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(a: Main.Args, w: Workload): (Map[String, Any], Map[String, Any]) = {
    val spark = Main.session(a)
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(false)
    val rec = new Recorder
    val ctx = Ctx(spark, a, tr, rec)
    val in = Main.Workloads.map(x => x.name -> Prepared.load(Main.dataRoot(a), x, a.seed)).toMap
    val client = new Main.Client(a, in(w.name).expect)
    val runner = w.open(spark, in(w.name), Main.workDir(a), tr)
    client.run(spark, tr, "warmup")(runner.pass("warmup"))
    Main.cleanLake(runner, keepLast = false)

    // 1. untraced / traced pairs of the workload's own pass
    val plain, traced = ArrayBuffer.empty[Double]
    val perPass = ArrayBuffer.empty[Map[String, Double]]
    val t0 = Main.now
    var i = 0
    while (i < 1 || (Main.now - t0 < a.seconds && i < 8 && !Main.pastStop(a))) {
      tr.enabled = false
      client.run(spark, tr, s"plain-$i")(runner.pass(s"plain-$i")).seconds.foreach(plain += _)
      Main.cleanLake(runner, keepLast = false)
      tr.enabled = true
      spark.sparkContext.addSparkListener(rec)
      val startMs = System.currentTimeMillis()
      val r = client.run(spark, tr, s"traced-$i")(runner.pass(s"traced-$i"))
      val endMs = System.currentTimeMillis()
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(rec)
      Main.cleanLake(runner, keepLast = false)
      r.seconds.foreach { s =>
        traced += s
        perPass += sparkMetrics(rec.stats(s"traced-$i"), startMs, endMs, a.nproc)
      }
      i += 1
    }

    // 2. layer probes, listener attached
    spark.sparkContext.addSparkListener(rec)
    val layers = ArrayBuffer.empty[(String, Double, String)]
    val pipHome = if (w == PipPartitioned) PipPartitioned else PipBroadcast
    val failures = ArrayBuffer.empty[Map[String, Any]]
    var probes = 0
    def guarded(layer: String)(body: => Seq[(String, Double, String)]): Unit =
      try { probes += 1; layers ++= body }
      catch {
        case e: Throwable =>
          failures += Map("workload" -> w.name, "seed" -> a.seed, "pass" -> s"probe:$layer",
            "error_class" -> e.getClass.getName, "detail" -> String.valueOf(e.getMessage).take(2000))
      }
    guarded("pip_broadcast")(broadcastLayers(ctx, in(PipBroadcast.name)))
    guarded("pip_envelope")(envelopeLayers(ctx, pipHome, in(pipHome.name)))
    guarded("pip_partitioned")(partitionedLayers(ctx, in(PipPartitioned.name)))
    guarded("coco")(cocoLayers(ctx, in(CocoRoundTrip.name)))
    spark.sparkContext.removeSparkListener(rec)

    val spans = tr.all
    val traceFile = a.root.resolve(s".bench_build/trace/${w.name}-s${a.seed}.jsonl")
    Files2.write(traceFile, spans.map(_.json).mkString("", "\n", "\n"))
    client.shutdown()
    spark.stop()

    val sparkM = perPass.headOption.map(_.keys.toSeq.sorted.map { k =>
      (k, Stats.median(perPass.map(_(k)).toSeq), SparkUnits(k))
    }).getOrElse(Seq.empty)
    val overhead =
      if (plain.nonEmpty && traced.nonEmpty) Seq(("trace.overhead_ratio",
        Stats.median(traced.toSeq) / Stats.median(plain.toSeq), "ratio"))
      else Seq.empty
    val all = layers.toSeq ++ sparkM ++ overhead
    val allFailures = client.failures.toSeq ++ failures
    val report = Map(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> 1,
      "fingerprint" -> a.fingerprint, "input_properties" -> in(w.name).props,
      "pass_s_untraced" -> plain.toSeq, "pass_s_traced" -> traced.toSeq,
      "spans" -> spans.size, "trace_file" -> a.root.relativize(traceFile).toString,
      "layer_inputs" -> Map("pip layers" -> PipBroadcast.name, "pip candidates" -> pipHome.name,
        "partitioned layers" -> PipPartitioned.name, "coco layers" -> CocoRoundTrip.name,
        "spark.*" -> w.name),
      "failures" -> allFailures)
    val result = Map(
      "correct" -> allFailures.isEmpty, "attempted" -> (client.attempted + probes),
      "failed" -> allFailures.size,
      "metrics" -> all.map { case (k, v, u) => k -> Main.metric(v, u) }.toMap)
    (report, result)
  }

  /** unit of each spark.* metric */
  private val SparkUnits: Map[String, String] = Map(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.cpu_util" -> "ratio",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.task_skew" -> "ratio", "spark.scan_bytes" -> "B",
    "spark.scan_rows" -> "count", "spark.output_bytes" -> "B")

  private def sparkMetrics(g: GroupStats, startMs: Long, endMs: Long, nproc: Int): Map[String, Double] = {
    val wall = math.max(endMs - startMs, 1L) / 1e3
    Map(
      "spark.jobs" -> g.jobs.toDouble, "spark.stages" -> g.stages.toDouble,
      "spark.tasks" -> g.tasks.toDouble,
      "spark.driver_gap_s" -> g.uncoveredMs(startMs, endMs) / 1e3,
      "spark.executor_cpu_s" -> g.cpuNs / 1e9,
      "spark.cpu_util" -> g.cpuNs / 1e9 / (wall * nproc),
      "spark.gc_s" -> g.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> g.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> g.shuffleRead.toDouble,
      "spark.spill_bytes" -> g.spill.toDouble, "spark.task_skew" -> g.taskSkew,
      "spark.scan_bytes" -> g.inBytes.toDouble, "spark.scan_rows" -> g.inRows.toDouble,
      "spark.output_bytes" -> g.outBytes.toDouble)
  }

  /** scan → + cell encode → + broadcast probe, one layer at a time, and the
    * probe's per-thread index build on a fresh layer */
  private def broadcastLayers(c: Ctx, in: Prepared.Inputs): Seq[(String, Double, String)] = {
    val o = PipBroadcast.open(c.spark, in, Main.workDir(c.a), c.tr).asInstanceOf[PipBroadcast.Opened]
    val reps = 2
    val scan, enc, probe = ArrayBuffer.empty[Double]
    for (i <- 0 until reps) {
      scan += c.time(s"io.scan#$i")(noop(o.points))
      enc += c.time(s"geo.cell_encode#$i")(noop(o.withTile))
      probe += c.time(s"functions.pip_probe#$i")(noop(o.joined))
    }
    val onePerTask = c.spark.range(0, c.nproc, 1, c.nproc)
      .select((col("id") * 1000.0 + 500.0).as("x"), lit(524288.0).as("y"))
    val build = c.median("ops.pip_build", reps)(
      noop(SpatialJoins.pointInPolygonBroadcastFast(onePerTask, o.zones.select("poly_id", "wkb"))))
    val (s, e, p) = (Stats.median(scan.toSeq), Stats.median(enc.toSeq), Stats.median(probe.toSeq))
    Seq(("io.scan_s", s, "s"), ("geo.cell_encode_s", e - s, "s"),
      ("functions.pip_probe_s", p - e, "s"), ("ops.pip_build_s", build, "s"))
  }

  /** envelope candidates (rows of the arithmetic point-in-box join over the
    * polygons' envelopes) per point, and exact hits per candidate */
  private def envelopeLayers(c: Ctx, w: Workload, in: Prepared.Inputs): Seq[(String, Double, String)] = {
    val (points, polys, level, bcast) = w match {
      case PipBroadcast =>
        val o = PipBroadcast.open(c.spark, in, Main.workDir(c.a), c.tr).asInstanceOf[PipBroadcast.Opened]
        (o.points, o.zones, PipBroadcast.TileLevel, true)
      case _ =>
        val o = PipPartitioned.open(c.spark, in, Main.workDir(c.a), c.tr).asInstanceOf[PipPartitioned.Opened]
        (o.points, o.polygons, PipPartitioned.CellLevel, false)
    }
    var cands = 0L
    c.time("ops.pip_envelope") {
      cands = SpatialJoins.pointInBox(points,
        polys.select("poly_id", "xmin", "ymin", "xmax", "ymax"), CellIndex.Unit20, level, bcast).count()
    }
    val hits = in.expect.exact("hits")
    Seq(("ops.pip_envelope_candidates_per_point", cands.toDouble / in.rows, "count/point"),
      ("ops.pip_hit_ratio", hits.toDouble / math.max(cands, 1L), "ratio"))
  }

  /** exact refine = partitioned point-in-polygon pass − envelope-only
    * point-in-box pass on the same cells; cover rows of the polygon side */
  private def partitionedLayers(c: Ctx, in: Prepared.Inputs): Seq[(String, Double, String)] = {
    val o = PipPartitioned.open(c.spark, in, Main.workDir(c.a), c.tr).asInstanceOf[PipPartitioned.Opened]
    val ci = CellIndex.Unit20
    val boxes = o.polygons.select("poly_id", "xmin", "ymin", "xmax", "ymax")
    def agg(df: DataFrame) = df.groupBy("poly_id").count().agg(sum("count")).head()
    val reps = 1
    val exact, box = ArrayBuffer.empty[Double]
    for (i <- 0 until reps) {
      exact += c.time(s"ops.pip_partitioned#$i")(agg(o.joined))
      box += c.time(s"ops.pip_box#$i")(agg(SpatialJoins.pointInBox(o.points, boxes, ci, PipPartitioned.CellLevel)))
    }
    var cover = 0L
    c.time("geo.cell_cover") {
      cover = o.polygons.select(explode(ci.cellsCoveringCol(
        col("xmin"), col("ymin"), col("xmax"), col("ymax"), PipPartitioned.CellLevel))).count()
    }
    Seq(("ops.pip_refine_s", Stats.median(exact.toSeq) - Stats.median(box.toSeq), "s"),
      ("geo.cell_cover_rows", cover.toDouble, "count"))
  }

  /** geojson2coco without and with the Lake, the resume, coco2geojson with
    * and without regularisation, the per-class union alone, and the clip
    * kernel on a seeded sample of feature × tile pairs */
  private def cocoLayers(c: Ctx, in: Prepared.Inputs): Seq[(String, Double, String)] = {
    val spark = c.spark
    import spark.implicits._
    val work = Main.workDir(c.a)
    val o = CocoRoundTrip.open(spark, in, work, c.tr).asInstanceOf[CocoRoundTrip.Opened]
    val p = CocoRoundTrip.g2cParams

    val g2c = o.pairs.zipWithIndex.map { case ((r, feats), k) =>
      c.time(s"pipeline.g2c#$k") {
        val t = GeojsonToCoco.run(feats, r, p)
        noop(t.images.toDF()); noop(t.annotations.toDF()); noop(t.categories.toDF())
      }
    }.sum
    val root = work.resolve("lake-profile")
    Files2.deleteTree(root)
    var tables: graft.io.Coco.CocoTables = null
    val batch = c.time("lake.batch_run") {
      tables = BatchPipeline.run(new Lake(root.toString, spark), "job-profile", o.pairs, p)
    }
    val batchJobs = c.jobs("lake.batch_run")
    val (bytes, files) = Files2.du(root)
    val resume = c.time("lake.resume")(BatchPipeline.run(new Lake(root.toString, spark), "job-profile", o.pairs, p))
    val resumeJobs = c.jobs("lake.resume")

    val c2g = c.time("pipeline.c2g")(noop(CocoToGeojson.run(tables, o.tileMeta, CocoRoundTrip.c2gParams)))
    val c2gPlain = c.time("pipeline.c2g_plain")(noop(CocoToGeojson.run(tables, o.tileMeta,
      CocoToGeojson.Params())))

    // the pass's world polygons, rebuilt here from the annotations and the
    // tile affines, then unioned per class by the engine's aggregate
    val toWorld = udf { (seg: Seq[Double], cx: Double, fy: Double) =>
      val xs = seg.grouped(2).map(q => cx + q(0) + 0.5).toArray
      val ys = seg.grouped(2).map(q => fy - (q(1) + 0.5)).toArray
      Geo.wkb(Geo.gf.createPolygon(Geo.ring(xs.dropRight(1), ys.dropRight(1))))
    }
    val world = tables.annotations.toDF()
      .join(tables.images.toDF().select(col("id").as("imageId"),
        regexp_replace(col("fileName"), "\\.png$", "").as("tileName")), "imageId")
      .join(o.tileMeta.toDF().select("tileName", "c", "f"), "tileName")
      .select(col("categoryId"), toWorld(col("segmentation"), col("c"), col("f")).as("wkb"))
      .cache()
    val nIn = world.count()
    var parts = 0L
    val union = c.time("ops.union") {
      parts = world.groupBy("categoryId").agg(GeomUnionAgg.union(col("wkb")).as("u"))
        .select("u").as[Array[Byte]].collect().map(b => Geo.fromWkb(b).getNumGeometries.toLong).sum
    }
    world.unpersist()
    Files2.deleteTree(root)

    // clip kernel: features of raster 0 against every tile they touch
    val r0 = CocoRoundTrip.raster(0)
    val sample = CocoRoundTrip.features(c.a.seed, 0).take(2000).flatMap { f =>
      val g = JtsGeo.fromWkb(CocoRoundTrip.toFeature(r0, f).wkb)
      val e = g.getEnvelopeInternal
      CocoRoundTrip.tiles(0).filter { t =>
        t.c < e.getMaxX && t.c + t.width > e.getMinX && t.f - t.height < e.getMaxY && t.f > e.getMinY
      }.map(t => (g, JtsGeo.box(t.c, t.f - t.height, t.c + t.width, t.f)))
    }
    var calls = 0L
    val clipS = c.time("geo.clip") {
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) {
        sample.foreach { case (g, b) => JtsGeo.clipToBox(g, b) }
        calls += sample.length
      }
    }

    Seq(("geo.clip_us", clipS * 1e6 / calls, "us"),
      ("pipeline.g2c_s", g2c, "s"),
      ("lake.overhead_s", batch - g2c, "s"),
      ("lake.jobs_per_stage", batchJobs.toDouble / (3 * CocoRoundTrip.Rasters), "jobs/stage"),
      ("lake.bytes", bytes.toDouble, "B"), ("lake.files", files.toDouble, "count"),
      ("lake.stored_bytes_per_row", bytes.toDouble / o.annotationsWritten, "B/row"),
      ("lake.resume_s", resume, "s"), ("lake.resume_jobs", resumeJobs.toDouble, "count"),
      ("pipeline.c2g_s", c2g, "s"), ("geo.regularise_s", c2g - c2gPlain, "s"),
      ("ops.union_s", union, "s"), ("ops.union_in_per_out", nIn.toDouble / math.max(parts, 1L), "ratio"))
  }
}
