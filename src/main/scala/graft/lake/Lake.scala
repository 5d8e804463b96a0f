package graft.lake

import java.util.UUID
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NumericType, StructType}

import scala.jdk.CollectionConverters._

/** Iceberg-emulation table layer (SURVEY.md §4.6, S9, O9). No Iceberg jar
  * exists in the offline sandbox, so the engine provides the same contract
  * on plain parquet + JSON manifests, with the layout chosen so a real
  * Iceberg catalog can adopt the data files unchanged outside the sandbox:
  *
  * {{{
  *   <root>/<table>/data/snap-<id>-<uuid>/part-*.parquet — snapshot data, written once
  *   <root>/<table>/_meta/snap-<id>.json                 — manifest: the commit point
  * }}}
  *
  * A snapshot exists iff its manifest does: the manifest (snapshot id, table,
  * data directory, rows, bytes, per-partition rows and bytes, schema, stats,
  * the writer's `meta` JSON and wall time) is written to a temp file and
  * renamed into `_meta/`, and that rename is the commit (the single commit
  * point of Delta Lake's log, VLDB 2020). A crash before it leaves an orphan
  * directory and temp file that no reader lists.
  *
  * It gives snapshot append, time-travel reads (`asOf`), min/max stats →
  * snapshot pruning, per-partition lineage of every stage, and resumable
  * stages: `runStage` reads a committed stage back instead of recomputing it
  * (the reference's resume() rescans output dirs, batch_geojson2coco.py:40-64).
  */
final class Lake(val root: String, spark: SparkSession) {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(root).getFileSystem(conf)
  private val json = new ObjectMapper()

  private def metaDir(table: String) = new Path(s"$root/$table/_meta")
  private def ls(dir: String): Seq[Path] =
    Seq(new Path(dir)).filter(fs.exists).flatMap(p => fs.listStatus(p).map(_.getPath))

  private val Manifest = """snap-(\d+)\.json""".r
  def snapshotIds(table: String): Seq[Long] =
    ls(s"$root/$table/_meta").map(_.getName).collect { case Manifest(n) => n.toLong }.sorted

  /** Append `df` as a new snapshot; returns its id. The write is the only
    * Spark job: rows, bytes and schema come from the part files' parquet
    * footers, and the min/max stats of `statsCols` from an [[Observation]]
    * on the write. A schema other than the table's committed one is rejected.
    * `meta` is small driver-side JSON that the manifest carries, so the
    * rename that commits the rows commits it too; it is evaluated after the
    * write and read back as `manifest(table, snap).get("meta")` (an empty
    * object when not given). */
  def writeSnapshot(df: DataFrame, table: String, statsCols: Seq[String] = Seq.empty,
                    meta: => JsonNode = JsonNodeFactory.instance.objectNode()): Long = {
    val t0 = System.nanoTime()
    val snaps = snapshotIds(table)
    snaps.lastOption.map(s => schemaOf(manifest(table, s)).catalogString).foreach { committed =>
      require(committed == df.schema.catalogString, s"schema ${df.schema.catalogString} " +
        s"differs from the committed schema $committed of table $table")
    }
    val snap = snaps.lastOption.getOrElse(-1L) + 1
    val data = s"data/snap-$snap-${UUID.randomUUID()}"
    val obs = Observation()
    val aggs = statsCols.indices.flatMap(i => Seq(min(col(statsCols(i))).cast("string").as(s"min$i"),
      max(col(statsCols(i))).cast("string").as(s"max$i")))
    // the manifest rename is the commit point: no _SUCCESS marker
    (if (aggs.isEmpty) df else df.observe(obs, aggs.head, aggs.tail: _*))
      .write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(s"$root/$table/$data")
    // (write partition id, rows, bytes, Spark schema json) per part file;
    // read options from `conf`, not from a fresh Configuration per file
    val readOpts = HadoopReadOptions.builder(conf).build()
    val files = fs.listStatus(new Path(s"$root/$table/$data"))
      .filter(_.getPath.getName.startsWith("part-")).map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), readOpts)
        try (st.getPath.getName.split('-')(1).toInt, r.getRecordCount, st.getLen,
          r.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        finally r.close()
      }
    val m = json.createObjectNode().put("snapshot", snap).put("table", table).put("data", data)
      .put("rows", files.map(_._2).sum).put("bytes", files.map(_._3).sum)
    val parts = m.putArray("partitions")
    files.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (p, ps) =>
      parts.addObject().put("id", p).put("rows", ps.map(_._2).sum).put("bytes", ps.map(_._3).sum)
    }
    m.set[JsonNode]("schema", json.readTree(files.headOption.fold(df.schema.json)(_._4)))
    // numeric stats are JSON numbers compared numerically at prune time: a
    // string compare orders "9" > "10" and would skip matching snapshots
    val stats = m.putObject("stats")
    lazy val observed = obs.get
    statsCols.zipWithIndex.foreach { case (c, i) => (observed(s"min$i"), observed(s"max$i")) match {
      case (lo: String, hi: String) if df.schema(c).dataType.isInstanceOf[NumericType] =>
        stats.putObject(c).put("min", lo.toDouble).put("max", hi.toDouble).put("num", true)
      case (lo: String, hi: String) => stats.putObject(c).put("min", lo).put("max", hi).put("num", false)
      case _ => // all null: no stats, the snapshot is never pruned on `c`
    } }
    m.set[JsonNode]("meta", meta)
    m.put("wall_s", (System.nanoTime() - t0) / 1e9)
    val tmp = new Path(metaDir(table), s"_tmp-${UUID.randomUUID()}.json")
    val out = fs.create(tmp, false); try out.write(json.writeValueAsBytes(m)) finally out.close()
    if (!fs.rename(tmp, new Path(metaDir(table), s"snap-$snap.json")))
      throw new java.io.IOException(s"could not commit snapshot $snap of table $table")
    snap
  }

  def manifest(table: String, snap: Long): JsonNode = {
    val in = fs.open(new Path(metaDir(table), s"snap-$snap.json"))
    try json.readTree(in) finally in.close()
  }
  private def schemaOf(m: JsonNode) = DataType.fromJson(m.get("schema").toString).asInstanceOf[StructType]

  /** Read the table as of snapshot `asOf` (inclusive; default latest).
    * `prune` is an optional (col, lo, hi) predicate evaluated against the
    * manifests' min/max stats — snapshots that cannot match are never
    * scanned (the partition-pruning analog, SURVEY.md §4 J7). Only data
    * directories named by committed manifests are read, with their schema. */
  def readTable(table: String, asOf: Long = Long.MaxValue,
                prune: Option[(String, String, String)] = None): DataFrame = {
    val metas = snapshotIds(table).filter(_ <= asOf).map(manifest(table, _))
    val kept = prune.fold(metas) { case (c, lo, hi) => metas.filter { m =>
      val stat = m.path("stats").get(c)
      if (stat == null) true // no stats for the column → cannot prune
      else if (stat.get("num").asBoolean())
        stat.get("min").asDouble() <= hi.toDouble && stat.get("max").asDouble() >= lo.toDouble
      else stat.get("min").asText() <= hi && stat.get("max").asText() >= lo
    } }
    if (kept.isEmpty) spark.emptyDataFrame
    else spark.read.schema(schemaOf(kept.last))
      .parquet(kept.map(m => s"$root/$table/${m.get("data").asText}"): _*)
  }

  /** Per-partition rows and bytes of every stage's write (north_rule
    * lineage): (partitionId, rows, bytes, jobId, stage), from the manifests. */
  def lineage(): DataFrame = {
    import spark.implicits._
    (for (j <- ls(root).map(_.getName); s <- ls(s"$root/$j").map(_.getName);
          snap <- snapshotIds(s"$j/$s"); q <- manifest(s"$j/$s", snap).get("partitions").asScala)
      yield (q.get("id").asInt, q.get("rows").asLong, q.get("bytes").asLong, j, s))
      .toDF("partitionId", "rows", "bytes", "jobId", "stage")
  }

  /** Idempotent stage: complete iff it has a committed manifest, and then read
    * back instead of recomputed (kill-and-resume equivalence — O9); else the
    * body runs once, in the write, and `meta` once after it, into the
    * manifest of the stage's table `<jobId>/<stage>`. Neither runs on a
    * resume. The body must be deterministic. */
  def runStage(jobId: String, stage: String,
               meta: => JsonNode = JsonNodeFactory.instance.objectNode())(body: => DataFrame): DataFrame = {
    val table = s"$jobId/$stage"
    if (snapshotIds(table).isEmpty) writeSnapshot(body, table, meta = meta)
    readTable(table)
  }
}

object Lake {
  /** SQ8-quantized AT-REST layout for an embedding table: codes packed as
    * BINARY (one signed byte per dimension — the 4× size win is physical
    * parquet bytes, not an encoding artifact) plus the per-vector scale
    * AS DOUBLE — the exact value the codes were computed against, which
    * is all reconstruction needs (v̂_i = code_i · scale) and what keeps
    * the |v − v̂| ≤ scale/2 bound true (a float-rounded copy broke it).
    * Quantized cosine runs DIRECTLY off this layout
    * ([[graft.ops.Quantize.annSq8FromCodes]]) — scales cancel — so the
    * ANN scan/shuffle moves a quarter of the bytes; end-to-end scan+score
    * numbers vs the float table are in BENCH/BASELINE.md. */
  def writeQuantizedEmbeddings(emb: DataFrame, idCol: String, vecCol: String,
                               path: String,
                               extraCols: Seq[String] = Seq.empty): Unit = {
    // the scale is stored as DOUBLE: codes are computed against the exact
    // double scale, and a float-rounded copy shifts reconstruction by up
    // to ~127 ulp(scale) — past the |v − v̂| ≤ scale/2 bound for values
    // quantized at a cell boundary. 4 extra bytes/row is noise next to
    // the 4× payload win.
    val cols = Seq(col(idCol),
      graft.ops.Quantize.sq8Bytes(col(vecCol)).as("codes"),
      graft.ops.Quantize.sq8Scale(col(vecCol)).as("scale")) ++
      extraCols.map(col)
    emb.select(cols: _*).write.mode("overwrite").parquet(path)
  }

  /** The PQ at-rest layout — the compression tier beyond
    * [[writeQuantizedEmbeddings]]'s SQ8: each vector is product-quantized
    * ONCE at write time ([[graft.ops.Quantize.pqCodebooks]]'s
    * deterministic draw + argmin encode) and stored as m BINARY bytes —
    * 32× fewer payload bytes than float32 at D=64/m=8 (4·D → m). The m
    * codebooks (m·ksub·(D/m) floats — KBs) are persisted beside the data
    * under `_codebook/` (the underscore prefix hides the sidecar from
    * plain `spark.read.parquet(path)` readers, the `_SUCCESS`
    * convention), so the table is self-describing: reads need no access
    * to the original floats. Search straight off this layout is
    * [[graft.ops.Quantize.annPqSdc]] (both sides codes, zero float IO);
    * sizes and scan+score seconds vs float/SQ8 are measured in
    * `ScalingBench quantbench` (BENCH/BASELINE.md). */
  def writePqEmbeddings(emb: DataFrame, idCol: String, vecCol: String,
                        path: String, m: Int, ksub: Int,
                        extraCols: Seq[String] = Seq.empty): Unit = {
    val spark = emb.sparkSession
    // this layout packs one code per SIGNED byte — the storage-tier cap
    require(ksub <= 128,
      s"ksub=$ksub exceeds the signed-byte code range of the binary layout")
    val cb = graft.ops.Quantize.pqCodebooks(
      emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")), m, ksub)
    // native codegen'd encode projection (round 6 — VecKernels.pqCodes,
    // no mapPartitions row codec; the scan→encode→write fuses into one
    // codegen stage)
    val quant = emb.select((Seq(col(idCol),
      graft.functions.AnnExprs.pqEncodeBytes(col(vecCol), cb).as("codes")) ++
      extraCols.map(col)): _*)
    quant.write.mode("overwrite").parquet(path)
    // codebook sidecar: one row per (subspace, entry), draw-rank ordered
    val cbRows = for (s <- cb.indices; j <- cb(s).indices)
      yield (s, j, cb(s)(j).toSeq)
    spark.createDataFrame(cbRows).toDF("s", "j", "entry")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_codebook")
  }

  /** Read the PQ layout back: the data frame (idCol, codes BINARY,
    * extras…) and the codebooks reassembled from the `_codebook` sidecar
    * in (subspace, draw-rank) order. */
  def readPqEmbeddings(spark: SparkSession,
                       path: String): (DataFrame, Array[Array[Array[Float]]]) = {
    val cbRows = spark.read.parquet(s"$path/_codebook")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    // self-describing-table contract (ADVICE r05): fail with a clear
    // message instead of an opaque empty-collection max
    require(cbRows.nonEmpty, s"no _codebook sidecar rows under $path")
    val m = cbRows.map(_._1).max + 1
    val cb = Array.tabulate(m) { s =>
      cbRows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
    (spark.read.parquet(path), cb)
  }
}
