package graft.lake

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class LakeSpec extends SparkSpec {

  def freshLake(): Lake = {
    val dir = java.nio.file.Files.createTempDirectory("lake").toString
    new Lake(dir, spark)
  }

  test("snapshot append + time-travel read") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    val s0 = lake.writeSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    val s1 = lake.writeSnapshot(Seq((3L, "c")).toDF("id", "v"), "t")
    assert(s0 == 0 && s1 == 1)
    assert(lake.readTable("t").count() == 3)
    assert(lake.readTable("t", asOf = 0).count() == 2)
    assert(lake.snapshotIds("t") == Seq(0L, 1L))
  }

  test("manifest stats enable snapshot pruning on read") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    lake.writeSnapshot((1 to 10).map(i => (i.toLong, s"k$i")).toDF("id", "v"), "t", Seq("id"))
    lake.writeSnapshot((100 to 110).map(i => (i.toLong, s"k$i")).toDF("id", "v"), "t", Seq("id"))
    val pruned = lake.readTable("t", prune = Some(("id", "100", "105")))
    assert(pruned.count() == 11) // only snapshot 1 scanned (its full rows)
    val all = lake.readTable("t")
    assert(all.count() == 21)
  }

  test("numeric stats compare numerically, not lexicographically ('9' < '10')") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    // snapshot with ids 5..9: lexicographic "9" > "10" would wrongly prune
    // it for the range [10, 20] lower bound check's dual — and wrongly KEEP
    // checks like max "9" >= lo "10". Assert both directions.
    lake.writeSnapshot((5 to 9).map(i => (i.toLong, s"k$i")).toDF("id", "v"), "t", Seq("id", "v"))
    lake.writeSnapshot((10 to 20).map(i => (i.toLong, s"k$i")).toDF("id", "v"), "t", Seq("id", "v"))
    // [9, 9] must scan snapshot 0 only (lexicographic min "10" <= "9" would
    // have also scanned snapshot 1)
    assert(lake.readTable("t", prune = Some(("id", "9", "9"))).count() == 5)
    // [10, 12] must scan snapshot 1 (lexicographic max "9" < lo "10" holds
    // numerically too, but "9" >= "10" lexicographically would keep snap 0)
    assert(lake.readTable("t", prune = Some(("id", "10", "12"))).count() == 11)
    // string stats still compare lexicographically
    assert(lake.readTable("t", prune = Some(("v", "k10", "k12"))).count() == 11)
  }

  test("runStage is idempotent: resume skips completed stages (O9)") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    var bodyRuns = 0
    def body() = { bodyRuns += 1; Seq((1L, 2L)).toDF("a", "b") }
    val r1 = lake.runStage("job1", "stage1")(body())
    assert(r1.count() == 1 && bodyRuns == 1)
    val r2 = lake.runStage("job1", "stage1")(body())
    assert(r2.count() == 1 && bodyRuns == 1, "stage re-ran despite checkpoint")
    // a different stage still runs
    lake.runStage("job1", "stage2")(body())
    assert(bodyRuns == 2)
    assert(lake.snapshotIds("job1/stage1").nonEmpty && lake.snapshotIds("job1/stage2").nonEmpty)
  }

  /** total size of the parquet part files under `dir` */
  def partBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).map(Files.size).sum
    finally s.close()
  }

  test("lineage rows record per-partition counts per stage") {
    val lake = freshLake()
    val body = spark.range(0, 100, 1, 4).where(col("id") < 10 || col("id") % 3 === 0).toDF()
    lake.runStage("j", "s")(body)
    val expected = body.groupBy(spark_partition_id()).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val lin = lake.lineage().where(col("jobId") === "j" && col("stage") === "s")
    assert(lin.select("partitionId", "rows").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      expected)
    val bytes = partBytes(s"${lake.root}/j/s/data")
    assert(bytes > 0 && lin.agg(sum("bytes")).head.getLong(0) == bytes)
    // the manifest carries rows, bytes and the write's wall time
    val m = lake.manifest("j/s", 0)
    assert(m.get("rows").asLong == expected.values.sum && m.get("bytes").asLong == bytes &&
      m.get("wall_s").asDouble > 0)
  }

  test("a committed snapshot dir holds only part files and their checksums") {
    val lake = freshLake()
    lake.runStage("j", "s")(spark.range(0, 10, 1, 2).toDF())
    val dir = Paths.get(lake.root, "j", "s", lake.manifest("j/s", 0).get("data").asText)
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq
    names.filterNot(_.matches("""\.?part-.*\.parquet(\.crc)?""")) shouldBe empty
    names.count(_.startsWith("part-")) shouldBe 2
  }

  test("a stage's Lake work is one Spark job, its write; a resumed stage runs none") {
    val lake = freshLake()
    val body = spark.range(0, 50, 1, 3).select((col("id") * 2).as("x"))
    val (_, jobs) = JobCounter.count(spark.sparkContext)(lake.runStage("j", "s")(body))
    assert(jobs == 1)
    val (back, resumeJobs) = JobCounter.count(spark.sparkContext)(lake.runStage("j", "s")(body))
    assert(resumeJobs == 0)
    assert(back.schema.fieldNames.toSeq == Seq("x") && back.count() == 50)
  }

  test("the stage body executes once per stage") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    val rowsSeen = spark.sparkContext.longAccumulator("rowsSeen")
    // a typed map: the optimizer cannot prune it out of a re-execution
    val body = spark.range(0, 10, 1, 2).map { x => rowsSeen.add(1); x.longValue }.toDF("id")
    val r = lake.runStage("j", "s")(body)
    assert(r.count() == 10 && rowsSeen.value == 10L, "the body ran more than once")
  }

  test("crash after the manifest commit: resume returns exactly the one-shot rows") {
    val lake = freshLake()
    // the stage's snapshot committed, then the run died before anything else
    lake.writeSnapshot(spark.range(0, 10).toDF("id"), "j/s")
    var runs = 0
    val r = lake.runStage("j", "s") { runs += 1; spark.range(0, 10).toDF("id") }
    assert(runs == 0 && r.count() == 10)
    assert(lake.snapshotIds("j/s") == Seq(0L))
  }

  test("crash before the manifest commit: the rerun runs the body once and succeeds") {
    val lake = freshLake()
    // an orphan data directory and an orphan temp manifest, nothing committed
    spark.range(0, 7).toDF("id").write.parquet(s"${lake.root}/j/s/data/snap-0")
    Files.createDirectories(Paths.get(s"${lake.root}/j/s/_meta"))
    Files.write(Paths.get(s"${lake.root}/j/s/_meta/_tmp-crashed.json"), "{\"snap".getBytes("UTF-8"))
    assert(lake.snapshotIds("j/s").isEmpty && lake.readTable("j/s").isEmpty)
    var runs = 0
    val r = lake.runStage("j", "s") { runs += 1; spark.range(0, 10).toDF("id") }
    assert(runs == 1 && r.count() == 10)
    assert(lake.snapshotIds("j/s") == Seq(0L))
  }

  def metaOf(text: String) = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)

  test("meta round-trips through the manifest; a snapshot without meta reads back as empty") {
    val lake = freshLake()
    val meta = metaOf("""{"images":[{"id":0,"fileName":"a.png"}],"n":12345678901}""")
    val s0 = lake.writeSnapshot(spark.range(0, 3).toDF("id"), "t", meta = meta)
    lake.manifest("t", s0).get("meta") shouldBe meta
    val s1 = lake.writeSnapshot(spark.range(3, 5).toDF("id"), "t")
    assert(lake.manifest("t", s1).get("meta").isEmpty)
  }

  test("a stage's meta runs once, after its body, on a fresh stage and never on a resume") {
    val lake = freshLake()
    val calls = scala.collection.mutable.Buffer.empty[String]
    def stage() = lake.runStage("j", "s", { calls += "meta"; metaOf("""{"k":1}""") }) {
      calls += "body"; spark.range(0, 4).toDF("id")
    }
    stage().count() shouldBe 4
    calls shouldBe Seq("body", "meta")
    stage().count() shouldBe 4
    calls shouldBe Seq("body", "meta")
    lake.manifest("j/s", 0).get("meta") shouldBe metaOf("""{"k":1}""")
  }

  test("crash before the manifest commit: neither the data nor the meta is visible") {
    val lake = freshLake()
    // the run dies between the data write and the rename: the meta throws
    intercept[IllegalStateException] {
      lake.runStage("j", "s", throw new IllegalStateException("crash")) { spark.range(0, 7).toDF("id") }
    }
    assert(lake.snapshotIds("j/s").isEmpty && lake.readTable("j/s").isEmpty)
    assert(Files.list(Paths.get(s"${lake.root}/j/s/data")).count() == 1) // the orphan
    var runs = 0
    val r = lake.runStage("j", "s", metaOf("""{"k":2}""")) { runs += 1; spark.range(0, 10).toDF("id") }
    assert(runs == 1 && r.count() == 10)
    lake.snapshotIds("j/s") shouldBe Seq(0L)
    lake.manifest("j/s", 0).get("meta") shouldBe metaOf("""{"k":2}""")
  }

  test("readTable ignores an uncommitted data directory") {
    val lake = freshLake()
    lake.writeSnapshot(spark.range(0, 3).toDF("id"), "t")
    spark.range(100, 150).toDF("id").write.parquet(s"${lake.root}/t/data/snap-1-uncommitted")
    assert(lake.readTable("t").count() == 3)
    assert(lake.snapshotIds("t") == Seq(0L))
  }

  test("writeSnapshot rejects a schema other than the table's committed one") {
    val spark2 = spark
    import spark2.implicits._
    val lake = freshLake()
    lake.writeSnapshot(Seq((1L, "a")).toDF("id", "v"), "t")
    val e = intercept[IllegalArgumentException] {
      lake.writeSnapshot(Seq(("b", 2L)).toDF("v", "id"), "t")
    }
    assert(e.getMessage.contains("table t") && e.getMessage.contains("struct<id:bigint,v:string>") &&
      e.getMessage.contains("struct<v:string,id:bigint>"), e.getMessage)
    // nullability alone is no schema change
    lake.writeSnapshot(Seq((Option(3L), "c")).toDF("id", "v"), "t")
    assert(lake.snapshotIds("t") == Seq(0L, 1L) && lake.readTable("t").count() == 2)
  }

  test("writeSnapshot with stats runs one job: the stats are observed on the write") {
    val lake = freshLake()
    val df = spark.range(0, 40, 1, 4).select((col("id") + 5).as("id"), concat(lit("k"), col("id")).as("v"))
    val (snap, jobs) = JobCounter.count(spark.sparkContext)(lake.writeSnapshot(df, "t", Seq("id", "v")))
    assert(jobs == 1)
    val stats = lake.manifest("t", snap).get("stats")
    assert(stats.get("id").get("min").asDouble == 5.0 && stats.get("id").get("max").asDouble == 44.0)
    assert(stats.get("v").get("min").asText == "k0" && stats.get("v").get("max").asText == "k9")
  }

  /** the quantized layout read back: (id, codes binary, scale double,
    * extras…) plus the reconstruction `vec_approx` = code_i · scale */
  def readQuantizedEmbeddings(path: String) = {
    val df = spark.read.parquet(path)
    df.withColumn("vec_approx",
      transform(graft.ops.RefTwins.bytesToCodes(col("codes")),
        c => c.cast("double") * col("scale").cast("double")))
  }

  test("quantized embedding layout: round trip, distortion bound, 4x-smaller files") {
    val spark2 = spark
    import spark2.implicits._
    val emb = (0 until 2000).map { i =>
      (i.toLong, Array.tabulate(64)(d =>
        (math.sin(i * 64 + d) * (1 + (i % 7))).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("qlake").toString
    val qPath = s"$dir/quant"
    val fPath = s"$dir/float"
    Lake.writeQuantizedEmbeddings(emb, "vec_id", "embedding", qPath)
    emb.write.parquet(fPath)
    val back = readQuantizedEmbeddings(qPath)
    back.count() shouldBe 2000L
    // reconstruction error within the exact SQ8 bound (double scale at rest)
    val joined = back.join(emb, "vec_id")
      .select(col("vec_id"), col("embedding"), col("vec_approx"), col("scale"))
      .collect()
    joined.foreach { r =>
      val v = r.getSeq[Float](1)
      val va = r.getSeq[Double](2)
      val s = r.getDouble(3)
      // the at-rest scale is the exact double the codes were computed
      // against, so the true SQ8 bound holds (half-ulp slack for the
      // code*scale product only — the old float-rounded scale needed a
      // 1e-6*s fudge here, which was the bug)
      v.zip(va).foreach { case (x, y) =>
        assert(math.abs(x.toDouble - y) <= s / 2 + 1e-12 * s)
      }
    }
    // codes round-trip bit-exactly through the binary layout
    val codesOk = back
      .join(emb.select(col("vec_id"),
        graft.ops.Quantize.sq8Codes(col("embedding")).as("expect")), "vec_id")
      .where(!(graft.ops.RefTwins.bytesToCodes(col("codes")) === col("expect")))
      .count()
    codesOk shouldBe 0L
    // the at-rest win is physical: quantized files are ~4x smaller
    def bytesOf(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val (qb, fb) = (bytesOf(qPath), bytesOf(fPath))
    assert(qb * 3 < fb, s"quantized $qb bytes vs float $fb — expected <1/3")
    // quantized scoring runs directly off the read-back layout
    val top = graft.ops.Quantize.annSq8FromCodes(back, "vec_id", "codes", 1)
    top.count() shouldBe 2000L
  }

  test("PQ embedding layout: self-describing round trip, SDC identity, ~16x-smaller files") {
    val spark2 = spark
    import spark2.implicits._
    val (m, ksub) = (8, 16)
    // hash-noisy so the float side can't dictionary-compress (same honesty
    // argument as quantbench: real embeddings are incompressible)
    val emb = (0 until 2000).map { i =>
      (i.toLong, i % 16, Array.tabulate(64) { d =>
        val h = ((i * 64 + d) * 2654435761L % 16777213L).toInt
        (h / 8388606.5 - 1.0).toFloat
      })
    }.toDF("vec_id", "blk", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("pqlake").toString
    val (qPath, fPath) = (s"$dir/pq", s"$dir/float")
    Lake.writePqEmbeddings(emb, "vec_id", "embedding", qPath, m, ksub,
      extraCols = Seq("blk"))
    emb.write.parquet(fPath)
    // self-describing read: data + codebooks come back from the path alone
    val (back, cb) = Lake.readPqEmbeddings(spark, qPath)
    back.count() shouldBe 2000L
    cb.length shouldBe m
    cb.foreach(_.length shouldBe ksub)
    val cbExpect = graft.ops.Quantize.pqCodebooks(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), m, ksub)
    for (s0 <- 0 until m; j <- 0 until ksub)
      cb(s0)(j).toSeq shouldBe cbExpect(s0)(j).toSeq
    // codes round-trip bit-exactly
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](2).toArray).toMap
    back.select("vec_id", "codes").collect().foreach { r =>
      r.getAs[Array[Byte]](1).toSeq shouldBe
        graft.functions.VecKernels.pqCodes(vecs(r.getLong(0)), cb).map(_.toByte).toSeq
    }
    // SDC search straight off the layout, no float IO: distances equal the
    // L2 between the two reconstructions (subspace-blocked fold)
    val top = graft.ops.Quantize.annPqSdc(back, cb, "vec_id", "codes", 1, Some("blk"))
      .collect()
    top.length shouldBe 2000
    top.take(200).foreach { r =>
      val ca = graft.functions.VecKernels.pqCodes(vecs(r.getLong(0)), cb)
      val cp = graft.functions.VecKernels.pqCodes(vecs(r.getLong(2)), cb)
      val tbl = graft.ops.Quantize.pqSdcTable(cb)
      var dist = 0.0
      for (s0 <- 0 until m) dist += tbl(s0)(ca(s0))(cp(s0))
      assert(java.lang.Double.doubleToLongBits(dist) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
    // the at-rest win: 64 incompressible floats (256 B) became 8 bytes
    def bytesOf(p: String): Long = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val (qb, fb) = (bytesOf(qPath), bytesOf(fPath))
    assert(qb * 8 < fb, s"PQ $qb bytes vs float $fb — expected <1/8")
  }
}
