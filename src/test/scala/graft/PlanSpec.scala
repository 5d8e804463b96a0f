package graft

import graft.geo.CellIndex
import graft.io.WebPages
import graft.ops.SpatialJoins
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the optimizations SURVEY.md §4 promises must be
  * visible in `explain` output, not just hoped for. */
class PlanSpec extends SparkSpec {

  /** plan traversal that descends into adaptive query stages */
  private val aqe = new AdaptiveSparkPlanHelper {}

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val df = spark.read.parquet(s"${sf("sf0.001")}/lineitem.parquet")
      .where(col("l_quantity") > 40.0)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)"),
      s"no pushed filter in: $scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning missing: $scan")
  }

  test("dim-table join broadcasts (no shuffle of the fact side)") {
    val orders = spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
    val customer = spark.read.parquet(s"${sf("sf0.001")}/customer.parquet")
    val p = plan(orders.join(broadcast(customer),
      col("o_custkey") === col("c_custkey")))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("pointInBox plans as an equi-join (hash/SMJ), never nested-loop") {
    val pts = WebPages.features(WebPages.pages(spark, 100, 2))
    val zones = WebPages.zones(spark, 8).drop("wkb")
    val p = plan(SpatialJoins.pointInBox(pts, zones, CellIndex.Unit20, 5))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"theta-join fallback detected:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("flagship query keeps whole-stage codegen around the join/agg") {
    val df = SparkEntry.entry(spark)
    df.collect() // materialize so AQE settles on the final physical plan
    val p = df.queryExecution.executedPlan.toString
    // AQE's final-plan rendering marks whole-stage codegen spans as "*(n)"
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("banded-LSH candidate generation plans as an equi-join, never all-pairs") {
    val spark2 = spark
    import spark2.implicits._
    val emb = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val df = graft.ops.Similarity.annLshBanded(emb, "vec_id", "embedding", 2, 4, 6)
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs fallback detected:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("IVF-SQ8 candidate generation plans as a list equi-join, never all-pairs") {
    val spark2 = spark
    import spark2.implicits._
    val emb = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val df = graft.ops.Quantize.annIvfSq8(emb, "vec_id", "embedding", 2,
      nLists = 8, nProbe = 3)
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs fallback detected:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("IVF-SQ8 rerank plans the refine joins as equi-joins, never all-pairs") {
    val spark2 = spark
    import spark2.implicits._
    val emb = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val df = graft.ops.Quantize.annIvfSq8Rerank(emb, "vec_id", "embedding", 2,
      nLists = 8, nProbe = 3, rerankK = 4)
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs fallback detected:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("PQ-ADC blocked search plans as a block equi-join, never all-pairs") {
    val spark2 = spark
    import spark2.implicits._
    val emb = (0 until 60).map { i =>
      (i.toLong, i % 5, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "label", "embedding")
    val df = graft.ops.Quantize.annPq(emb, "vec_id", "embedding", 2,
      m = 4, ksub = 8, blockCol = Some("label"))
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs fallback detected:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("IVF-PQ candidate generation plans as a list equi-join, never all-pairs") {
    val spark2 = spark
    import spark2.implicits._
    val emb = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val df = graft.ops.Quantize.annIvfPq(emb, "vec_id", "embedding", 2,
      nLists = 8, nProbe = 3, m = 4, ksub = 8)
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"all-pairs fallback detected:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("jaccard kept-gram self-join plans as an equi-join on gram") {
    val spark2 = spark
    import spark2.implicits._
    val docs = (0 until 20).map(i => (i.toLong, s"a$i b$i c common d e")).toDF("doc_id", "text")
    val df = graft.ops.Dedup.ngramJaccard(docs, "doc_id", "text", 3, dfCap = 5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("join-based pair re-rank plans as two equi-joins, never nested-loop") {
    val spark2 = spark
    import spark2.implicits._
    val emb = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val pairs = (0 until 40).map(i => (i.toLong, ((i + 1) % 40).toLong)).toDF("qid", "pid")
    val df = graft.ops.Similarity.scorePairsJoin(pairs, emb, "vec_id", "embedding")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("minhash signatures are one hash-agg shuffle (no numHashes-times row explode)") {
    val spark2 = spark
    import spark2.implicits._
    val tv = rddBacked((0 until 100).map(i => (i.toLong % 10, i.toLong)).toDF("id", "vid"))
    val df = graft.ops.Dedup.minhash(tv, 64)
    df.collect()
    val p = df.queryExecution.executedPlan
    // the signature is an array per doc: one exchange, and no Generate
    // fanning tokens out numHashes times before (or after) the aggregate
    aqe.collect(p) { case e: ShuffleExchangeExec => e }.size shouldBe 1
    assert(aqe.collect(p) { case g: GenerateExec => g }.isEmpty, p)
  }

  test("LSH star-edge extraction plans as agg + equi-join, never all-pairs") {
    val spark2 = spark
    import spark2.implicits._
    val sigs = rddBacked((0 until 60).map(i =>
      (i.toLong, (0 until 4).map(j => (i % 5).toLong * 7 + j))).toDF("id", "sig"))
    val df = graft.ops.Dedup.lshComponentEdges(sigs)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("cell encode compiles to pure built-in expressions (no UDF in plan)") {
    val pts = WebPages.features(WebPages.pages(spark, 10, 1))
    val df = pts.select(CellIndex.Unit20.encodeCol(col("x"), col("y"), 10))
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.toLowerCase.contains("udf("), analyzed)
  }

  test("URL canonicalization is a UDF-free single projection (no exchange)") {
    val df = WebPages.pages(spark, 10, 1).select(
      graft.ops.Urls.canonicalize(col("url")),
      graft.ops.Urls.registeredDomain(graft.ops.Urls.host(col("url"))))
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.toLowerCase.contains("udf("), analyzed)
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
  }

  test("WARC record parse is per-partition (no exchange below the scan)") {
    import spark.implicits._
    val files = Seq(("f0", graft.io.Warc.write(Seq(graft.io.Warc.WarcRecord(
      "response", "https://e.org/0", "2023-11-14T22:13:20Z", "<urn:uuid:0>",
      "application/http", "x".getBytes)))))
      .toDF("path", "content")
    val p = plan(graft.io.Warc.records(files))
    assert(!p.contains("Exchange"), p)
  }

  test("PQ index build is a native projection: no row codec, barrier present (round 6)") {
    // parquet-backed input (an in-memory LocalRelation would be
    // constant-folded by ConvertToLocalRelation, hiding the projections)
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val df = graft.ops.Quantize.annIvfPq(emb, "vec_id", "embedding", 2,
      nLists = 16, nProbe = 3, m = 8, ksub = 16)
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    // round-5 shape: DeserializeToObject → MapPartitions → SerializeFromObject
    // per side; round 6 replaces it with fused native-expression projections
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"), p)
    assert(p.contains("float_vec_pq_encode") && p.contains("float_vec_pq_lut"), p)
    assert(p.contains("int_vec_adc_dist"), p)
    // the evalBarrier explode — without it the streamed side's encode
    // re-runs once per candidate PAIR inside the join's match loop
    assert(p.contains("Generate explode"), p)
  }
}
