package graft.ops

import graft.SparkSpec
import graft.functions.VecKernels
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  /** deterministic clustered embeddings: 10 clusters × 20 members, member =
    * cluster base + small deterministic perturbation. */
  lazy val emb = {
    val spark2 = spark
    import spark2.implicits._
    (0 until 200).map { i =>
      val c = i % 10
      val v = Array.tabulate(16) { d =>
        val base = math.sin(c * 16 + d + 1).toFloat
        val pert = (((i * 16 + d) * 2654435761L % 1000L) / 10000.0f) - 0.05f
        base + pert
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  /** [[emb]] behind an RDD, so projections over it run generated code */
  lazy val embRdd = rddBacked(emb)

  def bruteTopK(k: Int): Map[Long, Seq[Long]] = {
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    rows.map { case (q, qv) =>
      val qn = math.sqrt(qv.map(x => x.toDouble * x).sum)
      q -> rows.filter(_._1 != q).map { case (p, pv) =>
        val dot = qv.zip(pv).map { case (a, b) => a.toDouble * b.toDouble }.sum
        val pn = math.sqrt(pv.map(x => x.toDouble * x).sum)
        (p, dot / (qn * pn))
      }.sortBy { case (p, c) => (-c, p) }.take(k).map(_._1).toSeq
    }.toMap
  }

  test("cosineTopK matches brute force (ids and ranks)") {
    val got = Similarity.cosineTopK(emb, "vec_id", "embedding", 3)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val expect = bruteTopK(3)
    got.foreach { case (q, ids) => assert(ids == expect(q), s"query $q") }
    assert(got.size == 200)
  }

  test("cosineTopKBroadcast is bit-identical to the windowed column formulation") {
    def check(): Unit = {
      val a = Similarity.cosineTopK(embRdd, "vec_id", "embedding", 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      val b = Similarity.cosineTopKBroadcast(embRdd, "vec_id", "embedding", 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(a == b)
    }
    check()
    withInterpretedEval(check())
  }

  test("cosineTopKAuto routes by plan stats; both arms bit-identical") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    def hasExchange(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("Exchange")
    // tiny local table → under the threshold: the broadcast arm, no exchange
    assert(emb.queryExecution.optimizedPlan.stats.sizeInBytes <= Similarity.BroadcastVecBytes)
    assert(!hasExchange(Similarity.cosineTopKAuto(emb, "vec_id", "embedding", 3)))
    // an RDD has no size estimate → past the threshold: the join arm
    assert(embRdd.queryExecution.optimizedPlan.stats.sizeInBytes > Similarity.BroadcastVecBytes)
    def check(): Unit = {
      val auto = Similarity.cosineTopKAuto(embRdd, "vec_id", "embedding", 3)
      assert(hasExchange(auto))
      assert(rows(auto) == rows(Similarity.cosineTopKBroadcast(embRdd, "vec_id", "embedding", 3)))
    }
    check()
    withInterpretedEval(check())
  }

  test("annLshBanded recall@3 beats single-table at the same total planes") {
    val expect = bruteTopK(3)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      val rs = expect.toSeq.map { case (q, ids) =>
        got.get(q).map(g => ids.count(g.contains).toDouble / ids.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val banded = recallOf(Similarity.annLshBanded(emb, "vec_id", "embedding", 3,
      bands = 6, rowsPerBand = 4))
    val single = recallOf(Similarity.annLshBanded(emb, "vec_id", "embedding", 3,
      bands = 1, rowsPerBand = 24))
    assert(banded >= 0.9, s"banded recall@3 = $banded")
    assert(banded > single, s"OR-amplification should beat one 24-bit table: $banded vs $single")
  }

  test("annIvf recall@3 is high with a few probes on clustered data") {
    val expect = bruteTopK(3)
    val got = Similarity.annIvf(emb, "vec_id", "embedding", 3, nLists = 12, nProbe = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = expect.toSeq.map { case (q, ids) =>
      got.get(q).map(g => ids.count(g.contains).toDouble / ids.size).getOrElse(0.0)
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.8, s"ivf recall@3 = $recall")
    // candidates come only from probed lists — far fewer than all-pairs
    assert(got.values.map(_.size).sum <= 200 * 3)
  }

  test("k-means-refined IVF centroids: deterministic, recall >= raw seed draw") {
    val spark2 = spark
    import spark2.implicits._
    // clustered corpus with one dominant cluster: the hash-strided seed
    // draw lands mostly inside it, under-covering the small clusters —
    // the shape where Lloyd refinement actually moves centroids
    val data = (0 until 300).map { i =>
      val c = if (i % 10 < 7) 0 else 1 + i % 5
      val v = Array.tabulate(16)(d =>
        (math.cos(c * 16 + d) * 3.0 + math.sin(i * 16 + d) * 0.4).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val exact = Similarity.cosineTopK(data, "vec_id", "embedding", 3)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    def recall(iters: Int): Double = {
      val got = Similarity.annIvf(data, "vec_id", "embedding", 3,
        nLists = 12, nProbe = 2, kmeansIters = iters)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      val rs = exact.toSeq.map { case (q, ids) =>
        got.get(q).map(g => ids.count(g.contains).toDouble / ids.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val (r0, r2) = (recall(0), recall(2))
    assert(r2 >= r0, s"refined recall $r2 < seed recall $r0")
    assert(r2 >= 0.8, s"refined recall $r2")
    // fixed-point reduction → exactly reproducible centroids across runs
    val e = data.select(col("vec_id").cast("long").as("id"),
      col("embedding").as("v"))
    val c1 = Similarity.ivfCentroids(e, 12, kmeansIters = 2).map(_._2.toSeq)
    val c2 = Similarity.ivfCentroids(e.repartition(7), 12, kmeansIters = 2).map(_._2.toSeq)
    c1 shouldBe c2
  }

  test("srpBandKey is bit-identical to the column-expression band key") {
    val fromCol = emb.select(col("vec_id"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .join(emb, "vec_id")
      .withColumn("bkey", RefTwins.bandKeyCol(col("embedding"), col("band"), 6))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    for ((id, v) <- vecs; b <- 0 until 4) {
      assert(fromCol((id, b)) == VecKernels.srpBandKey(new GenericArrayData(v), b, 6),
        s"vec $id band $b")
    }
  }

  test("native srpKeys is bit-identical to kernel, HOF band key and HOF signature, both modes") {
    def check(): Unit = {
      val rows = rddBacked(emb).select(col("vec_id"), col("embedding"),
          graft.functions.VecExprs.srpKeys(col("embedding"), 4, 6).as("keys"),
          element_at(graft.functions.VecExprs.srpKeys(col("embedding"), 1, 10), 1).as("sig"),
          RefTwins.bandKeyCol(col("embedding"), lit(0), 10).as("sigref"))
        .collect()
      rows.length shouldBe 200
      rows.foreach { r =>
        val v = new GenericArrayData(r.getSeq[Float](1).toArray)
        val keys = r.getSeq[Long](2)
        (0 until 4).foreach { b =>
          assert(keys(b) == VecKernels.srpBandKey(v, b, 6), s"band $b")
        }
        r.getLong(3) shouldBe r.getLong(4) // native signature == HOF twin
      }
    }
    check()
    withInterpretedEval(check())
  }

  test("scorePairsJoin is bit-identical to scorePairsBroadcast (the scale re-rank arm)") {
    val spark2 = spark
    import spark2.implicits._
    val pairs = rddBacked((0 until 200).flatMap(q => Seq(1, 7, 113).map(d => (q.toLong, ((q + d) % 200).toLong)))
      .toDF("qid", "pid"))
    def check(): Unit = {
      val viaJoin = Similarity.scorePairsJoin(pairs, embRdd, "vec_id", "embedding")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val viaBc = Similarity.scorePairsBroadcast(pairs, embRdd, "vec_id", "embedding")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(viaJoin.keySet == viaBc.keySet)
      viaJoin.foreach { case (k, c) =>
        assert(java.lang.Double.doubleToLongBits(c) ==
          java.lang.Double.doubleToLongBits(viaBc(k)), s"pair $k differs")
      }
    }
    check()
    withInterpretedEval(check())
  }

  test("annIvf list-size salt cap preserves output exactly (pure skew mitigation)") {
    val base = Similarity.annIvf(emb, "vec_id", "embedding", 3, nLists = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val salted = Similarity.annIvf(emb, "vec_id", "embedding", 3, nLists = 8, nProbe = 2,
        maxListSize = 7) // 200 vecs / 8 lists ⇒ every list salts into ≥4 sub-keys
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(salted == base)
  }

  test("dot/norm column functions match scala") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val r = df.select(RefTwins.dot(col("a"), col("b")).as("d"),
      RefTwins.norm(col("a")).as("n")).head
    assert(r.getDouble(0) == 32.0)
    assert(r.getDouble(1) == math.sqrt(14.0))
  }

  test("cosineTopK arms agree on a null block: its rows are neither query nor candidate") {
    val spark2 = spark
    import spark2.implicits._
    val df = rddBacked(Seq(
      (1L, Array(1f, 0f), Option("a")), (2L, Array(1f, 1f), Option("a")),
      (3L, Array(0f, 1f), Option.empty[String]), (4L, Array(1f, 2f), Option.empty[String])
    ).toDF("id", "v", "blk"))
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    def check(): Unit = {
      val joinArm = rows(Similarity.cosineTopK(df, "id", "v", 3, Some("blk")))
      joinArm.map(r => (r._1, r._3)) shouldBe Set((1L, 2L), (2L, 1L))
      rows(Similarity.cosineTopKBroadcast(df, "id", "v", 3, Some("blk"))) shouldBe joinArm
    }
    check()
    withInterpretedEval(check())
  }

  test("scorePairs arms drop a pair whose id is not in emb") {
    val spark2 = spark
    import spark2.implicits._
    val pairs = rddBacked(Seq[(Option[Long], Option[Long])]((Some(0L), Some(1L)),
      (Some(0L), Some(999L)), (Some(999L), Some(2L)), (None, Some(2L)), (Some(3L), Some(4L)))
      .toDF("qid", "pid"))
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def check(): Unit = {
      val joinArm = rows(Similarity.scorePairsJoin(pairs, embRdd, "vec_id", "embedding"))
      joinArm.map(r => (r._1, r._2)) shouldBe Set((0L, 1L), (3L, 4L))
      rows(Similarity.scorePairsBroadcast(pairs, embRdd, "vec_id", "embedding")) shouldBe joinArm
    }
    check()
    withInterpretedEval(check())
  }

  test("scorePairs arms keep every vector of a repeated id: one row per vector pair") {
    val spark2 = spark
    import spark2.implicits._
    // id 2 holds two vectors; (2, 2) pairs each of them with both
    val vecs = rddBacked(Seq((1L, Array(1f, 0f)), (2L, Array(1f, 1f)), (2L, Array(0.5f, 2f)),
      (3L, Array(3f, 1f))).toDF("id", "v"))
    val pairs = rddBacked(Seq((1L, 2L), (2L, 1L), (2L, 2L), (1L, 3L)).toDF("qid", "pid"))
    // a multiset of (qid, pid, cos bits)
    def rows(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq.sorted
    def check(): Unit = {
      val joinArm = rows(Similarity.scorePairsJoin(pairs, vecs, "id", "v"))
      joinArm.map(r => (r._1, r._2)) shouldBe Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 1L),
        (2L, 2L), (2L, 2L), (2L, 2L), (2L, 2L))
      rows(Similarity.scorePairsBroadcast(pairs, vecs, "id", "v")) shouldBe joinArm
    }
    check()
    withInterpretedEval(check())
  }
}
