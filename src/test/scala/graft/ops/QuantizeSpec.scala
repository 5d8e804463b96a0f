package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Int8 scalar quantization: code range, reconstruction distortion bound,
  * and quantized-search recall vs the exact baseline. */
class QuantizeSpec extends SparkSpec {

  private lazy val emb = {
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

  test("codes stay in [-127, 127]; reconstruction error <= scale/2") {
    val rows = rddBacked(emb).select(col("vec_id"), col("embedding"),
        Quantize.sq8Scale(col("embedding")).as("s"),
        Quantize.sq8Codes(col("embedding")).as("c"))
      .collect()
    rows.length shouldBe 200
    rows.foreach { r =>
      val s = r.getDouble(2)
      val codes = r.getSeq[Long](3)
      assert(codes.forall(c => c >= -127 && c <= 127))
      val v = r.getSeq[Float](1)
      // v̂_i = code_i · scale, the reconstruction LakeSpec reads back
      v.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x.toDouble - c * s) <= s / 2 + 1e-12)
      }
    }
  }

  test("native sq8 expressions are bit-identical to the column-HOF twins, both modes") {
    def check(): Unit = {
      val rows = rddBacked(emb).select(
          Quantize.sq8Codes(col("embedding")).as("c"),
          RefTwins.sq8CodesRef(col("embedding")).as("cref"))
        .collect()
      rows.length shouldBe 200
      rows.foreach { r => r.getSeq[Long](0) shouldBe r.getSeq[Long](1) }
    }
    check()
    withInterpretedEval(check())
  }

  test("IVF-SQ8 scores candidates exactly like brute-force SQ8, with high recall") {
    val brute = Quantize.annSq8(emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap
    val got = Quantize.annIvfSq8(emb, "vec_id", "embedding", 3,
      nLists = 16, nProbe = 4).collect()
    got.nonEmpty shouldBe true
    // every returned (qid,pid) carries the identical quantized score the
    // all-pairs baseline computes — composition changes CANDIDATES only
    got.foreach { r =>
      val (qdot, cosQ) = brute.getOrElse((r.getLong(0), r.getLong(2)),
        // pid outside brute's top-3: recompute is covered by recall below;
        // only check pairs the baseline also ranked
        (r.getLong(3), r.getDouble(4)))
      r.getLong(3) shouldBe qdot
      assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToLongBits(cosQ))
    }
    val bruteTop = brute.keys.groupBy(_._1).map { case (q, ks) => q -> ks.map(_._2).toSet }
    val gotTop = got.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = bruteTop.toSeq.map { case (q, ids) =>
      gotTop.get(q).map(g => ids.count(g.contains).toDouble / ids.size).getOrElse(0.0)
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.6, s"mean IVF-SQ8 recall@3 vs brute-force SQ8 = $recall")
  }

  test("binary at-rest codes: byte parity, round trip, and dot parity, both modes") {
    import graft.functions.VecExprs
    def check(): Unit = {
      val rows = rddBacked(emb).select(
          Quantize.sq8Codes(col("embedding")).as("c"),
          Quantize.sq8Bytes(col("embedding")).as("b"),
          RefTwins.bytesToCodes(Quantize.sq8Bytes(col("embedding"))).as("rt"))
        .collect()
      rows.foreach { r =>
        val codes = r.getSeq[Long](0)
        val bytes = r.getAs[Array[Byte]](1)
        bytes.toSeq shouldBe codes.map(_.toByte)
        r.getSeq[Long](2) shouldBe codes
      }
      // dotB over packed bytes == dotL over long codes
      val a = rddBacked(emb).select(col("vec_id"),
        Quantize.sq8Codes(col("embedding")).as("c"),
        Quantize.sq8Bytes(col("embedding")).as("b"))
      val d = a.select(
          VecExprs.dotL(col("c"), col("c")).as("dl"),
          VecExprs.dotB(col("b"), col("b")).as("db"))
        .collect()
      d.foreach(r => r.getLong(0) shouldBe r.getLong(1))
    }
    check()
    withInterpretedEval(check())
  }

  test("annSq8FromCodes over the at-rest layout is bit-identical to annSq8") {
    val viaFloat = Quantize.annSq8(emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), java.lang.Double.doubleToLongBits(r.getDouble(4)))).toMap
    val quant = emb.select(col("vec_id"),
      Quantize.sq8Bytes(col("embedding")).as("codes"))
    val viaBytes = Quantize.annSq8FromCodes(quant, "vec_id", "codes", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), java.lang.Double.doubleToLongBits(r.getDouble(4)))).toMap
    viaBytes shouldBe viaFloat
  }

  test("quantized top-3 has high recall against exact cosine") {
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", 3)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val got = Quantize.annSq8(emb, "vec_id", "embedding", 3)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = exact.toSeq.map { case (q, ids) =>
      got.get(q).map(g => ids.count(g.contains).toDouble / ids.size).getOrElse(0.0)
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.9, s"mean quantized recall@3 = $recall")
  }

  test("PQ-ADC: distance = L2 to the PQ reconstruction; deterministic across partitionings") {
    val (m, ksub) = (4, 8)
    val blocked = emb.withColumn("label", pmod(col("vec_id"), lit(10)))
    val cb = Quantize.pqCodebooks(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), m, ksub)
    cb.length shouldBe m
    cb.foreach(_.length shouldBe ksub)
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val got = Quantize.annPq(blocked, "vec_id", "embedding", 3, m, ksub, Some("label"))
      .collect()
    got.nonEmpty shouldBe true
    // ADC identity: the reported distance IS ||q − ŷ||² for the corpus
    // vector's PQ reconstruction ŷ (subspace-blocked summation)
    got.foreach { r =>
      val (q, p) = (vecs(r.getLong(0)), vecs(r.getLong(2)))
      val codes = graft.functions.VecKernels.pqCodes(p, cb)
      val dsub = q.length / m
      var dist = 0.0
      for (s <- 0 until m) {
        var acc = 0.0
        for (d <- 0 until dsub) {
          val diff = q(s * dsub + d).toDouble - cb(s)(codes(s))(d).toDouble
          acc += diff * diff
        }
        dist += acc
      }
      assert(java.lang.Double.doubleToLongBits(dist) ==
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
    // pure function of the input set: identical output after repartitioning
    val re = Quantize.annPq(blocked.repartition(7), "vec_id", "embedding", 3,
        m, ksub, Some("label"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3)))).toMap
    val first = got.map(r => (r.getLong(0), r.getInt(1)) ->
      (r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3)))).toMap
    re shouldBe first
  }

  test("PQ-ADC recall on clustered data: top-3 recovers co-cluster members") {
    // 50 tight clusters of 4, several clusters per block — the regime PQ is
    // for: ranking is decided by inter-cluster separation (>> reconstruction
    // error), not by intra-cluster noise (<< reconstruction error, which no
    // m-byte code can resolve — the rerank pattern exists for that)
    val spark2 = spark
    import spark2.implicits._
    val (m, ksub) = (4, 8)
    val pqEmb = (0 until 200).map { i =>
      val cl = i / 4
      val v = Array.tabulate(16) { d =>
        val base = math.sin(cl * 37 + d * 3 + 1).toFloat * 2f
        val pert = (((i * 16 + d) * 2654435761L % 1000L) / 20000.0f) - 0.025f
        base + pert
      }
      (i.toLong, cl % 5, v)
    }.toDF("vec_id", "label", "embedding")
    val vecs = pqEmb.collect().map(r => r.getLong(0) -> r.getSeq[Float](2).toArray).toMap
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    val byBlock = (0 until 200).map(_.toLong).groupBy(id => (id / 4) % 5)
    val exact = vecs.keys.map { q =>
      q -> byBlock((q / 4) % 5).filter(_ != q)
        .sortBy(p => (l2(vecs(q), vecs(p)), p)).take(3).toSet
    }.toMap
    val gotTop = Quantize.annPq(pqEmb, "vec_id", "embedding", 3, m, ksub, Some("label"))
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = exact.toSeq.map { case (q, ids) =>
      gotTop.get(q).map(g => ids.count(g.contains).toDouble / ids.size).getOrElse(0.0)
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.7, s"mean PQ-ADC recall@3 vs exact L2 = $recall")
  }

  test("IVF-PQ scores its candidates exactly like brute-force PQ-ADC, with recall") {
    val (m, ksub, nLists, nProbe) = (4, 8, 16, 4)
    val cb = Quantize.pqCodebooks(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), m, ksub)
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def adc(q: Array[Float], p: Array[Float]): Double = {
      val codes = graft.functions.VecKernels.pqCodes(p, cb)
      val lut = graft.functions.VecKernels.pqLutTable(q, cb)
      var dist = 0.0; var s = 0
      while (s < m) { dist += lut(s)(codes(s)); s += 1 }
      dist
    }
    val got = Quantize.annIvfPq(emb, "vec_id", "embedding", 3, nLists, nProbe, m, ksub)
      .collect()
    got.nonEmpty shouldBe true
    // composition changes CANDIDATES only: every returned pair carries the
    // identical ADC distance the all-pairs formulation computes
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(adc(vecs(r.getLong(0)), vecs(r.getLong(2)))))
    }
    // recall vs brute-force PQ-ADC over all pairs
    val bruteTop = vecs.keys.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(p => (adc(vecs(q), vecs(p)), p)).take(3).toSet
    }.toMap
    val gotTop = got.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = bruteTop.toSeq.map { case (q, ids) =>
      gotTop.get(q).map(g => ids.count(g.contains).toDouble / ids.size).getOrElse(0.0)
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.5, s"mean IVF-PQ recall@3 vs brute-force PQ-ADC = $recall")
  }

  test("annIvfPq refuses ksub outside [1,256] with annPq's error") {
    val (m, nLists, nProbe) = (4, 16, 4)
    for (ksub <- Seq(0, 300)) {
      val viaPq = intercept[IllegalArgumentException](
        Quantize.annPq(emb, "vec_id", "embedding", 3, m, ksub))
      val viaIvf = intercept[IllegalArgumentException](
        Quantize.annIvfPq(emb, "vec_id", "embedding", 3, nLists, nProbe, m, ksub))
      viaIvf.getMessage shouldBe viaPq.getMessage
      viaIvf.getMessage should include(s"ksub=$ksub")
    }
  }

  test("annIvfPq refuses a corpus of fewer than ksub rows") {
    val e = intercept[IllegalArgumentException](Quantize.annIvfPq(
      emb.where(col("vec_id") < 5), "vec_id", "embedding", 3, nLists = 2, nProbe = 1,
      m = 4, ksub = 8))
    e.getMessage should include("ksub=8")
    e.getMessage should include("5 seeds drawn")
  }

  test("native SDC scoring is bit-identical to the HOF twin, both eval modes") {
    val spark2 = spark
    import spark2.implicits._
    val (m, ksub) = (4, 8)
    val cb = Quantize.pqCodebooks(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), m, ksub)
    val bcCb = spark.sparkContext.broadcast(cb)
    val quant = emb.mapPartitions { it =>
      it.map { r =>
        (r.getLong(0), r.getLong(0) % 10,
          graft.functions.VecKernels.pqCodes(r.getSeq[Float](1).toArray, bcCb.value).map(_.toByte))
      }
    }.toDF("vec_id", "blk", "codes")
    def check(): Unit = {
      val native = Quantize.annPqSdc(quant, cb, "vec_id", "codes", 3, Some("blk"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3)))).toMap
      val ref = RefTwins.annPqSdcRef(quant, cb, "vec_id", "codes", 3, Some("blk"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3)))).toMap
      native shouldBe ref
      native.nonEmpty shouldBe true
    }
    check()
    withInterpretedEval(check())
  }

  test("IVF-PQ rerank = exact cosine order restricted to the PQ candidates") {
    val (k, rerankK, nLists, nProbe, m, ksub) = (2, 4, 16, 4, 4, 8)
    val cands = Quantize.annIvfPq(emb, "vec_id", "embedding", rerankK, nLists, nProbe, m, ksub)
      .select("qid", "pid")
    val expected = Similarity.scorePairs(cands, emb, "vec_id", "embedding")
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(k)
          .map(r => (r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
          .toSeq
      }
    val got = Quantize.annIvfPqRerank(emb, "vec_id", "embedding", k,
        nLists, nProbe, m, ksub, rerankK)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1))
          .map(r => (r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
          .toSeq
      }
    got shouldBe expected
  }

  test("IVF-SQ8 rerank = exact cosine order restricted to the quantized candidates") {
    val (k, rerankK, nLists, nProbe) = (2, 4, 16, 4)
    // the candidate set the refine step sees: the quantized index's top-rerankK
    val cands = Quantize.annIvfSq8(emb, "vec_id", "embedding", rerankK, nLists, nProbe)
      .select("qid", "pid")
    // expected = exact cosine over exactly those pairs (same scorePairs fold
    // the production path uses), ranked (cos desc, pid asc), top-k
    val expected = Similarity.scorePairs(cands, emb, "vec_id", "embedding")
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(k)
          .map(r => (r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
          .toSeq
      }
    val got = Quantize.annIvfSq8Rerank(emb, "vec_id", "embedding", k,
        nLists, nProbe, rerankK)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1))
          .map(r => (r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3))))
          .toSeq
      }
    got shouldBe expected

    // refine never hurts: recall@k vs exact cosine >= the unreranked index's
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", k)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    def recallOf(top: Map[Long, Set[Long]]): Double = {
      val rs = exact.toSeq.map { case (q, ids) =>
        top.get(q).map(g => ids.count(g.contains).toDouble / ids.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    val unreranked = Quantize.annIvfSq8(emb, "vec_id", "embedding", k, nLists, nProbe)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val reranked = got.map { case (q, rs) => q -> rs.map(_._1).toSet }
    assert(recallOf(reranked) >= recallOf(unreranked),
      s"rerank recall ${recallOf(reranked)} < unreranked ${recallOf(unreranked)}")
  }

  test("subL2 gives the PQ encode, LUT and SDC table values of a per-subspace fold") {
    import graft.functions.VecKernels
    val (m, ksub) = (4, 8)
    val cb = Quantize.pqCodebooks(
      emb.select(col("vec_id").as("id"), col("embedding").as("v")), m, ksub)
    val dsub = cb(0)(0).length
    // Σ_d (a(off+d) − b(d))², each difference in double, left to right from 0.0
    def fold(a: Array[Float], off: Int, b: Array[Float]): Double =
      (0 until dsub).foldLeft(0.0) { (acc, d) =>
        val diff = a(off + d).toDouble - b(d).toDouble
        acc + diff * diff
      }
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val queries = emb.collect().map(_.getSeq[Float](1).toArray) ++ Seq(
      Array.fill(m * dsub)(-0.0f), Array.fill(m * dsub)(Float.MinPositiveValue),
      Array.tabulate(m * dsub)(d => if (d % 2 == 0) 1.0e-39f else -3.0e5f))
    queries.foreach { q =>
      val lut = VecKernels.pqLutTable(q, cb)
      val codes = VecKernels.pqCodes(q, cb)
      for (s <- 0 until m) {
        val want = cb(s).map(c => fold(q, s * dsub, c))
        lut(s).map(bits).toSeq shouldBe want.map(bits).toSeq
        codes(s) shouldBe want.indexOf(want.min) // ties to the smallest index
      }
    }
    val sdc = Quantize.pqSdcTable(cb)
    for (s <- 0 until m; i <- 0 until ksub)
      sdc(s)(i).map(bits).toSeq shouldBe cb(s).map(c => bits(fold(cb(s)(i), 0, c))).toSeq
  }
}
