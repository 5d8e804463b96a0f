package graft.geo

import graft.{PropHelpers, SparkSpec}
import graft.ops.RefTwins
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

class CellIndexSpec extends SparkSpec with PropHelpers {
  import CellIndex._

  val coord: Gen[Long] = Gen.choose(0L, (1L << 28) - 1)
  val lvlGen: Gen[Int] = Gen.choose(0, 28)

  /** the four cells one level below `cell`, the inverse [[parent]] is checked against */
  def children(cell: Long): Seq[Long] = {
    val (c, r) = (colDecode(cell) << 1, rowDecode(cell) << 1)
    cellRange(levelOf(cell) + 1, c, c + 1, r, r + 1).toSeq
  }

  test("interleave round-trips col/row at any level") {
    forAll(coord, coord, lvlGen) { (c0, r0, lvl) =>
      val n = (1L << lvl) - 1
      val (c, r) = (c0 & n, r0 & n)
      val cell = pack(lvl, c, r)
      assert(levelOf(cell) == lvl && colDecode(cell) == c && rowDecode(cell) == r)
      assert(cell >= 0L)
    }
  }

  test("parent/children are inverse") {
    forAll(coord, coord, Gen.choose(1, 27)) { (c0, r0, lvl) =>
      val n = (1L << lvl) - 1
      val cell = pack(lvl, c0 & n, r0 & n)
      assert(children(parent(cell)).contains(cell))
      children(cell).foreach(ch => assert(parent(ch) == cell))
    }
  }

  test("z-order locality: parent id is a prefix relation") {
    // every child of a cell sorts within [cell<<2 interleave window]
    val cell = pack(5, 10, 21)
    val kids = children(cell)
    assert(kids.map(k => k & ((1L << 58) - 1)).forall { m =>
      (m >> 2) == (cell & ((1L << 58) - 1))
    })
  }

  test("encode matches manual grid arithmetic on the unit world") {
    val ci = CellIndex.Unit20
    forAll(Gen.choose(0L, 1048575L), Gen.choose(0L, 1048575L), Gen.choose(0, 20)) { (x, y, lvl) =>
      val shift = 20 - lvl
      assert(ci.colOf(x.toDouble, lvl) == (x >> shift))
      assert(ci.rowOf(y.toDouble, lvl) == (y >> shift))
      assert(ci.encode(x.toDouble, y.toDouble, lvl) == pack(lvl, x >> shift, y >> shift))
    }
  }

  test("cellsCovering contains the cell of every point of the envelope (property 5.3)") {
    val ci = CellIndex.WebMercator
    val g = Gen.choose(-2.0e7, 2.0e7)
    forAll(g, g, Gen.choose(0.0, 1e5), Gen.choose(0.0, 1e5), Gen.choose(4, 14)) {
      (x, y, w, h, lvl) =>
        val cover = RefTwins.cellsCovering(ci, x, y, x + w, y + h, lvl).toSet
        // corners + centre must be covered
        for ((px, py) <- Seq((x, y), (x + w, y), (x, y + h), (x + w, y + h), (x + w / 2, y + h / 2)))
          assert(cover.contains(ci.encode(px, py, lvl)))
    }
  }

  test("ring(k) has Chebyshev distance exactly k; disk is complete") {
    val ci = CellIndex.Unit20
    val cell = pack(10, 512, 300)
    for (k <- 0 to 3) {
      val r = ci.ring(cell, k)
      assert(r.nonEmpty)
      r.foreach { cc =>
        val d = math.max(math.abs(colDecode(cc) - 512), math.abs(rowDecode(cc) - 300))
        assert(d == k)
      }
      if (k > 0) assert(r.size == 8 * k) // interior cell, no clamping
    }
    assert(ci.disk(cell, 2).size == 25)
    // border clamp: corner cell ring-1 has only 3 neighbours
    assert(ci.ring(pack(10, 0, 0), 1).size == 3)
  }

  test("Column builders agree with pure Scala") {
    val ci = CellIndex.Unit20
    val spark2 = spark
    import spark2.implicits._
    val rows = Seq.tabulate(200)(i => ((i * 7919L) % 1048576L, (i * 104729L) % 1048576L))
    val df = rows.toDF("x", "y")
      .withColumn("cell", ci.encodeCol(col("x").cast("double"), col("y").cast("double"), 12))
    val got = df.select("x", "y", "cell").as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, cell) =>
      assert(cell == ci.encode(x.toDouble, y.toDouble, 12), s"($x,$y)")
    }
  }

  test("SQL emitter agrees with pure Scala (evaluated through Spark SQL)") {
    val rows = Seq.tabulate(100)(i => ((i * 7919L) % 4096L, (i * 104729L) % 4096L))
    val spark2 = spark
    import spark2.implicits._
    val df = rows.toDF("c", "r")
    df.createOrReplaceTempView("cr")
    val sql = s"select c, r, ${CellIndex.packSql(12, "c", "r")} as cell from cr"
    spark.sql(sql).as[(Long, Long, Long)].collect().foreach { case (c, r, cell) =>
      assert(cell == pack(12, c, r), s"($c,$r)")
    }
  }

  /** the cover at `level` of each (xmin, ymin, xmax, ymax), through an RDD-backed frame */
  private def covers(envs: Seq[(Double, Double, Double, Double)], level: Int): Seq[Seq[Long]] = {
    val spark2 = spark
    import spark2.implicits._
    val df = rddBacked(envs.zipWithIndex.map { case ((a, b, c, d), i) => (i, a, b, c, d) }
      .toDF("i", "xmin", "ymin", "xmax", "ymax"))
    df.select(col("i"), CellIndex.Unit20.cellsCoveringCol(col("xmin"), col("ymin"), col("xmax"), col("ymax"), level))
      .as[(Int, Seq[Long])].collect().sortBy(_._1).map(_._2).toSeq
  }

  test("cellsCoveringCol equals a brute-force cover in both eval modes") {
    val level = 6
    val (n, s) = (1 << level, 1048576.0 / (1 << level))
    // the cells whose box meets the closed envelope; the border cells reach past the world
    def bruteForce(x0: Double, y0: Double, x1: Double, y1: Double): Seq[Long] = {
      def meets(k: Int, lo: Double, hi: Double) =
        (k == 0 || k * s <= hi) && (k == n - 1 || (k + 1) * s > lo)
      for (c <- 0 until n if meets(c, x0, x1); r <- 0 until n if meets(r, y0, y1)) yield pack(level, c, r)
    }
    val random = Seq.tabulate(60) { i =>
      val x = (i * 7919L) % 1000000L; val y = (i * 104729L) % 1000000L
      (x.toDouble, y.toDouble, (x + (i * 131L) % 90000L).toDouble, (y + (i * 37L) % 90000L).toDouble)
    }
    val onEdges = Seq((s, 2 * s, 3 * s, 5 * s), (s - 1, 2 * s - 0.5, 3 * s - 1e-9, 5 * s + 1e-9), (0.0, 0.0, 0.0, 0.0),
      (1048576.0 - s, 1048576.0 - s, 1048576.0, 1048576.0))
    val pastTheWorld = Seq((-5e6, -1.0, 10.0, 3 * s), (1048575.0, 500.0, 9e9, 600.0), (-1e12, -1e12, 1e12, 1e12),
      (-3.0, -2.0, -1.0, -0.5), (2e6, 2e6, 3e6, 3e6))
    val envs = random ++ onEdges ++ pastTheWorld
    def check(): Unit = {
      val got = covers(envs, level)
      envs.zip(got).foreach { case ((x0, y0, x1, y1), cover) =>
        assert(cover == bruteForce(x0, y0, x1, y1), s"($x0, $y0, $x1, $y1)")
      }
      assert(got.exists(_.size == n * n), "no envelope covers the whole world")
    }
    check()
    withInterpretedEval(check())
    // a null bound gives a null cover, which explodes to no rows
    val spark2 = spark
    import spark2.implicits._
    val bounds = rddBacked(Seq[(Option[Long], Option[Long])]((None, Some(3L)), (Some(2L), None), (Some(1L), Some(2L)))
      .toDF("lo", "hi"))
    val cover = cellRangeCol(level, col("lo"), col("hi"), col("lo"), col("hi"))
    def nulls(): Unit = {
      assert(bounds.select(cover).as[Seq[Long]].collect().toSeq ==
        Seq(null, null, Seq(pack(level, 1, 1), pack(level, 1, 2), pack(level, 2, 1), pack(level, 2, 2))))
      assert(bounds.select(explode(cover)).count() == 4)
    }
    nulls()
    withInterpretedEval(nulls())
  }

  test("a null coordinate gives a null cell and a null cover in both eval modes") {
    val ci = CellIndex.Unit20
    val spark2 = spark
    import spark2.implicits._
    val pts = rddBacked(Seq[(Int, Option[Double], Option[Double])]((0, None, Some(5.0)), (1, Some(5.0), None),
      (2, None, None), (3, Some(70000.0), Some(9000.0))).toDF("i", "x", "y"))
    def check(): Unit = {
      val got = pts.select(col("i"), ci.colOfCol(col("x"), 4), ci.rowOfCol(col("y"), 4),
          ci.encodeCol(col("x"), col("y"), 4), ci.cellsCoveringCol(lit(0.0), lit(0.0), col("x"), col("y"), 4))
        .as[(Int, Option[Long], Option[Long], Option[Long], Option[Seq[Long]])].collect().sortBy(_._1).toSeq
      got shouldBe Seq((0, None, Some(0L), None, None), (1, Some(0L), None, None, None), (2, None, None, None, None),
        (3, Some(1L), Some(0L), Some(pack(4, 1, 0)), Some(Seq(pack(4, 0, 0), pack(4, 1, 0)))))
    }
    check()
    withInterpretedEval(check())
  }

  test("an inverted envelope covers no cells in both eval modes") {
    val ci = CellIndex.Unit20
    val inverted = Seq((90000.0, 1000.0, 10000.0, 70000.0), (1000.0, 90000.0, 70000.0, 10000.0),
      (900000.0, 900000.0, 100.0, 100.0))
    for ((x0, y0, x1, y1) <- inverted) assert(RefTwins.cellsCovering(ci, x0, y0, x1, y1, 8).isEmpty)
    def check(): Unit = assert(covers(inverted, 8) == Seq.fill(inverted.length)(Seq.empty))
    check()
    withInterpretedEval(check())
  }

  test("cellRange enumerates column by column and refuses past the array limit") {
    assert(cellRange(3, 1, 2, 5, 7).toSeq == Seq(pack(3, 1, 5), pack(3, 1, 6), pack(3, 1, 7),
      pack(3, 2, 5), pack(3, 2, 6), pack(3, 2, 7)))
    assert(cellRange(3, 2, 1, 5, 7).isEmpty && cellRange(3, 1, 2, 7, 5).isEmpty)
    val limit = org.apache.spark.unsafe.array.ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH
    val refusals = Seq((0L, 0L, 0L, limit.toLong, BigInt(limit) + 1),
      (0L, (1L << 28) - 1, 0L, (1L << 28) - 1, BigInt(1) << 56),
      (Long.MinValue, Long.MaxValue, 0L, 0L, BigInt(1) << 64))
    for ((c0, c1, r0, r1, count) <- refusals) {
      val e = intercept[IllegalArgumentException](cellRange(28, c0, c1, r0, r1))
      assert(e.getMessage.contains(s"$count cells"), e.getMessage)
    }
    // the expression refuses the whole world at level 28 on both paths
    val spark2 = spark
    import spark2.implicits._
    val world = rddBacked(Seq((0.0, 1048576.0)).toDF("lo", "hi"))
      .select(CellIndex.Unit20.cellsCoveringCol(col("lo"), col("lo"), col("hi"), col("hi"), 28))
    def refused(): Unit = {
      val e = intercept[Exception](world.collect())
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains(s"${BigInt(1) << 56} cells")), e.toString)
    }
    refused()
    withInterpretedEval(refused())
  }
}
