package graft.ops

import graft.SparkSpec
import graft.geo.JtsGeo
import org.apache.spark.sql.functions._

class GeomUnionSpec extends SparkSpec {

  test("grouped union of same-height overlapping boxes has exact 1D-interval-union area") {
    val spark2 = spark
    import spark2.implicits._
    // group g: boxes [start, start+width] × [0, 10]; exact union area =
    // 10 × length of 1D interval union — computable in plain Scala
    val rows = for (g <- 0 until 8; i <- 0 until 50) yield {
      val start = ((g * 50 + i) * 7919L % 1000L).toDouble
      val w = (10 + (i * 37) % 90).toDouble
      (g.toLong, start, w, JtsGeo.toWkb(JtsGeo.box(start, 0, start + w, 10)))
    }
    val df = rows.toDF("g", "start", "w", "wkb")
    val got = df.groupBy("g").agg(GeomUnionAgg.union(col("wkb")).as("u"))
      .collect().map(r => r.getLong(0) -> JtsGeo.fromWkb(r.getAs[Array[Byte]](1)).getArea).toMap

    val expect = rows.groupBy(_._1).map { case (g, rs) =>
      val iv = rs.map(r => (r._2, r._2 + r._3)).sortBy(_._1)
      var total = 0.0; var curS = iv.head._1; var curE = iv.head._2
      iv.tail.foreach { case (s, e) =>
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      total += curE - curS
      g -> total * 10.0
    }
    got.foreach { case (g, a) => assert(a == expect(g), s"group $g") }
  }

  test("union result is identical across partitionings (pinned merge order)") {
    val spark2 = spark
    import spark2.implicits._
    val rows = (0 until 300).map { i =>
      val x = (i * 104729L % 5000L).toDouble; val y = (i * 7919L % 5000L).toDouble
      (1L, JtsGeo.toWkb(JtsGeo.box(x, y, x + 300, y + 300)))
    }
    def run(parts: Int) = rows.toDF("g", "wkb").repartition(parts)
      .groupBy("g").agg(GeomUnionAgg.union(col("wkb")).as("u"))
      .head.getAs[Array[Byte]](1)
    assert(java.util.Arrays.equals(run(1), run(7)))
  }

  test("a 2,100-row group over 7 partitions equals one sorted unionAll") {
    val spark2 = spark
    import spark2.implicits._
    // overlapping boxes at non-integer coordinates, so the union's bytes
    // depend on the order JTS merges them in
    val wkbs = (0 until 2100).map { i =>
      val x = (i * 104729L % 20000L) / 3.0; val y = (i * 7919L % 20000L) / 7.0
      JtsGeo.toWkb(JtsGeo.box(x, y, x + 150.5 + i % 13, y + 90.25 + i % 11))
    }
    val got = wkbs.map(w => (1L, w)).toDF("g", "wkb").repartition(7)
      .groupBy("g").agg(GeomUnionAgg.union(col("wkb")).as("u"))
      .head.getAs[Array[Byte]](1)
    val sorted = wkbs.sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
    val expect = JtsGeo.toWkb(JtsGeo.unionAll(sorted.map(JtsGeo.fromWkb)))
    assert(java.util.Arrays.equals(got, expect))
  }

  test("nulls are skipped and all-null gives null; one geom passes through") {
    val spark2 = spark
    import spark2.implicits._
    val box = JtsGeo.toWkb(JtsGeo.box(0, 0, 5, 5))
    val df = Seq((1L, box), (1L, null), (2L, null), (3L, box)).toDF("g", "wkb")
    val got = df.groupBy("g").agg(GeomUnionAgg.union(col("wkb")).as("u"))
      .as[(Long, Array[Byte])].collect().toMap
    assert(JtsGeo.fromWkb(got(1L)).getArea == 25.0)
    assert(got(2L) == null)
    assert(JtsGeo.fromWkb(got(3L)).getArea == 25.0)
  }
}
