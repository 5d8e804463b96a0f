package graft.functions

import graft.SparkSpec
import graft.geo.JtsGeo
import graft.ops.PipIndex
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** `pip_probe`'s value contract: a fresh value per covered point, which a
  * consumer may keep, and one shared empty value otherwise. */
class PipExprsSpec extends SparkSpec {

  /** 80 boxes overlapping in [1000, 1020]², staggered so that the hit lists
    * differ from point to point, some past 64 ids (a second null word) */
  private lazy val bc = spark.sparkContext.broadcast(PipIndex.fromWkb(Array.tabulate(80) { i =>
    (100L + i, JtsGeo.toWkb(JtsGeo.box(1000 - i % 9, 1000 - i % 7, 1020 + i % 5, 1020 + i / 4)))
  }))

  private lazy val pts = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    rddBacked(Seq.tabulate(3000)(i => (i.toLong, 985 + 45 * rnd.nextDouble(), 985 + 50 * rnd.nextDouble()))
      .toDF("pid", "x", "y"))
  }

  test("collect_list, first and max of pip_probe keep the per-row values, on both expression paths") {
    val probe = PipExprs.pipProbe(col("x"), col("y"), bc)
    def perRow = pts.select(col("pid"), probe.as("hits")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def kept = pts.groupBy(col("pid") % 17 as "g")
      .agg(collect_list(struct(col("pid"), probe.as("hits"))) as "all", first(probe) as "first",
        max(probe) as "max")
      .collect()
    for (path <- Seq("generated", "interpreted")) {
      val (rows, groups) = if (path == "generated") (perRow, kept) else withInterpretedEval((perRow, kept))
      assert(rows.size == 3000 && rows.values.exists(_.isEmpty), path)
      assert(rows.values.map(_.length).max > 64, path)
      val ordering = Ordering.Implicits.seqOrdering[Seq, Long]
      for (g <- groups) {
        val all = g.getSeq[org.apache.spark.sql.Row](1).map(r => r.getLong(0) -> r.getSeq[Long](1))
        assert(all.forall { case (pid, hits) => rows(pid) == hits }, path)
        assert(all.map(_._1).toSet == rows.keySet.filter(_ % 17 == g.getLong(0)), path)
        assert(all.exists(_._2 == g.getSeq[Long](2)), path)
        assert(g.getSeq[Long](3) == all.map(_._2).max(ordering), path)
      }
    }
  }

  test("the kernel returns a fresh value per covered point and one shared empty value") {
    val kernel = new PipProbeKernel(bc)
    val (a, b) = (kernel(1010.5, 1010.5), kernel(1010.5, 1030.5))
    val (aIds, bIds) = (a.toLongArray.toSeq, b.toLongArray.toSeq)
    assert(aIds != bIds && aIds.nonEmpty && bIds.nonEmpty)
    assert(!(a eq kernel(1010.5, 1010.5)))
    assert(a.toLongArray.toSeq == aIds && b.toLongArray.toSeq == bIds) // untouched by later calls
    val none: ArrayData = kernel(0, 0)
    assert(none.numElements == 0)
    assert(Seq(kernel(5000, 5000), kernel(1500, 1010), kernel(Double.NaN, 1010)).forall(_ eq none))
  }
}
