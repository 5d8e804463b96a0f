package graft.ops

import graft.SparkSpec
import graft.io.Coco.CocoTables
import graft.model._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

class CocoOpsSpec extends SparkSpec {

  /** plan traversal that descends into adaptive query stages */
  private val aqe = new AdaptiveSparkPlanHelper {}

  /** a part whose annotations cycle through its categories' ids, with the
    * categories in the given row order */
  def part(nImgs: Int, annsPerImg: Int, cats: Seq[CocoCategory]): CocoTables = {
    val spark2 = spark
    import spark2.implicits._
    val imgs = (0 until nImgs).map(i => CocoImage(i.toLong, s"tile_$i.png", 10, 10))
    val anns = (0 until nImgs * annsPerImg).map { i =>
      CocoAnnotation(i.toLong, (i / annsPerImg).toLong, cats(i % cats.length).id,
        Array(0.0, 0, 1, 0, 1, 1, 0, 0), Array(0.0, 0, 1, 1), 0.5)
    }
    CocoTables(spark.createDataset(imgs), spark.createDataset(anns), spark.createDataset(cats))
  }

  def mkTables(nImgs: Int, catNames: Seq[String] = Seq("a", "b")): CocoTables =
    part(nImgs, 2, catNames.zipWithIndex.map { case (n, i) => CocoCategory(i, n, n) })

  test("randomSplit is seeded-deterministic") {
    val t = mkTables(50)
    val (a1, b1) = CocoOps.randomSplit(t, 0.7, seed = 42)
    val (a2, _) = CocoOps.randomSplit(t, 0.7, seed = 42)
    val trIds = a1.images.collect().map(_.id).toSet
    assert(trIds == a2.images.collect().map(_.id).toSet)
    // the sides partition the images; annotations follow their image (J10)
    val teIds = b1.images.collect().map(_.id).toSet
    assert(trIds.intersect(teIds).isEmpty && trIds.union(teIds).size == 50)
    assert(a1.annotations.collect().map(_.imageId).toSet.subsetOf(trIds))
    assert(a1.annotations.count() + b1.annotations.count() == 100)
  }

  test("iterativeStratifiedSplitExact: per-category counts within 1 of the desired ratio") {
    val spark2 = spark
    import spark2.implicits._
    // skewed label distribution: cat 0 ×60, cat 1 ×25, cat 2 ×9, cat 3 ×1 (dropped)
    val anns = (
      (0 until 60).map(i => (i.toLong, (i % 10).toLong, 0)) ++
      (0 until 25).map(i => (100L + i, (i % 10).toLong, 1)) ++
      (0 until 9).map(i => (200L + i, (i % 3).toLong, 2)) ++
      Seq((300L, 0L, 3))
    ).map { case (id, img, cat) =>
      CocoAnnotation(id, img, cat, Array(0.0, 0, 1, 0, 1, 1, 0, 0), Array(0.0, 0, 1, 1), 0.5)
    }
    val imgs = (0 until 10).map(i => CocoImage(i.toLong, s"t_$i.png", 10, 10))
    val cats = (0 until 4).map(i => CocoCategory(i, s"c$i", ""))
    val t = CocoTables(spark.createDataset(imgs), spark.createDataset(anns),
      spark.createDataset(cats))
    val (tr, te) = CocoOps.stratifiedSplit(t, 0.7, seed = 11)
    val trAnns = tr.annotations.collect()
    val teAnns = te.annotations.collect()
    // singleton category 3 dropped entirely (coco_split.py "bottleneck 1")
    assert(!(trAnns ++ teAnns).exists(_.categoryId == 3))
    assert(trAnns.map(_.id).toSet.intersect(teAnns.map(_.id).toSet).isEmpty)
    assert(trAnns.length + teAnns.length == 94)
    // iterative stratification keeps every label within 1 of its desired count
    for ((cat, total) <- Seq((0, 60), (1, 25), (2, 9))) {
      val got = trAnns.count(_.categoryId == cat)
      assert(math.abs(got - 0.7 * total) <= 1.0, s"cat $cat: $got of $total")
    }
    // each side's images are exactly the ones its annotations reference
    assert(tr.images.collect().map(_.id).toSet == trAnns.map(_.imageId).toSet)
    assert(te.images.collect().map(_.id).toSet == teAnns.map(_.imageId).toSet)
    // seeded determinism
    val (tr2, _) = CocoOps.stratifiedSplit(t, 0.7, seed = 11)
    assert(tr2.annotations.collect().map(_.id).toSet == trAnns.map(_.id).toSet)
  }

  test("capCategory subsamples the hot category's images (J9 anti-join)") {
    val t = mkTables(30)
    val capped = CocoOps.capCategory(t, categoryId = 0, cap = 5, seed = 1)
    val remainingCat0Imgs = capped.annotations.where(col("categoryId") === 0)
      .select("imageId").distinct().count()
    assert(remainingCat0Imgs == 5)
    // deterministic across reruns
    val again = CocoOps.capCategory(t, 0, 5, 1)
    assert(capped.images.collect().map(_.id).toSet == again.images.collect().map(_.id).toSet)
  }

  test("concat: dense global ids, file-name prefixes, category dedup by name (A11/O7)") {
    val t1 = mkTables(3, catNames = Seq("a", "b"))
    val t2 = mkTables(2, catNames = Seq("b", "c"))
    val all = CocoOps.concat(Seq(t1, t2))
    val imgs = all.images.collect().sortBy(_.id)
    assert(imgs.map(_.id).toSeq == (0L until 5L))
    assert(imgs.map(_.fileName).toSeq == Seq(
      "0_tile_0.png", "0_tile_1.png", "0_tile_2.png", "1_tile_0.png", "1_tile_1.png"))
    val cats = all.categories.collect().sortBy(_.id)
    assert(cats.map(c => (c.id, c.name)).toSeq == Seq((0, "a"), (1, "b"), (2, "c")))
    val anns = all.annotations.collect().sortBy(_.id)
    assert(anns.map(_.id).toSeq == (0L until 10L))
    // t2's category 0 was "b" → remapped to global id 1; t2's "c" → 2
    val t2anns = anns.filter(_.imageId >= 3)
    assert(t2anns.map(_.categoryId).toSet == Set(1, 2))
    // annotation↔image referential integrity holds
    assert(all.annotations.toDF().join(all.images.toDF().select(col("id").as("imageId")),
      Seq("imageId"), "left_anti").isEmpty)
  }

  test("concat of 3 unequal parts: dense disjoint ids, first-appearance categories, right names") {
    def cat(id: Int, name: String) = CocoCategory(id, name, s"sup-$name")
    val parts = Seq(
      part(4, 3, Seq(cat(1, "b"), cat(0, "a"))),
      part(1, 5, Seq(cat(0, "c"), cat(1, "a"))),
      part(3, 2, Seq(cat(2, "c"), cat(0, "b"), cat(1, "d"))))
    val all = CocoOps.concat(parts)
    val imgs = all.images.collect()
    val anns = all.annotations.collect()
    imgs.map(_.id).sorted.toSeq shouldBe (0L until 8L)
    anns.map(_.id).sorted.toSeq shouldBe (0L until 23L)
    // merged ids follow the first (part, id) of each name
    all.categories.collect().sortBy(_.id).map(c => (c.id, c.name, c.supercategory)).toSeq shouldBe
      Seq((0, "a", "sup-a"), (1, "b", "sup-b"), (2, "c", "sup-c"), (3, "d", "sup-d"))
    val catName = all.categories.collect().map(c => c.id -> c.name).toMap
    val byId = anns.map(a => a.id -> a).toMap
    val imgOff = Seq(0L, 4L, 5L)
    val annOff = Seq(0L, 12L, 17L)
    for ((p, i) <- parts.zipWithIndex) {
      val names = p.categories.collect().map(c => c.id -> c.name).toMap
      p.annotations.collect().foreach { a =>
        val got = byId(annOff(i) + a.id)
        got.imageId shouldBe imgOff(i) + a.imageId
        catName(got.categoryId) shouldBe names(a.categoryId)
      }
    }
    imgs.filter(_.fileName.startsWith("2_")).map(_.id).sorted.toSeq shouldBe (5L until 8L)
  }

  test("concat: a merged category takes the supercategory of its first (part, id) row") {
    val all = CocoOps.concat(Seq(
      part(1, 2, Seq(CocoCategory(1, "a", "late"), CocoCategory(0, "a", "first"))),
      part(1, 2, Seq(CocoCategory(0, "a", "other"), CocoCategory(1, "c", "c")))))
    all.categories.collect().sortBy(_.id).map(c => (c.id, c.name, c.supercategory)).toSeq shouldBe
      Seq((0, "a", "first"), (1, "c", "c"))
    all.annotations.collect().map(_.categoryId).toSet shouldBe Set(0, 1)
  }

  test("concat drops annotations whose category its part does not name, or null, as an inner join did") {
    val spark2 = spark
    import spark2.implicits._
    // ann 1 → a category id the part's categories do not name; ann 2 → null
    def withStrays(t: CocoTables): CocoTables = t.copy(annotations = t.annotations.toDF()
      .withColumn("categoryId", when(col("id") === 1, lit(7))
        .when(col("id") === 2, lit(null).cast("int")).otherwise(col("categoryId")))
      .as[CocoAnnotation])
    // part 0 keeps its ids; part 1's ids are remapped (b → 1, c → 2)
    val all = CocoOps.concat(Seq(withStrays(mkTables(2, Seq("a", "b"))),
      withStrays(mkTables(2, Seq("b", "c")))))
    val got = all.annotations.toDF().select("id", "categoryId").collect()
      .map(r => (r.getLong(0), r.get(1))).sortBy(_._1).toSeq
    got shouldBe Seq((0L, 0), (3L, 1), (4L, 1), (7L, 2))
    assert(aqe.collect(all.annotations.queryExecution.executedPlan) { case j: BaseJoinExec => j }
      .isEmpty, all.annotations.queryExecution.executedPlan)
  }
}
