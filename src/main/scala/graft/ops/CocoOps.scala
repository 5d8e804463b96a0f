package graft.ops

import graft.io.Coco
import graft.io.Coco.CocoTables
import graft.model._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** COCO dataset analytics: split (reference scripts/coco_split.py),
  * balance (scripts/coco_balance.py), and batch concatenation with global
  * re-indexing (scripts/batch_geojson2coco.py:366-489). SURVEY.md O2-O7,
  * A4-A8, J9/J10, A11. */
object CocoOps {

  // ---------- split (coco_split.py) ----------

  /** Random train/test split of images with annotation semi-joins
    * (O2 + J10, coco_split.py:141).
    * Seeded and deterministic for a fixed partitioning of `images`. */
  def randomSplit(t: CocoTables, trainFraction: Double, seed: Long): (CocoTables, CocoTables) = {
    val Array(trainImgs, testImgs) =
      t.images.randomSplit(Array(trainFraction, 1 - trainFraction), seed)
    (subsetByImages(t, trainImgs), subsetByImages(t, testImgs))
  }

  /** Stratified multilabel split (O3): an EXACT port of the reference's
    * multi-class split (scripts/coco_split.py:94-137), iterative
    * stratification (Sechidis et al. 2011, the algorithm behind
    * skmultilearn's `iterative_train_test_split`) over ANNOTATION rows,
    * one label per annotation (`np.array([annotation_categories]).T`).
    * Categories with ≤1 annotation are removed first (the reference's
    * "bottleneck 1" — they cannot be split), each side's images are the
    * ones its annotations reference (reference `filter_images`),
    * categories pass through whole.
    *
    * The assignment loop is DRIVER-side over (annId, categoryId) pairs —
    * faithful to the reference's single-file contract and fine up to
    * ~10^8 annotations (12 bytes/row).
    * Tie-breaks (equal desired counts) follow skmultilearn: a seeded
    * uniform pick, so a fixed seed is deterministic. */
  def stratifiedSplit(t: CocoTables, trainFraction: Double,
                      seed: Long): (CocoTables, CocoTables) = {
    val spark = t.images.sparkSession
    import spark.implicits._
    val catCounts = t.annotations.groupBy("categoryId").agg(count(lit(1)).as("n"))
    val kept = t.annotations.toDF()
      .join(broadcast(catCounts.where(col("n") > 1)), Seq("categoryId"), "left_semi")
    val rows = kept.select(col("id").cast("long"), col("categoryId").cast("int"))
      .as[(Long, Int)].collect().sortBy(_._1)

    val ratios = Array(trainFraction, 1 - trainFraction)
    val nTotal = rows.length
    val desired = ratios.map(_ * nTotal) // c_j
    val perLabel = rows.groupBy(_._2).map { case (c, rs) => c -> rs.map(_._1) }
    val desiredPerLabel = scala.collection.mutable.Map[Int, Array[Double]]()
    perLabel.foreach { case (c, ids) =>
      desiredPerLabel(c) = ratios.map(_ * ids.length)
    }
    val remaining = scala.collection.mutable.Map[Int, scala.collection.mutable.ArrayBuffer[Long]]()
    perLabel.foreach { case (c, ids) =>
      remaining(c) = scala.collection.mutable.ArrayBuffer(ids.sorted: _*)
    }
    val rnd = new scala.util.Random(seed)
    val trainIds = scala.collection.mutable.HashSet[Long]()
    while (remaining.values.exists(_.nonEmpty)) {
      // rarest label first (fewest remaining annotations; tie → smallest id)
      val (lbl, items) = remaining.filter(_._2.nonEmpty)
        .minBy { case (c, rs) => (rs.length, c) }
      val dl = desiredPerLabel(lbl)
      items.foreach { annId =>
        // subset with largest remaining label-desire; tie → largest total
        // desire; tie → seeded uniform pick (skmultilearn semantics)
        val bestByLabel = dl.indices.filter(j => dl(j) == dl.max)
        val pool =
          if (bestByLabel.length == 1) bestByLabel
          else {
            val dMax = bestByLabel.map(desired).max
            bestByLabel.filter(j => desired(j) == dMax)
          }
        val j = if (pool.length == 1) pool.head else pool(rnd.nextInt(pool.length))
        if (j == 0) trainIds += annId
        dl(j) -= 1
        desired(j) -= 1
      }
      items.clear()
    }
    // semi/anti joins against the assignment table (not a UDF over a
    // broadcast set): AQE broadcasts the id side while it fits and falls
    // back to a shuffle join beyond that
    val trainDf = spark.createDataset(trainIds.toSeq).toDF("id")
    def side(train: Boolean): CocoTables = {
      val anns = kept.join(trainDf, Seq("id"), if (train) "left_semi" else "left_anti")
        .select(t.annotations.columns.map(col).toIndexedSeq: _*).as[CocoAnnotation]
      val imgs = t.images.toDF()
        .join(anns.select(col("imageId").as("id")).distinct(), Seq("id"), "left_semi")
        .as[CocoImage]
      CocoTables(imgs, anns, t.categories, t.extras)
    }
    (side(train = true), side(train = false))
  }

  /** Keep only images in `imgs` and their annotations (J10 semi-joins). */
  def subsetByImages(t: CocoTables, imgs: Dataset[CocoImage]): CocoTables = {
    val spark = t.images.sparkSession
    import spark.implicits._
    val ids = imgs.select(col("id"))
    val anns = t.annotations.toDF()
      .join(ids.withColumnRenamed("id", "imageId"), Seq("imageId"), "left_semi")
      .select(t.annotations.columns.map(col).toIndexedSeq: _*).as[CocoAnnotation]
    CocoTables(imgs, anns, t.categories, t.extras)
  }

  // ---------- balance (coco_balance.py) ----------

  /** Cap over-represented categories: subsample images of the most frequent
    * category down to `cap` images, drop the rest (O4 + J9 anti-join —
    * coco_balance.py:141-194 "bypass" mode). */
  def capCategory(t: CocoTables, categoryId: Int, cap: Int, seed: Long): CocoTables = {
    val spark = t.images.sparkSession
    import spark.implicits._
    val catImgs = t.annotations.where(col("categoryId") === categoryId)
      .select("imageId").distinct()
    val keep = catImgs.orderBy(pmod(col("imageId") * (seed * 2 + 1), lit(1000003L)), col("imageId"))
      .limit(cap)
    val drop = catImgs.join(keep, Seq("imageId"), "left_anti")
    val imgs = t.images.toDF()
      .join(drop.withColumnRenamed("imageId", "id"), Seq("id"), "left_anti")
      .select(t.images.columns.map(col).toIndexedSeq: _*).as[CocoImage]
    subsetByImages(t, imgs)
  }

  /** Roboflow path rewrite (P18, batch_geojson2coco.py:504-508): the
    * reference string-replaces `/tile_` → `_tile_` in the raw JSON text;
    * here it is a structured column transform on `fileName`. */
  def roboflowify(t: CocoTables): CocoTables = {
    val spark = t.images.sparkSession
    import spark.implicits._
    val imgs = t.images.toDF()
      .withColumn("fileName", regexp_replace(col("fileName"), "/tile_", "_tile_"))
      .as[CocoImage]
    CocoTables(imgs, t.annotations, t.categories, t.extras)
  }

  // ---------- concat with global re-indexing (batch_geojson2coco.py) ----------

  /** Concatenate datasets with dense global ids (A11 prefix-sum shifts, no
    * sequential driver loop) and category dedup-by-name with id remap (O7).
    * File names get the reference's `{i}_` prefix (batch_geojson2coco.py:394).
    * The last part is never counted: its count feeds no offset. Categories
    * are dimension-sized, so they are merged on the driver: each name keeps
    * its first (part, id) row, and the merged ids follow that order. The
    * merged categories are a local Dataset, whose count starts no job, and
    * each part's annotations are remapped by a `when` chain over its few
    * category ids, not by a join. An annotation whose category id its
    * part's categories do not name, or is null, is dropped.
    */
  def concat(parts: Seq[CocoTables]): CocoTables = {
    require(parts.nonEmpty)
    val spark = parts.head.images.sparkSession
    import spark.implicits._

    // per-dataset counts → offsets (counts are tiny metadata; shift columns
    // keep id assignment fully distributed)
    val imgOff = parts.init.map(_.images.count()).scanLeft(0L)(_ + _)
    val annOff = parts.init.map(_.annotations.count()).scanLeft(0L)(_ + _)

    val images = parts.zipWithIndex.map { case (p, i) =>
      p.images.toDF()
        .withColumn("id", col("id") + imgOff(i))
        .withColumn("fileName", concat_ws("", lit(s"${i}_"), col("fileName")))
    }.reduce(_ unionByName _).as[CocoImage]

    // categories: (part, id, name, supercategory) in (part, id) order; the
    // first row of each name gives its merged id and supercategory
    val allCats = parts.zipWithIndex.map { case (p, i) =>
      p.categories.toDF().select(lit(i).as("ds"), col("id"), col("name"), col("supercategory"))
    }.reduce(_ unionByName _).as[(Int, Int, String, String)].collect().sortBy(c => (c._1, c._2))
    val newCats = allCats.distinctBy(_._3).zipWithIndex.map { case ((_, _, name, sup), i) =>
      CocoCategory(i, name, sup)
    }
    val newId = newCats.map(c => c.name -> c.id).toMap

    // the IN filter keeps what an inner join on the (part, old id) remap
    // kept: an annotation with a null or unnamed category id is dropped, so
    // every row left matches one branch of the chain
    val catId = col("categoryId")
    val annotations = parts.zipWithIndex.map { case (p, i) =>
      val remap = allCats.filter(_._1 == i).map(c => c._2 -> newId(c._3)).toSeq
      val merged = remap.foldLeft(catId) { case (m, (o, n)) => when(catId === o, n).otherwise(m) }
      p.annotations.toDF()
        .where(catId.isin(remap.map(_._1): _*))
        .withColumn("id", col("id") + annOff(i))
        .withColumn("imageId", col("imageId") + imgOff(i))
        .withColumn("categoryId", merged)
    }.reduce(_ unionByName _)
      .select("id", "imageId", "categoryId", "segmentation", "bbox", "area", "iscrowd")
      .as[CocoAnnotation]

    // envelope carry (batch_geojson2coco.py:464-476): "licenses" arrays are
    // concatenated across datasets; "info"/"type"/other keys last-wins (the
    // reference overwrites per iteration). Deviation noted: the reference
    // silently drops a singular "license" key (its try/except reads only
    // "licenses"); the engine carries it last-wins instead.
    val extras = parts.map(_.extras).reduce { (a, b) =>
      val mergedLicenses = (a.get("licenses"), b.get("licenses")) match {
        case (Some(x), Some(y)) =>
          val m = new com.fasterxml.jackson.databind.ObjectMapper()
          val arr = m.createArrayNode()
          Seq(x, y).foreach { s =>
            val n = m.readTree(s)
            if (n.isArray) arr.addAll(n.asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode])
            else arr.add(n)
          }
          Map("licenses" -> m.writeValueAsString(arr))
        case _ => Map.empty[String, String]
      }
      a ++ b ++ mergedLicenses
    }

    CocoTables(images, annotations, spark.createDataset(newCats.toSeq), extras)
  }
}
