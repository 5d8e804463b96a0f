package graft.ops

import graft.geo.CellIndex
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cell-grid spatial joins (SURVEY.md §2.3 J1/J7, §4.1-2).
  *
  * Catalyst plans a theta predicate like `contains(poly, point)` as an
  * O(n·m) BroadcastNestedLoopJoin, so every spatial join here is decomposed
  * into an **equi-join on cell id** that Catalyst shuffles/broadcasts like
  * any other key join, followed by an exact refine step:
  *
  * {{{ points ⋈ polys  ≡  encode(point) = explode(cellsCoveringCol(env(poly))) , then refine }}}
  *
  * The point side carries exactly one cell and the polygon side is exploded
  * over its covering cells, so each qualifying pair appears exactly once —
  * no post-join dedup (and no extra shuffle for it). Every cover, the fine
  * one of [[pointInBoxAdaptive]] too, is the native [[CellIndex.cellRangeCol]];
  * an inverted envelope covers nothing.
  *
  * Refine paths: pure arithmetic for boxes (whole-stage codegen, zero JTS),
  * and the exact [[PipIndex]] test for polygons in the two arms the north_star
  * names: partitioned (`pointInPolygon`, both sides shuffled by cell) and
  * broadcast (`pointInPolygonBroadcastFast`, one driver-built index).
  */
object SpatialJoins {

  /** one row per cell of the cover of the (`xmin`,`ymin`,`xmax`,`ymax`) envelope */
  private def boxCells(ci: CellIndex, level: Int): Column =
    explode(ci.cellsCoveringCol(col("xmin"), col("ymin"), col("xmax"), col("ymax"), level))

  /** the arithmetic refine of the box joins: min ≤ p < max on both axes */
  private def inBox: Column =
    col("xmin") <= col("x") && col("x") < col("xmax") && col("ymin") <= col("y") && col("y") < col("ymax")

  /** Point-in-box join, arithmetic refine (half-open: min ≤ p < max).
    * `points` must have (`x`,`y`) columns; `boxes` (`xmin`,`ymin`,`xmax`,`ymax`).
    * With `broadcastBoxes` the exploded cover side is broadcast — the point
    * side is then never shuffled at all (explode inflates the box side past
    * Catalyst's auto-broadcast estimate, so the hint is explicit). Use when
    * the zone layer is dim-table-sized; leave false for layer×layer joins. */
  def pointInBox(points: DataFrame, boxes: DataFrame, ci: CellIndex, level: Int,
                 broadcastBoxes: Boolean = false): DataFrame = {
    val p = points.withColumn("_cell", ci.encodeCol(col("x"), col("y"), level))
    val b0 = boxes.withColumn("_cell", boxCells(ci, level))
    val b = if (broadcastBoxes) broadcast(b0) else b0
    p.join(b, "_cell").where(inBox).drop("_cell")
  }

  /** Point-in-polygon with partitioned refine. `polys` carries
    * (`poly_id`:long, `wkb`:binary, `xmin`,`ymin`,`xmax`,`ymax`). Output:
    * point columns + `poly_id`. The equi-join shuffles both sides by cell; refine packs
    * each polygon once per task into a grid-less [[PipIndex]] (too few probes for a grid)
    * and keeps a pair when [[PipIndex.covers]] holds, which allocates nothing per pair. */
  def pointInPolygon(points: DataFrame, polys: DataFrame, ci: CellIndex, level: Int): DataFrame = {
    val p = points.withColumn("_cell", ci.encodeCol(col("x"), col("y"), level))
    val b = polys.select(boxCells(ci, level).as("_cell"), col("poly_id"), col("wkb"))
    val joined = p.join(b, "_cell").drop("_cell")
    val Seq(xI, yI, idI, wI) = Seq("x", "y", "poly_id", "wkb").map(joined.schema.fieldIndex)
    joined.mapPartitions { it =>
      val packed = new java.util.HashMap[Long, PipIndex]()
      it.filter { r =>
        val id = r.getLong(idI)
        packed.computeIfAbsent(id, _ => PipIndex.fromWkb(Array((id, r.getAs[Array[Byte]](wI))), cells = false))
          .covers(r.getDouble(xI), r.getDouble(yI))
      }
    }(org.apache.spark.sql.Encoders.row(joined.schema)).drop("wkb")
  }

  /** Point-in-polygon with the polygon side built into one [[PipIndex]] on
    * the driver and broadcast; the native `PipProbe` reads it once per task,
    * so the plan stays in whole-stage codegen and the point side is never
    * shuffled. A probe looks up the point's grid cell, then tests only the
    * y-slab of its grid row in each polygon whose boundary may cross the
    * cell, and returns the covering ids in a fresh array value (no copy;
    * one shared empty value when none covers it), which `explode` turns
    * into rows. For dim-table layers (tiles, zones). Output: point columns
    * + `poly_id`. */
  def pointInPolygonBroadcastFast(points: DataFrame, polys: DataFrame): DataFrame = {
    val rows = polys.select("poly_id", "wkb").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val bc = points.sparkSession.sparkContext.broadcast(PipIndex.fromWkb(rows))
    points.withColumn("poly_id", explode(graft.functions.PipExprs.pipProbe(col("x"), col("y"), bc)))
  }

  /** Skew-aware point-in-box (north_rule "salted repartitioning + adaptive
    * cell splitting"): a cheap stats pass finds hot cells (> `hotThreshold`
    * points); points in hot cells get a salt from their coordinates, and the
    * box side replicates its cover rows `salt`-ways for hot cells only —
    * identical output to [[pointInBox]] (verified in the spec), but a
    * point-mass cell now spreads over `saltFactor` reducers instead of one.
    * Residual equi-join skew is additionally covered by AQE's skew-join. */
  def pointInBoxSalted(points: DataFrame, boxes: DataFrame, ci: CellIndex, level: Int,
                       hotThreshold: Long = 2000000L, saltFactor: Int = 16): DataFrame = {
    val p0 = points.withColumn("_cell", ci.encodeCol(col("x"), col("y"), level))
    val hot = p0.groupBy("_cell").count().where(col("count") > hotThreshold)
      .select(col("_cell"), lit(true).as("_hot"))
    val p = p0.join(broadcast(hot), Seq("_cell"), "left")
      .withColumn("_salt",
        when(col("_hot").isNotNull,
          pmod(hash(col("x"), col("y")), lit(saltFactor))).otherwise(lit(0)))
      .drop("_hot")
    val b = boxes.withColumn("_cell", boxCells(ci, level))
      .join(broadcast(hot), Seq("_cell"), "left")
      .withColumn("_salt", explode(
        when(col("_hot").isNotNull, sequence(lit(0), lit(saltFactor - 1)))
          .otherwise(array(lit(0)))))
      .drop("_hot")
    p.join(b, Seq("_cell", "_salt")).where(inBox).drop("_cell", "_salt")
  }

  /** Adaptive cell splitting (north_rule's second skew tool, complementing
    * [[pointInBoxSalted]]): a cheap stats pass finds hot base-level cells;
    * points inside them re-key at `fineLevel` (G12 hierarchy children) while
    * everything else keeps the base key, and the box side subdivides its
    * cover — only for hot cells — into the fine cells intersecting
    * box ∩ baseCell. Identical output to [[pointInBox]] (spec-verified):
    * every (point, box) pair meets on exactly one key — fine when the
    * point's base cell is hot (the box emits that fine cell exactly once,
    * clamped inside the base cell), base otherwise. A point-mass cell thus
    * spreads over up to 4^(fineLevel−level) reducers, and unlike salting
    * the box side replicates only over subcells it actually intersects. */
  def pointInBoxAdaptive(points: DataFrame, boxes: DataFrame, ci: CellIndex,
                         level: Int, fineLevel: Int,
                         hotThreshold: Long = 2000000L): DataFrame = {
    require(fineLevel > level, "fineLevel must subdivide level")
    val k = 1L << (fineLevel - level)
    val p0 = points.withColumn("_c0", ci.encodeCol(col("x"), col("y"), level))
    import points.sparkSession.implicits._
    // the hot base cells with their column and row, which bound the fine cover
    val hot = p0.groupBy("_c0").count().where(col("count") > hotThreshold).select("_c0").as[Long]
      .map(c => (c, CellIndex.colDecode(c), CellIndex.rowDecode(c))).toDF("_c0", "_bc", "_br")
    val p = p0.join(broadcast(hot), Seq("_c0"), "left")
      .withColumn("_cell", when(col("_bc").isNotNull,
        ci.encodeCol(col("x"), col("y"), fineLevel)).otherwise(col("_c0")))
      .drop("_c0", "_bc", "_br")
    // a hot cell's fine cells that meet the box, clamped INSIDE that cell —
    // spilling into a neighbour's fine cells would double-emit pairs there
    val b = boxes
      .withColumn("_c0", boxCells(ci, level))
      .join(broadcast(hot), Seq("_c0"), "left")
      .withColumn("_cell", explode(when(col("_bc").isNotNull, CellIndex.cellRangeCol(fineLevel,
          greatest(ci.colOfCol(col("xmin"), fineLevel), col("_bc") * k),
          least(ci.colOfCol(col("xmax"), fineLevel), (col("_bc") + 1) * k - 1),
          greatest(ci.rowOfCol(col("ymin"), fineLevel), col("_br") * k),
          least(ci.rowOfCol(col("ymax"), fineLevel), (col("_br") + 1) * k - 1)))
        .otherwise(array(col("_c0")))))
      .drop("_c0", "_bc", "_br")
    p.join(b, Seq("_cell")).where(inBox).drop("_cell")
  }

  /** Envelope-intersects range join (reference J7, batch_geojson2coco.py:118)
    * via the same cell decomposition. Both sides carry envelopes; the left
    * side's cover is exploded, the right side joins on its own cover — pairs
    * dedup on the *smallest common cell* trick: a pair is emitted only from
    * the cell containing the left envelope's min corner if that cell is in
    * the right cover, else kept distinct. Simpler and still single-emission:
    * emit from the cell of max(leftMin, rightMin) corner. */
  def envelopeJoin(left: DataFrame, right: DataFrame, ci: CellIndex, level: Int): DataFrame = {
    val l = left.withColumn("_cell",
      explode(ci.cellsCoveringCol(col("lxmin"), col("lymin"), col("lxmax"), col("lymax"), level)))
    val r = right.withColumn("_cell",
      explode(ci.cellsCoveringCol(col("rxmin"), col("rymin"), col("rxmax"), col("rymax"), level)))
    l.join(r, "_cell")
      .where(col("lxmin") <= col("rxmax") && col("rxmin") <= col("lxmax") &&
             col("lymin") <= col("rymax") && col("rymin") <= col("lymax"))
      // single-emission guard: keep the pair only in the cell that contains
      // the intersection's min corner — every intersecting pair has exactly
      // one such cell, so no distinct() shuffle is needed.
      .where(col("_cell") === ci.encodeCol(
        greatest(col("lxmin"), col("rxmin")), greatest(col("lymin"), col("rymin")), level))
      .drop("_cell")
  }
}
