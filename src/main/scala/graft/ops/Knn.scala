package graft.ops

import graft.geo.CellIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Exact k-nearest-neighbour join by iterative cell-ring expansion —
  * the generalization of the reference's fixed ±1 tile neighbourhood
  * (reference tiles.py:180-256, which is O(tiles²); SURVEY.md J8).
  *
  * Round r examines the Chebyshev disk of radius r around each query's
  * cell (an equi-join on cell id — no cross join ever materializes): the
  * [[CellIndex.cellRangeCol]] square, clamped at the world border, exploded.
  * A query is settled once its k-th candidate distance is strictly
  * below `r · cellSize`: every unexamined point lies ≥ that far away,
  * so it cannot enter the top-k even on ties. Unsettled queries carry
  * to the next round with doubled radius — at web scale the first round
  * settles almost everything because `level` is chosen from point
  * density so the expected points-per-cell ≳ k.
  *
  * Hygiene: every round-local cache (`ranked`, the carried `remaining`)
  * is unpersisted as soon as its successor is materialized — storage is
  * bounded by one round regardless of round count; rounds are capped
  * (radius doubling reaches exhaustion in ≤ ~6 rounds anyway).
  *
  * Deterministic ordering: (dist2 asc, pid asc) — ties never depend on
  * partitioning.
  */
object Knn {

  /** Grid level with expected points/cell ≈ max(k, 4): cells = 4^level.
    * Too fine a grid (fixed high level) makes round 1 miss and multiplies
    * driver rounds; too coarse explodes per-cell candidate lists. */
  def levelForDensity(nPoints: Long, k: Int, ci: CellIndex): Int = {
    val targetPerCell = math.max(k, 4).toDouble
    val cells = math.max(nPoints / targetPerCell, 1.0)
    val lvl = (math.log(cells) / math.log(4.0)).toInt
    math.max(0, math.min(ci.maxLevel, lvl))
  }

  /** queries: (`qid`,`x`,`y`); points: (`pid`,`x`,`y`). Output:
    * (`qid`, `rank` 1..k, `pid`, `dist2`). Self-pairs (qid==pid) are
    * excluded when `excludeSelf`. `level` < 0 picks the grid level from
    * point density (expected points/cell ≈ k). `maxExhaustQueries` guards
    * the exact-by-exhaustion escape hatch: the straggler cross join only
    * fires when at most that many queries remain — a pathological input
    * (everything in one cell) instead COARSENS the grid and keeps ring-
    * joining, so the cross join's row count stays bounded by
    * maxExhaustQueries · |points|. */
  def knnJoin(queries: DataFrame, points: DataFrame, k: Int,
              ci: CellIndex, level: Int = -1, excludeSelf: Boolean = true,
              maxRounds: Int = 8, maxExhaustQueries: Long = 65536L): DataFrame = {
    val spark = queries.sparkSession
    // ONE persisted copy of the raw points; the cell key is two shifts +
    // a pack — recomputed per round as a projection over the cache
    // (round 6: the previous second persist of a with-cells copy cost a
    // full extra materialization pass + double storage, and the coarsen
    // path re-materialized it again per level change).
    val pts0 = points
      .select(col("pid"), col("x").as("px"), col("y").as("py"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPts = pts0.count()
    var lvl = if (level >= 0) level else levelForDensity(nPts, k, ci)
    var cs = ci.cellSize(lvl)
    var n = 1L << lvl

    // Logical-plan barrier: re-root a (persisted, materialized) frame on
    // its own RDD. Without it every round's `remaining` nests the previous
    // round's join+explode plan — the TREE doubles per round even though
    // persist stops recomputation, and after ~10 rounds plan stringification
    // alone OOMs the driver.
    def barrier(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

    var remaining = queries
      .select(col("qid"), col("x").as("qx"), col("y").as("qy"),
        ci.colOfCol(col("x"), lvl).as("qc"), ci.rowOfCol(col("y"), lvl).as("qr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materializes the cache AND gives the loop the remaining-query count,
    // so a round that settles EVERYTHING can skip the left_anti carry-join
    // entirely (at a density-chosen level, round 1 usually settles all)
    var remCount = remaining.count()

    var results: DataFrame = null
    var r = 1L
    var round = 0
    var done = false
    while (!done) {
      round += 1
      // Once the disk would explode too many cells per query, the stragglers
      // are isolated points in sparse space — switch to an exhaustive join
      // (exact by exhaustion) instead of growing the explode O(r²). But a
      // true cross join is only safe for a SMALL remainder: with many
      // stragglers (dense single-cell clusters), coarsen the grid two
      // levels (16× fewer cells → ring radius ÷4) and keep ring-joining;
      // lvl 0 is one world cell, where the ring join is itself exhaustive.
      val wantExhaust = r >= n || (2 * r + 1) * (2 * r + 1) >= 4096 ||
        round >= maxRounds
      val worldCovered = wantExhaust && (lvl == 0 || {
        if (remCount <= maxExhaustQueries) true
        else {
          lvl = math.max(0, lvl - 2)
          cs = ci.cellSize(lvl)
          n = 1L << lvl
          val rem2 = barrier(remaining.drop("qc", "qr")
            .withColumn("qc", ci.colOfCol(col("qx"), lvl))
            .withColumn("qr", ci.rowOfCol(col("qy"), lvl)))
            .persist(StorageLevel.MEMORY_AND_DISK)
          rem2.count()
          remaining.unpersist(false)
          remaining = rem2
          r = math.max(1L, r >> 2)
          false
        }
      })
      val base =
        if (worldCovered) remaining.join(pts0)
        else remaining
          .withColumn("_cell", explode(CellIndex.cellRangeCol(lvl,
            greatest(col("qc") - r, lit(0L)), least(col("qc") + r, lit(n - 1)),
            greatest(col("qr") - r, lit(0L)), least(col("qr") + r, lit(n - 1)))))
          .join(pts0.withColumn("pcell", ci.encodeCol(col("px"), col("py"), lvl)), col("_cell") === col("pcell"))
      val cand = base
        .where(if (excludeSelf) col("qid") =!= col("pid") else lit(true))
        .withColumn("dist2",
          (col("qx") - col("px")) * (col("qx") - col("px")) +
          (col("qy") - col("py")) * (col("qy") - col("py")))
      val w = Window.partitionBy("qid").orderBy(col("dist2").asc, col("pid").asc)
      val ranked = cand
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .groupBy("qid")
        .agg(max(when(col("rank") === k, col("dist2"))).as("kth"),
          collect_list(struct(col("rank"), col("pid"), col("dist2"))).as("topk"))
        .withColumn("settled",
          lit(worldCovered) || (col("kth").isNotNull && col("kth") < lit(r * cs) * lit(r * cs)))
        .persist(StorageLevel.MEMORY_AND_DISK)

      // one cheap cache-scan job over the (one-row-per-qid) ranked frame:
      // how many queries settled this round
      val settledCnt = ranked.where(col("settled")).count()

      // Round results go straight to an EAGER localCheckpoint (round 6):
      // the blocks belong to the RDD and are freed by the ContextCleaner
      // when the caller drops the returned frame — no per-round
      // CacheManager entry to track, and no extra end-of-loop
      // re-materialization pass over the unioned result (the previous
      // persist-then-final-localCheckpoint shape paid one full copy more).
      val srDf = ranked.where(col("settled"))
        .select(col("qid"), explode(col("topk")).as("t"))
        .select(col("qid"), col("t.rank"), col("t.pid"), col("t.dist2"))
      val srSchema = srDf.schema
      val srRdd = srDf.rdd
      srRdd.localCheckpoint()
      srRdd.count() // materialize before the inputs below it are dropped
      val settledRows = spark.createDataFrame(srRdd, srSchema)
      results = if (results == null) settledRows else results.unionByName(settledRows)

      if (worldCovered || settledCnt == remCount) {
        // everything settled (or the exhaustive arm just covered the
        // world): no carry-over — skip the left_anti join + count that
        // would only prove the remainder is empty
        ranked.unpersist(false)
        remaining.unpersist(false)
        done = true
      } else {
        val next = barrier(remaining.join(
          ranked.where(col("settled")).select("qid"), Seq("qid"), "left_anti"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nLeft = next.count()
        ranked.unpersist(false)
        remaining.unpersist(false)
        if (nLeft == 0) { next.unpersist(false); done = true }
        else { remaining = next; remCount = nLeft; r *= 2 }
      }
    }
    pts0.unpersist(false)
    results
  }
}
