package graft.ops

import graft.functions.VecKernels.{dot, nearestIn, norm}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over an embedding column
  * (`array<float>`), per the builder brief: brute-force cosine top-k as the
  * correctness baseline, and a sign-random-projection (SRP) LSH-bucketed
  * variant as the scale path. Per-pair dot products on the hot join paths
  * run as the native codegen'd [[graft.functions.FloatVecDot]] expression,
  * and the row kernels call the same fold on JVM arrays
  * ([[graft.functions.VecKernels.dot]]/`norm`): each float widened to
  * double, added left to right from 0.0, the fold the DuckDB oracle
  * replays via `list_reduce`. Deterministic on every path.
  */
object Similarity extends Serializable {

  /** Brute-force cosine top-k: every pair scored via a self-join keyed by a
    * blocking column when supplied (else true cross product — only for
    * baseline/oracle scale). Output (qid, rnk, pid, cos). Deterministic
    * tie-break (cos desc, pid asc). The per-pair dot runs as the native
    * codegen'd [[graft.functions.FloatVecDot]] expression (the same
    * left-to-right IEEE-754 fold as the broadcast JVM kernels —
    * bit-identical, asserted in the specs — inside whole-stage codegen). */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                 blockCol: Option[String] = None): DataFrame = {
    import graft.functions.VecExprs
    val cols = Seq(col(idCol).as("id"), col(vecCol).as("v")) ++
      blockCol.map(c => col(c).as("blk"))
    val e = emb.select(cols: _*).withColumn("n", VecExprs.normF(col("v")))
    val joinCond = blockCol match {
      case Some(_) => col("a.blk") === col("b.blk") && col("a.id") =!= col("b.id")
      case None => col("a.id") =!= col("b.id")
    }
    val pairs = e.as("a").join(e.as("b"), joinCond)
      .select(col("a.id").as("qid"), col("b.id").as("pid"),
        (VecExprs.dotF(col("a.v"), col("b.v")) / (col("a.n") * col("b.n"))).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
    pairs.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("qid", "rnk", "pid", "cos")
  }

  /** Banded SRP-LSH candidate pairs — the candidate stage shared by
    * [[annLshBanded]] and the end-to-end near-dup pipeline
    * ([[Dedup.nearDupGroups]]). Distinct (a, b) with a < b; the self-join
    * is an EQUI-join on (band, bandkey), never all-pairs. */
  def lshCandidatePairs(emb: DataFrame, idCol: String, vecCol: String,
                        bands: Int, rowsPerBand: Int): DataFrame = {
    val e = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // ALL band keys in one native expression evaluation per vector
    // ([[graft.functions.FloatVecSrpKeys]]), then posexplode to the
    // (id, band, bkey) layout — signature generation stays in whole-stage
    // codegen end to end (the previous mapPartitions kernel paid the row
    // codec on every vector)
    val sigs = e.select(col("id"),
      posexplode(graft.functions.VecExprs.srpKeys(col("v"), bands, rowsPerBand))
        .as(Seq("band", "bkey")))
    // rename on independent projections — same-lineage self-joins silently
    // mis-resolve the a<b predicate
    val left = sigs.select(col("id").as("a"), col("band"), col("bkey"))
    val right = sigs.select(col("id").as("b"), col("band"), col("bkey"))
    left.join(right, Seq("band", "bkey"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Banded multi-table SRP-LSH ANN — the scale path. `bands` independent
    * hash tables of `rowsPerBand` sign bits each; candidates are the UNION
    * of per-band bucket matches (OR-amplification: collision prob
    * 1−(1−s^r)^b for cosine similarity s, instead of the single-table s^r
    * which collapses as r grows), then exact cosine re-rank of candidates.
    *
    * Plan shape: signature projection stays in whole-stage codegen; the
    * candidate step is a self-EQUI-join on (band, bandkey) — bucketed,
    * never all-pairs; the re-rank scores only candidate pairs with the JVM
    * fold kernel. At 100 TB the (band, bandkey) join shuffles both sides by
    * key like any other equi-join; no stage is quadratic in the corpus. */
  def annLshBanded(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   bands: Int, rowsPerBand: Int): DataFrame = {
    // round 6: the directed candidate set {(a,b), (b,a) : a,b share a
    // band bucket, a ≠ b} is produced DIRECTLY by the (band, bandkey)
    // self-join with an a ≠ b predicate — one join + one distinct. The
    // round-5 spelling built the a < b half ([[lshCandidatePairs]]) and
    // unioned its mirror, which evaluated the whole candidate join+
    // distinct TWICE (both union branches carry the full subtree) and
    // shuffled the distinct twice. Same set, half the candidate work.
    // ([[lshCandidatePairs]] stays as the a < b API for the dedup
    // pipelines, which genuinely want one row per unordered pair.)
    val e = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val sigs = e.select(col("id"),
      posexplode(graft.functions.VecExprs.srpKeys(col("v"), bands, rowsPerBand))
        .as(Seq("band", "bkey")))
    val left = sigs.select(col("id").as("qid"), col("band"), col("bkey"))
    val right = sigs.select(col("id").as("pid"), col("band"), col("bkey"))
    val directed = left.join(right, Seq("band", "bkey"))
      .where(col("qid") =!= col("pid"))
      .select("qid", "pid").distinct()
    val scored = scorePairs(directed, emb, idCol, vecCol)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("qid", "rnk", "pid", "cos")
  }

  /** fixed-point scale for the deterministic k-means reduction */
  private val KmFx = 1048576.0 // 2^20

  /** IVF coarse-quantizer centroids: the deterministic hash-strided seed
    * draw, optionally refined by `kmeansIters` distributed Lloyd rounds.
    * Each round assigns every vector to its nearest centroid and replaces
    * the centroid with its list's MEAN — computed over 2^20 FIXED-POINT
    * longs, so the distributed sum is ORDER-INDEPENDENT and the refined
    * centroids are exactly reproducible across runs/partitionings (a
    * float sum would drift in the low bits with reduction order). One
    * hash-agg per round keyed by (list, dim) — map-side partials shrink
    * the shuffle to nLists·dim rows per task; empty lists keep their
    * seed. Real IVF training, the FAISS `train()` analog. */
  def ivfCentroids(e: DataFrame, nLists: Int,
                   kmeansIters: Int = 0): Array[(Int, Array[Float], Double)] = {
    val spark = e.sparkSession
    var cents = e
      .withColumn("mix", pmod(col("id") * lit(2654435761L), lit(2147483647L)))
      .orderBy("mix", "id").limit(nLists)
      .collect()
      .map(r => r.getSeq[Float](1).toArray)
      .zipWithIndex.map { case (v, i) => (i, v, norm(v)) }
    var iter = 0
    while (iter < kmeansIters) {
      val bc = spark.sparkContext.broadcast(cents)
      val rowSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("list", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("dim", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("fx", org.apache.spark.sql.types.LongType)))
      implicit val enc = org.apache.spark.sql.Encoders.row(rowSchema)
      val sums = e.mapPartitions { it =>
        it.flatMap { r =>
          val v = r.getSeq[Float](1).toArray
          val li = nearestIn(bc.value, v, 1).head
          v.indices.iterator.map(d => Row(li, d, math.round(v(d).toDouble * KmFx)))
        }
      }.groupBy("list", "dim")
        .agg(sum("fx").as("s"), count(lit(1)).as("n"))
        .collect()
      val byList = sums.groupBy(_.getInt(0))
      cents = cents.map { case (li, oldV, oldN) =>
        byList.get(li) match {
          case Some(rows) =>
            val nv = new Array[Float](oldV.length)
            rows.foreach { r =>
              nv(r.getInt(1)) = ((r.getLong(2).toDouble / r.getLong(3)) / KmFx).toFloat
            }
            (li, nv, norm(nv))
          case None => (li, oldV, oldN)
        }
      }
      iter += 1
    }
    cents
  }

  /** IVF-Flat ANN (the brief's second scale path next to LSH): a coarse
    * quantizer of `nLists` deterministic centroids — the vectors with the
    * smallest `mix(id) = (id·2654435761) mod (2^31−1)`, i.e. a seeded
    * hash-strided sample of the corpus, k-means-free so results are
    * reproducible across engines/runs. Unlike first-N-by-id (which on
    * id-clustered data draws all centroids from one region and lets a
    * single list absorb the corpus), the hash draw is uniform over the id
    * space regardless of insertion order; selection is a distributed
    * top-nLists (TakeOrdered), never a full sort or collect. Every vector
    * is assigned to its nearest centroid, and each query probes its
    * `nProbe` nearest lists with an exact cosine re-rank inside them. The
    * probe is an EQUI-join on list id — never all-pairs; at corpus scale
    * the lists shard by key like any join, nLists scales with √corpus so
    * list sizes stay bounded, and `maxListSize` salts any residual hot
    * list into (list, salt) sub-keys — candidate-set-preserving, output
    * identical (asserted in the spec). Recall measured vs brute force in
    * the spec. */
  def annIvf(emb: DataFrame, idCol: String, vecCol: String, k: Int,
             nLists: Int, nProbe: Int, maxListSize: Int = Int.MaxValue,
             kmeansIters: Int = 0): DataFrame = {
    import graft.functions.AnnExprs
    val spark = emb.sparkSession
    val e = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val cents = ivfCentroids(e, nLists, kmeansIters)
    // round 6: list assignment as a native codegen'd projection (the
    // expression calls VecKernels.nearestIn — identical list ids) in
    // place of the mapPartitions row kernels, AND the probe join now
    // carries only (list, id) — the round-5 shape shuffled both sides'
    // FLOAT VECTORS through the join and then dropped them unread
    // (scorePairs re-fetches vectors by id); projecting them out cuts the
    // join payload from ~4·dim bytes/row to 12 (guide §2.3).
    val lists = e.select(AnnExprs.nearestList(col("v"), cents).as("list"),
      col("id").as("pid"))
    val probes = e.select(col("id").as("qid"),
        explode(AnnExprs.nearestLists(col("v"), cents, nProbe)).as("list"))
    val cand =
      if (maxListSize == Int.MaxValue)
        probes.join(lists, "list")
          .where(col("qid") =!= col("pid"))
          .select(col("qid"), col("pid"))
      else {
        // list-size cap: a list of size s splits into ceil(s/maxListSize)
        // salt sub-keys; members hash onto one salt, probes fan out to all
        // of them — the candidate set is UNCHANGED (pure skew mitigation),
        // only the join key cardinality grows. Costs one aggregation job
        // over nLists rows (not corpus rows).
        val sizes = lists.groupBy("list").count().collect()
          .map(r => r.getInt(0) -> math.max(1L,
            (r.getLong(1) + maxListSize - 1) / maxListSize).toInt).toMap
        val bcSalts = spark.sparkContext.broadcast(sizes)
        val saltOf = udf { (list: Int, pid: Long) =>
          java.lang.Math.floorMod(pid * 40503L, bcSalts.value.getOrElse(list, 1).toLong).toInt
        }
        val saltsOf = udf { (list: Int) => (0 until bcSalts.value.getOrElse(list, 1)).toArray }
        probes.withColumn("salt", explode(saltsOf(col("list"))))
          .join(lists.withColumn("salt", saltOf(col("list"), col("pid"))),
            Seq("list", "salt"))
          .where(col("qid") =!= col("pid"))
          .select(col("qid"), col("pid"))
      }
    val scored = scorePairs(cand, emb, idCol, vecCol)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("pid").asc)
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select("qid", "rnk", "pid", "cos")
  }

  /** Plan-stats size (bytes) below which [[scorePairs]] collects+broadcasts
    * the vector table; above it the vectors are shuffled onto the pairs.
    * 256 MB of float vectors is dim-table territory for an 8g+ driver. */
  val BroadcastVecBytes: Long = 256L << 20

  /** Exact cosine for candidate (qid, pid) pairs — auto-selects the plan
    * from the vector table's Catalyst size estimate (no extra job): a
    * dim-table-sized corpus takes the zero-shuffle broadcast arm, anything
    * bigger joins the vectors onto the pairs. Both arms run the same JVM
    * fold kernel per row, so results are bit-identical either way.
    *
    * Every vector of an id counts: an id that `emb` holds more than once
    * scores each of its vectors, so a pair gives one row per (query
    * vector, candidate vector), as an inner join of the pairs with `emb`
    * on each endpoint does. Both arms follow this rule. */
  def scorePairs(pairs: DataFrame, emb: DataFrame, idCol: String,
                 vecCol: String): DataFrame = {
    val bytes = emb.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= BigInt(BroadcastVecBytes)) scorePairsBroadcast(pairs, emb, idCol, vecCol)
    else scorePairsJoin(pairs, emb, idCol, vecCol)
  }

  /** Exact cosine for candidate (qid, pid) pairs with the vector table
    * JOINED onto the pairs — the corpus-scale path: two equi-joins key the
    * pairs by each endpoint (AQE picks shuffle-hash/broadcast per side from
    * runtime stats), nothing is ever collected to the driver. Each row
    * calls the same dot and norm kernels as [[scorePairsBroadcast]], so the
    * two arms are bit-identical — asserted in SimilaritySpec. */
  def scorePairsJoin(pairs: DataFrame, emb: DataFrame, idCol: String,
                     vecCol: String): DataFrame = {
    val vecs = emb.select(col(idCol).cast("long").as("_vid"), col(vecCol).as("_v"))
    val joined = pairs.select(col("qid").cast("long"), col("pid").cast("long"))
      .join(vecs.select(col("_vid").as("qid"), col("_v").as("_qv")), "qid")
      .join(vecs.select(col("_vid").as("pid"), col("_v").as("_pv")), "pid")
      .select(col("qid"), col("pid"), col("_qv"), col("_pv"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cos", org.apache.spark.sql.types.DoubleType)))
    implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
    joined.mapPartitions { it =>
      it.map { r =>
        val q = r.getLong(0)
        val p = r.getLong(1)
        val qv = r.getSeq[Float](2).toArray
        val pv = r.getSeq[Float](3).toArray
        Row(q, p, dot(qv, pv) / (norm(qv) * norm(pv)))
      }
    }
  }

  /** Exact cosine for candidate (qid, pid) pairs via a broadcast map from
    * each id to all of its vectors, each with its norm, and the JVM fold
    * kernels ([[graft.functions.VecKernels.dot]]/`norm`), ~50× faster than
    * evaluating a `zip_with`/`aggregate` HOF per pair. A pair with a null
    * id or an id that `emb` lacks is dropped, and a repeated id scores
    * every one of its vectors, as [[scorePairsJoin]]'s inner joins do.
    * Driver-memory bound by construction — only [[scorePairs]] should call
    * it, which routes anything past [[BroadcastVecBytes]] to
    * [[scorePairsJoin]]. */
  def scorePairsBroadcast(pairs: DataFrame, emb: DataFrame, idCol: String,
                          vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    val vecs = emb.select(col(idCol).cast("long"), col(vecCol)).collect()
      .groupMap(_.getLong(0)) { r => val v = r.getSeq[Float](1).toArray; (v, norm(v)) }
    val bc = spark.sparkContext.broadcast(vecs)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cos", org.apache.spark.sql.types.DoubleType)))
    implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val ids = pairs.select(col("qid").cast("long"), col("pid").cast("long")).na.drop()
    ids.mapPartitions { it =>
      val m = bc.value
      val none = Array.empty[(Array[Float], Double)]
      it.flatMap { r =>
        val (q, p) = (r.getLong(0), r.getLong(1))
        for ((qv, qn) <- m.getOrElse(q, none).iterator; (pv, pn) <- m.getOrElse(p, none))
          yield Row(q, p, dot(qv, pv) / (qn * pn))
      }
    }
  }

  /** Brute-force cosine top-k with the plan auto-selected from the vector
    * table's Catalyst size estimate, exactly like [[scorePairs]]: a
    * dim-table-sized corpus takes the zero-shuffle broadcast arm
    * ([[cosineTopKBroadcast]]); anything bigger runs the fully distributed
    * self-join formulation ([[cosineTopK]]), which never collects. The two
    * arms are bit-identical (same left-to-right IEEE754 folds over the
    * same doubles — asserted in SimilaritySpec), so the selection is a
    * pure plan choice for ids that occur once. A repeated id is not
    * decided: both arms list each of its vectors as a candidate, but the
    * join arm ranks all of the id's query vectors in one window (their
    * rows share `qid`), while [[cosineTopKBroadcast]] ranks each query
    * vector on its own, from 1, so the arms then give different rows. */
  def cosineTopKAuto(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                     blockCol: Option[String] = None): DataFrame = {
    val bytes = emb.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= BigInt(BroadcastVecBytes)) cosineTopKBroadcast(emb, idCol, vecCol, k, blockCol)
    else cosineTopK(emb, idCol, vecCol, k, blockCol)
  }

  /** Brute-force cosine top-k with the block side broadcast — identical
    * output to [[cosineTopK]] (asserted in the spec) with zero shuffles:
    * scan → per-row scan of the broadcast block → local top-k. A row whose
    * block is null is neither query nor candidate, as in the join arm's
    * `a.blk === b.blk`. Driver-
    * memory bound by construction (collects the vector table) — only
    * [[cosineTopKAuto]] should call it, which routes anything past
    * [[BroadcastVecBytes]] to the distributed formulation. */
  def cosineTopKBroadcast(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                          blockCol: Option[String] = None): DataFrame = {
    val spark = emb.sparkSession
    val selCols = Seq(col(idCol).cast("long").as("id"), col(vecCol).as("v")) ++
      blockCol.map(c => col(c).cast("string").as("blk"))
    val all = emb.select(selCols: _*)
    val sel = if (blockCol.isDefined) all.where(col("blk").isNotNull) else all
    val grouped = sel.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        if (blockCol.isDefined) r.getString(2) else ""))
      .groupBy(_._3)
      .map { case (blk, rows) => blk -> rows.map { case (id, v, _) => (id, v, norm(v)) } }
    val bc = spark.sparkContext.broadcast(grouped)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("qid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rnk", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("pid", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cos", org.apache.spark.sql.types.DoubleType)))
    implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
    sel.mapPartitions { it =>
      val groups = bc.value
      it.flatMap { r =>
        val qid = r.getLong(0)
        val qv = r.getSeq[Float](1).toArray
        val blk = if (r.length > 2) r.getString(2) else ""
        val qn = norm(qv)
        val cands = groups(blk)
        val scored = cands.iterator.filter(_._1 != qid).map { case (pid, pv, pn) =>
          (dot(qv, pv) / (qn * pn), pid)
        }.toArray
        java.util.Arrays.sort(scored, Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long]))
        scored.iterator.take(k).zipWithIndex.map { case ((cos, pid), rk) =>
          Row(qid, rk + 1, pid, cos)
        }
      }
    }
  }
}
