package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Int8 scalar quantization for embedding search (the FAISS "SQ8" family) —
  * the memory-side half of the ANN story: a float32 corpus quantized to
  * one byte per dimension is 4× smaller at rest and in shuffle, and
  * quantized cosine needs only integer dot products. Per-vector symmetric
  * scaling keeps the scheme deterministic and engine-portable:
  *
  *   scale = max|v| / 127          (guarded against the zero vector)
  *   code_i = floor(v_i / scale + 0.5)   ∈ [-127, 127]
  *
  * COSINE CANCELS THE SCALES: cos_q(a,b) = Σ ca·cb / √(Σca²·Σcb²) — pure
  * integer sums (exact in Long: 16-dim·127² products stay far under 2^53),
  * one multiply, one correctly-rounded sqrt and divide — so quantized
  * scores are BIT-identical across engines, and the DuckDB oracle replays
  * the whole pipeline (q62/q63). Float→double widening, division, floor
  * and sqrt are all exactly specified by IEEE-754, so the CODES agree
  * cross-engine too.
  *
  * Quantization itself runs as the native codegen'd
  * [[graft.functions.FloatVecSq8]] expression — ONE scale scan per row;
  * the SQL-portable column-HOF spelling the DuckDB oracle replays
  * (bit-parity asserted in QuantizeSpec, in both eval modes) re-evaluates
  * the array_max scan inside the per-element lambda (O(d²) per vector —
  * the reason it is not the production path at embedding dims of 768+).
  */
object Quantize {

  /** per-vector symmetric scale (max|v|/127, zero-vector guarded) */
  def sq8Scale(vec: Column): Column =
    greatest(array_max(transform(vec, x => abs(x.cast("double")))), lit(1e-30)) / 127.0

  /** int8 codes as a long array — native one-scan expression */
  def sq8Codes(vec: Column): Column = graft.functions.VecExprs.sq8(vec)

  /** integer self-dot Σ c_i² of a code array (native codegen'd loop) */
  private def codeNorm2(codes: Column): Column =
    graft.functions.VecExprs.dotL(codes, codes)

  /** Evaluation barrier for an expensive projected column feeding the
    * STREAMED side of a hash join (round 6; found via the generated code
    * of the q73 join stage): whole-stage codegen defers a streamed
    * column's evaluation to its first USE, and a column consumed only
    * ABOVE the join is first used INSIDE the per-match loop — the
    * projection then re-runs once per PAIR instead of once per row
    * (measured 3-4× on the q70/q73 encode/LUT kernels). A single-element
    * `explode(array(col))` inserts a Generate operator, which evaluates
    * its generator input — and therefore the column — exactly once per
    * input row; the join then reads the materialized value. Zero storage,
    * zero exchange, zero extra pass (unlike a persist() barrier), and the
    * reason the IVF variants — whose probe side explodes its list array
    * anyway — never exhibited the per-pair re-evaluation. */
  private[graft] def evalBarrier(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, explode(array(col(c))))

  /** The rank tail every ANN method in this object shares: top-k per
    * query over candidate pairs, deterministic tie-break (score order,
    * then pid asc). One definition so a tie-break or rank change cannot
    * drift between the seven search variants. */
  private[ops] def rankTopK(pairs: DataFrame, orderCol: String, ascending: Boolean,
                       k: Int, outCols: Seq[String]): DataFrame = {
    val ord = if (ascending) col(orderCol).asc else col(orderCol).desc
    val w = Window.partitionBy("qid").orderBy(ord, col("pid").asc)
    pairs.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
      .select(outCols.map(col): _*)
  }

  /** Quantized brute-force cosine top-k within blocks: quantize → block
    * self-join → INTEGER dot per pair → one divide+sqrt for the score.
    * Output (qid, rnk, pid, qdot, cos_q), deterministic tie-break
    * (cos_q desc, pid asc). Same join shape as
    * [[Similarity.cosineTopK]]; the quantized scores track exact cosine
    * within quantization error (recall pinned in QuantizeSpec). All-pairs
    * within a block — the scoring BASELINE; [[annIvfSq8]] is the
    * sub-quadratic production composition. */
  def annSq8(emb: DataFrame, idCol: String, vecCol: String, k: Int,
             blockCol: Option[String] = None): DataFrame = {
    val cols = Seq(col(idCol).cast("long").as("id"),
      sq8Codes(col(vecCol)).as("c")) ++ blockCol.map(c => col(c).as("blk"))
    val e = emb.select(cols: _*).withColumn("qn", codeNorm2(col("c")))
    val joinCond = blockCol match {
      case Some(_) => col("a.blk") === col("b.blk") && col("a.id") =!= col("b.id")
      case None => col("a.id") =!= col("b.id")
    }
    // native codegen'd integer loop ([[graft.functions.LongVecDot]]) —
    // exactly the HOF fold's result (integer arithmetic, no rounding),
    // without interpreting a lambda per pair
    val qdot = graft.functions.VecExprs.dotL(col("a.c"), col("b.c"))
    val pairs = e.as("a").join(e.as("b"), joinCond)
      .select(col("a.id").as("qid"), col("b.id").as("pid"), qdot.as("qdot"),
        (col("a.qn") * col("b.qn")).as("qn2"))
      .withColumn("cos_q", col("qdot").cast("double") / sqrt(col("qn2").cast("double")))
    rankTopK(pairs, "cos_q", ascending = false, k,
      Seq("qid", "rnk", "pid", "qdot", "cos_q"))
  }

  /** IVF-SQ8 — the FAISS composition a 100 TB embedding store actually
    * runs: SUB-QUADRATIC candidate generation (IVF coarse quantizer) over
    * a 4×-SMALLER quantized corpus with INTEGER scoring.
    *
    * Pipeline: (1) coarse centroids = [[Similarity.annIvf]]'s
    * deterministic hash-strided draw (the vectors with the smallest
    * `(id·2654435761) mod (2^31−1)`), ranked by EXACT float cosine so
    * list assignment matches IVF-Flat's exactly; (2) every vector's SQ8
    * codes + integer self-norm are keyed by its nearest list, queries
    * fan out to their `nProbe` nearest lists; (3) candidates come from
    * the list EQUI-join — never all-pairs; (4) scoring is the integer
    * [[graft.functions.LongVecDot]] over codes (scales cancel in
    * cosine), one divide+sqrt per pair.
    *
    * At scale: centroid selection is a distributed TakeOrdered over
    * nLists rows; the probe join shuffles by list id like any equi-join
    * (nLists ~ √corpus keeps lists bounded); the shuffled payload is the
    * CODE array — one byte of information per dimension instead of four.
    * Only the quantized codes ever reach the join; the float corpus is
    * read once, in the projection. Recall vs exact cosine measured in
    * QuantizeSpec; gated as q63 with a full-pipeline DuckDB oracle.
    *
    * Output (qid, rnk, pid, qdot, cos_q) like [[annSq8]]. */
  def annIvfSq8(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                nLists: Int, nProbe: Int): DataFrame = {
    import graft.functions.{AnnExprs, VecExprs}
    val e = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // coarse quantizer: identical draw + exact-cosine ranking to annIvf so
    // the two indexes share list structure (and the q41 oracle technique);
    // [[Similarity.ivfCentroids]] also offers k-means refinement there
    val cents = Similarity.ivfCentroids(e, nLists)
    // round 6: list assignment + quantization as native codegen'd
    // projections (the expressions call the SAME kernels — nearestIn /
    // the FloatVecSq8 loop — so codes and list ids are unchanged) instead
    // of mapPartitions row kernels: no DeserializeToObject/
    // SerializeFromObject codec per corpus row, and each side fuses into
    // one whole-stage-codegen'd scan→project stage feeding the join.
    // Only codes + integer norms flow into the join, as before.
    val lists = evalBarrier(e
      .select(AnnExprs.nearestList(col("v"), cents).as("list"),
        col("id").as("pid"), VecExprs.sq8(col("v")).as("pc"))
      .withColumn("pn", VecExprs.dotL(col("pc"), col("pc"))), "pc")
    val probes = e
      .select(col("id").as("qid"), VecExprs.sq8(col("v")).as("qc"),
        AnnExprs.nearestLists(col("v"), cents, nProbe).as("ls"))
      .select(col("qid"), col("qc"), VecExprs.dotL(col("qc"), col("qc")).as("qnn"),
        explode(col("ls")).as("list"))
    val qdot = graft.functions.VecExprs.dotL(col("qc"), col("pc"))
    val pairs = probes.join(lists, "list")
      .where(col("qid") =!= col("pid"))
      .select(col("qid"), col("pid"), qdot.as("qdot"),
        (col("qnn") * col("pn")).as("qn2"))
      .withColumn("cos_q", col("qdot").cast("double") / sqrt(col("qn2").cast("double")))
    rankTopK(pairs, "cos_q", ascending = false, k,
      Seq("qid", "rnk", "pid", "qdot", "cos_q"))
  }

  /** IVF-SQ8 with exact rerank (FAISS's `IndexRefineFlat` over IVF-SQ8):
    * the quantized index proposes each query's top-`rerankK` candidates
    * (integer scoring over the 4×-smaller codes — [[annIvfSq8]]
    * unchanged), then ONLY those ≤ rerankK·n pairs are re-scored with
    * exact float cosine ([[Similarity.scorePairs]] — auto broadcast vs
    * join from plan stats) and re-ranked to the final top-`k`. This is
    * the standard accuracy knob: quantization error can swap
    * nearly-tied neighbours in the quantized ranking; the refine step
    * restores the EXACT order within the candidate set, so output
    * quality is "exact cosine, restricted to IVF-SQ8 candidates" at the
    * cost of one float read per surviving pair instead of per corpus
    * pair. rerankK ≥ k (a few × k in practice).
    *
    * At scale the rerank adds two equi-joins keyed by vector id
    * (candidates × corpus per endpoint) — shuffle volume is the
    * candidate set, not the corpus; the quantized stage still never
    * touches floats. Output (qid, rnk, pid, cos) like
    * [[Similarity.annIvf]]; gated as q69 with a full-pipeline oracle
    * (the q63 oracle ranked to rerankK, re-scored by the q41 exact-fold
    * arithmetic). */
  def annIvfSq8Rerank(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                      nLists: Int, nProbe: Int, rerankK: Int): DataFrame = {
    require(rerankK >= k, s"rerankK=$rerankK must be >= k=$k")
    exactRerank(annIvfSq8(emb, idCol, vecCol, rerankK, nLists, nProbe),
      emb, idCol, vecCol, k)
  }

  /** The refine tail shared by the rerank variants: exact float cosine
    * over the candidate (qid, pid) pairs ([[Similarity.scorePairs]] —
    * auto broadcast vs join), re-ranked (cos desc, pid asc) to top-k. */
  private def exactRerank(cand: DataFrame, emb: DataFrame, idCol: String,
                          vecCol: String, k: Int): DataFrame = {
    val scored = Similarity.scorePairs(cand.select("qid", "pid"), emb, idCol, vecCol)
    rankTopK(scored, "cos", ascending = false, k, Seq("qid", "rnk", "pid", "cos"))
  }

  // ------------------------------------------------------------------
  // Product quantization (the FAISS "PQ" family) — the compression tier
  // BEYOND SQ8: the vector is split into m subspaces and each subspace
  // is vector-quantized against its own ksub-entry codebook, so a
  // D-float vector becomes m small codes (log2(ksub) bits each) —
  // 4D bytes → m bytes at ksub ≤ 256 (32× at D=64, m=8). Search is
  // ADC (asymmetric distance computation): the QUERY stays float, one
  // m×ksub lookup table of exact subspace L2 distances is built per
  // query, and each corpus vector's distance is m table lookups + a
  // sum — ||q − ŷ||² for the PQ reconstruction ŷ, never touching the
  // corpus floats. At 768 dims this is what large embedding stores
  // actually run (SQ8's 4× stops paying long before PQ's 32-64× does).
  // ------------------------------------------------------------------

  /** PQ codebooks from the deterministic hash-strided draw (the SAME
    * seed selection as [[Similarity.ivfCentroids]], so the DuckDB
    * oracle replays it with the q41/q63 technique): the `ksub` vectors
    * with the smallest `(id·2654435761) mod (2^31−1)`, sliced into `m`
    * equal subspaces; codebook index = draw rank. k-means-free and
    * engine-portable; selection is a distributed TakeOrdered over ksub
    * rows, never a collect of the corpus. Returns m × ksub × (D/m). */
  def pqCodebooks(e: DataFrame, m: Int, ksub: Int): Array[Array[Array[Float]]] = {
    // the at-rest tier packs one code per SIGNED byte (Lake.writePqEmbeddings
    // / BytesSdcDist): THOSE call sites require ksub <= 128; the array<int>
    // scoring tier (annPq/annIvfPq) supports the standard 8-bit FAISS
    // geometry up to ksub = 256 (ADVICE r05: the signed-byte cap is a
    // property of the storage tier, not of PQ itself)
    requireKsub(ksub)
    pqCodebooksFromSeeds(Similarity.ivfCentroids(e, ksub), m)
  }

  private def requireKsub(ksub: Int): Unit =
    require(ksub >= 1 && ksub <= 256, s"ksub=$ksub out of range [1,256]")

  /** Slice an existing hash-strided seed draw (the first `ksub` rows of
    * any [[Similarity.ivfCentroids]] result — the draw is prefix-stable)
    * into `m` per-subspace codebooks. Lets [[annIvfPq]] share ONE corpus
    * TakeOrdered between the coarse quantizer and the codebooks. */
  def pqCodebooksFromSeeds(seeds: Array[(Int, Array[Float], Double)],
                           m: Int): Array[Array[Array[Float]]] = {
    val dim = seeds.head._2.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      seeds.sortBy(_._1).map { case (_, v, _) => v.slice(s * dsub, (s + 1) * dsub) }
    }
  }

  /** PQ-ADC top-k within blocks: corpus encoded ONCE to m codes per
    * vector (a codegen'd projection with the codebook as a reference
    * object — only the codes reach the join), each query carries its LUT,
    * and the per-pair distance is the native
    * [[graft.functions.IntVecAdcDist]]: m table lookups folded left to
    * right from 0.0 in subspace order, the fold the DuckDB oracle replays
    * draw → encode → ADC → rank end to end (q70). Output (qid, rnk, pid,
    * dist) ranked by ADC distance ASC (dist = ||q − ŷ||², ŷ the PQ
    * reconstruction — identity asserted
    * in QuantizeSpec), ties pid ASC. Same block equi-join shape as
    * [[annSq8]]; at corpus scale the shuffled payload is m bytes of
    * code per corpus row and ~ksub·m doubles per query row. */
  def annPq(emb: DataFrame, idCol: String, vecCol: String, k: Int,
            m: Int, ksub: Int, blockCol: Option[String] = None): DataFrame = {
    import graft.functions.AnnExprs
    val baseCols = Seq(col(idCol).cast("long").as("id"), col(vecCol).as("v")) ++
      blockCol.map(c => col(c).as("blk"))
    val e = emb.select(baseCols: _*)
    val cb = pqCodebooks(
      emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")), m, ksub)
    // round 6: encode/LUT as native codegen'd projections (the expressions
    // call VecKernels.pqCodes/pqLutTable — codes and tables are
    // unchanged; the codebook rides along as a codegen reference object)
    // instead of mapPartitions row kernels: no row codec per corpus row,
    // both sides fuse into single scan→project codegen stages.
    val hasBlk = blockCol.isDefined
    // evalBarrier on both sides: either side may be planned as the
    // streamed side of the block join, and an unbarriered encode/LUT
    // would re-run per PAIR in the join's match loop (see [[evalBarrier]])
    val corpus = evalBarrier(e.select((Seq(col("id").as("pid"),
      AnnExprs.pqEncode(col("v"), cb).as("codes")) ++
      (if (hasBlk) Seq(col("blk")) else Nil)): _*), "codes")
    val queries = evalBarrier(e.select((Seq(col("id").as("qid"),
      AnnExprs.pqLut(col("v"), cb).as("lut")) ++
      (if (hasBlk) Seq(col("blk")) else Nil)): _*), "lut")
    val joined =
      if (hasBlk) queries.join(corpus, "blk").where(col("qid") =!= col("pid"))
      else queries.crossJoin(corpus).where(col("qid") =!= col("pid"))
    val dist = AnnExprs.adcDist(col("codes"), col("lut"))
    val scored = joined.select(col("qid"), col("pid"), dist.as("dist"))
    rankTopK(scored, "dist", ascending = true, k, Seq("qid", "rnk", "pid", "dist"))
  }

  /** IVF-PQ (FAISS's flagship billion-scale index, the
    * `by_residual=false` configuration): IVF's coarse quantizer prunes
    * candidates to the nProbe probed lists — the SAME deterministic
    * draw and exact-cosine assignment as [[Similarity.annIvf]] /
    * [[annIvfSq8]], so all three indexes share list structure — and
    * the surviving pairs are scored by PQ-ADC over m codes per corpus
    * vector ([[annPq]]'s table-lookup expression). The join moves m bytes
    * of information per corpus row (32× under SQ8's already-4×-smaller
    * codes at D=64, m=8) and one LUT per probing query; the float
    * corpus is read once, in the encode projection, and never shuffled.
    * Output (qid, rnk, pid, dist) ranked by ADC distance ASC, ties pid
    * ASC — for the pairs it returns, distances are IDENTICAL to
    * [[annPq]]'s (composition changes candidates only; asserted in
    * QuantizeSpec). Gated q71: the oracle replays the q63 list
    * assignment × the q70 encode/ADC, end to end. */
  def annIvfPq(emb: DataFrame, idCol: String, vecCol: String, k: Int,
               nLists: Int, nProbe: Int, m: Int, ksub: Int): DataFrame = {
    import graft.functions.AnnExprs
    requireKsub(ksub)
    val e = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // round 6: ONE hash-strided TakeOrdered draw serves both the coarse
    // quantizer (first nLists seeds) and the PQ codebooks (first ksub) —
    // the draw is a prefix-stable ordering, so slicing a max(nLists, ksub)
    // draw is identical to two separate draws, at half the corpus jobs
    val seeds = Similarity.ivfCentroids(e, math.max(nLists, ksub))
    // a corpus of fewer than ksub rows would give a smaller codebook
    require(seeds.length >= ksub,
      s"ksub=$ksub exceeds the ${seeds.length} seeds drawn from the corpus")
    val cents = seeds.take(nLists)
    val cb = pqCodebooksFromSeeds(seeds.take(ksub), m)
    // assignment/encode/LUT as native codegen'd projections (same kernels
    // as round 5's mapPartitions — bit-identical codes/lists/tables),
    // fused into each side's scan stage; no row codec per corpus row
    val lists = evalBarrier(
      e.select(AnnExprs.nearestList(col("v"), cents).as("list"),
        col("id").as("pid"), AnnExprs.pqEncode(col("v"), cb).as("codes")), "codes")
    val probes = e.select(col("id").as("qid"),
        AnnExprs.pqLut(col("v"), cb).as("lut"),
        AnnExprs.nearestLists(col("v"), cents, nProbe).as("ls"))
      .select(col("qid"), col("lut"), explode(col("ls")).as("list"))
    val dist = AnnExprs.adcDist(col("codes"), col("lut"))
    val scored = probes.join(lists, "list")
      .where(col("qid") =!= col("pid"))
      .select(col("qid"), col("pid"), dist.as("dist"))
    rankTopK(scored, "dist", ascending = true, k, Seq("qid", "rnk", "pid", "dist"))
  }

  /** IVF-PQ with exact rerank (FAISS `IndexRefineFlat` over IVFPQ) —
    * the full production stack: list pruning bounds the candidate set,
    * PQ-ADC ranks it from m-byte codes, and exact float cosine
    * re-ranks the quantized top-`rerankK` to the final top-`k`. The
    * refine matters MOST here: PQ's reconstruction error is the
    * coarsest of the family (an m-byte code cannot rank neighbours
    * closer together than the quantization cell — q70's spec documents
    * the negative), so the exact pass restores intra-cell order at one
    * float read per surviving pair. Output (qid, rnk, pid, cos); gated
    * q72 (the q71 oracle ranked to rerankK + the q41 exact-fold
    * rerank). */
  def annIvfPqRerank(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                     nLists: Int, nProbe: Int, m: Int, ksub: Int,
                     rerankK: Int): DataFrame = {
    require(rerankK >= k, s"rerankK=$rerankK must be >= k=$k")
    exactRerank(annIvfPq(emb, idCol, vecCol, rerankK, nLists, nProbe, m, ksub),
      emb, idCol, vecCol, k)
  }

  /** SDC table for PQ codes: sdc(s)(i)(j) = exact subspace L2 between
    * codebook entries i and j ([[graft.functions.VecKernels.subL2]], the
    * fold of the ADC LUT).
    * m×ksub² doubles (8×16² = 2 K at the gate geometry; at production
    * dims think 96 subspaces × 128² = 1.6 M — still broadcast-trivial;
    * ksub is capped at 128 by the signed-byte code layout, see
    * [[pqCodebooks]]).
    * Symmetric distance computation is FAISS's all-quantized mode: when
    * only the at-rest codes exist on BOTH sides (self-search over a PQ
    * lake table, no float read at all), dist(x,y) ≈ ||x̂ − ŷ||² — the
    * price is both reconstructions' error instead of one. */
  def pqSdcTable(cb: Array[Array[Array[Float]]]): Array[Array[Array[Double]]] =
    cb.map { entries =>
      Array.tabulate(entries.length) { i =>
        entries.map(c => graft.functions.VecKernels.subL2(entries(i), 0, c))
      }
    }

  /** PQ-SDC top-k DIRECTLY over the at-rest layout (id, BINARY codes
    * [, block]) — no float column is read anywhere: per-pair distance is
    * m lookups into the SDC table via the native codegen'd
    * [[graft.functions.BytesSdcDist]] (the table rides along as a
    * codegen reference object; the packed bytes are the join payload —
    * no unpack projection). Self-search shape of [[annPq]]; distances
    * equal the L2 between the two PQ reconstructions (subspace-blocked
    * — asserted in LakeSpec; bit-parity with the SQL-portable HOF
    * spelling in both eval modes — QuantizeSpec). Output
    * (qid, rnk, pid, dist), dist ASC, ties pid ASC. */
  def annPqSdc(quant: DataFrame, cb: Array[Array[Array[Float]]],
               idCol: String, codesCol: String, k: Int,
               blockCol: Option[String] = None): DataFrame = {
    // the SDC tier reads SIGNED-byte codes: 256-entry codebooks need an
    // unsigned decode that the binary layout does not carry
    require(cb.head.length <= 128,
      s"ksub=${cb.head.length} exceeds the signed-byte code range of the binary layout")
    val cols = Seq(col(idCol).cast("long").as("id"),
      col(codesCol).as("c")) ++ blockCol.map(c => col(c).as("blk"))
    val e = quant.select(cols: _*)
    val joinCond = blockCol match {
      case Some(_) => col("a.blk") === col("b.blk") && col("a.id") =!= col("b.id")
      case None => col("a.id") =!= col("b.id")
    }
    val dist = graft.functions.VecExprs.sdcDist(col("a.c"), col("b.c"), pqSdcTable(cb))
    val pairs = e.as("a").join(e.as("b"), joinCond)
      .select(col("a.id").as("qid"), col("b.id").as("pid"), dist.as("dist"))
    rankTopK(pairs, "dist", ascending = true, k, Seq("qid", "rnk", "pid", "dist"))
  }

  /** SQ8 codes packed as BINARY — one signed byte per dimension, the
    * AT-REST layout ([[graft.lake.Lake.writeQuantizedEmbeddings]]): a
    * parquet embedding table stores d bytes per vector instead of 4d. */
  def sq8Bytes(vec: Column): Column = graft.functions.VecExprs.sq8Bytes(vec)

  /** Quantized brute-force cosine top-k DIRECTLY over the at-rest layout
    * (id, binary codes [, block]): same join/rank shape as [[annSq8]],
    * scored with the native [[graft.functions.BytesVecDot]] over the
    * packed bytes — no float corpus read, no per-row array
    * materialization. Bit-identical to [[annSq8]] on the same vectors
    * (same integer dots, same divide+sqrt — asserted in QuantizeSpec). */
  def annSq8FromCodes(quant: DataFrame, idCol: String, codesCol: String, k: Int,
                      blockCol: Option[String] = None): DataFrame = {
    import graft.functions.VecExprs
    val cols = Seq(col(idCol).cast("long").as("id"),
      col(codesCol).as("c")) ++ blockCol.map(c => col(c).as("blk"))
    val e = quant.select(cols: _*)
      .withColumn("qn", VecExprs.dotB(col("c"), col("c")))
    val joinCond = blockCol match {
      case Some(_) => col("a.blk") === col("b.blk") && col("a.id") =!= col("b.id")
      case None => col("a.id") =!= col("b.id")
    }
    val qdot = VecExprs.dotB(col("a.c"), col("b.c"))
    val pairs = e.as("a").join(e.as("b"), joinCond)
      .select(col("a.id").as("qid"), col("b.id").as("pid"), qdot.as("qdot"),
        (col("a.qn") * col("b.qn")).as("qn2"))
      .withColumn("cos_q", col("qdot").cast("double") / sqrt(col("qn2").cast("double")))
    rankTopK(pairs, "cos_q", ascending = false, k,
      Seq("qid", "rnk", "pid", "qdot", "cos_q"))
  }
}
