package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for the training-data pipeline: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Hash functions are pure integer arithmetic
  * over corpus vocab ids (not JVM string hashes), so every step is
  * reproducible in the DuckDB oracle and across languages/engines.
  *
  * Scale notes: vocab assignment is a groupBy+window over distinct tokens
  * (shuffle ∝ vocab size, not corpus size); MinHash signatures are one
  * hash-agg to an array per doc; band keys are a projection of that array;
  * LSH grouping is an aggregate + equi-join on (band, bandkey) — never an
  * all-pairs cross join.
  */
object Dedup {

  val MersennePrime = 2147483647L // 2^31-1

  /** Exact dedup: keep the minimum id per key, with duplicate count. */
  def exact(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.groupBy(keyCol)
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n_dupes"))

  /** Corpus vocabulary: distinct whitespace tokens with dense ids assigned
    * in lexicographic order (deterministic, engine-portable). Ids come from
    * [[Ids.denseId]] (range-partitioned prefix-sum) — a global
    * `row_number() over (order by token)` would move the entire vocab (at
    * web scale: billions of tokens) to a single partition. */
  def vocab(docs: DataFrame, textCol: String): DataFrame =
    Ids.denseId(
      docs.select(explode(split(col(textCol), " ")).as("token")).distinct(),
      "vid", Seq("token"))

  /** Per-document distinct token vids: (id, vid). The vocab join carries NO
    * broadcast hint: at gate scale AQE converts it to a broadcast join from
    * runtime stats, while a web-scale vocab (billions of tokens, far past
    * any broadcast limit) shuffles both sides on `token` like any equi-join. */
  def docTokenVids(docs: DataFrame, idCol: String, textCol: String,
                   voc: DataFrame): DataFrame =
    docs.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("token"))
      .distinct()
      .join(voc, "token")
      .select("id", "vid")


  /** MinHash signatures: numHashes universal-hash minima per doc, as
    * (id, sig) with sig(j) the j-th minimum.
    * h_j(v) = ((v+1)·(2654435761 + 2j) + j·7919) mod (2^31−1).
    * Two traps this form avoids (both found by the planted-pair spec):
    * the multiplier must exceed the modulus so products wrap (a small one
    * keeps the map order-preserving → MinHash degrades to "hash of the
    * smallest vid"), and v=0 must not be a fixed point (v+1 shift) — else
    * every doc containing vocab id 0 shares one signature.
    *
    * Implemented as a typed partial/final [[MinhashAgg]]: one hash-agg
    * shuffle keyed by doc id, each token folding its numHashes minima into
    * a primitive long[] buffer — no numHashes× row explode (the previous
    * column form shuffled `numHashes · |tokens|` rows; same shuffle-IO fix
    * as SimHash in round 2). */
  def minhash(tokenVids: DataFrame, numHashes: Int): DataFrame =
    tokenVids.groupBy("id")
      .agg(MinhashAgg.udafCol(numHashes, col("vid")).as("sig"))

  /** (id, band, bandkey) rows from [[minhash]] signatures, bands of 2
    * minima: band b's key packs sig(2b) and sig(2b+1) collision-free into
    * one Long. A pure projection of the array (no shuffle); an odd-length
    * signature's last minimum is left unbanded, and a signature shorter
    * than 2 gives no band rows. */
  def bandKeys(sigs: DataFrame): DataFrame = {
    val bands = (size(col("sig")) / 2).cast("int")
    sigs.select(col("id"),
        posexplode(transform(
          when(bands > 0, sequence(lit(0), bands - 1)),
          b => element_at(col("sig"), b * 2 + 1) * MersennePrime +
            element_at(col("sig"), b * 2 + 2)))
          .as(Seq("band", "bandkey")))
      .select(col("id"), col("band").cast("int").as("band"), col("bandkey"))
  }

  /** Connectivity edges from MinHash LSH buckets of [[minhash]]
    * signatures: each (band, bandkey) bucket contributes a STAR —
    * bucket-min id ↔ every other member — instead of the (k choose 2)
    * clique. The connected components are IDENTICAL (a star spans its
    * bucket), but a k-doc bucket emits k−1 edges instead of k(k−1)/2: at
    * sf0.1 the gate graph drops from 7.8 M pairs to ~20 k edges; at corpus
    * scale a hot band bucket stops being quadratic. One aggregation + one
    * equi-join, both keyed by (band, bandkey). The natural input to
    * [[connectedComponents]]. */
  def lshComponentEdges(sigs: DataFrame): DataFrame =
    starEdges(bandKeys(sigs))

  /** bucket-min star edges from (id, band, bandkey) rows */
  private def starEdges(banded: DataFrame): DataFrame = {
    val bucketMin = banded.groupBy("band", "bandkey").agg(min("id").as("a"))
    banded.join(bucketMin, Seq("band", "bandkey"))
      .where(col("id") =!= col("a"))
      .select(col("a"), col("id").as("b"))
      .distinct()
  }

  /** Exact Jaccard over distinct word n-gram sets, restricted to grams whose
    * document frequency is ≤ `dfCap` (standard near-dup practice: a hot gram
    * like "of the and" appearing in T docs would contribute T²/2 pairs to
    * the gram self-join — quadratic per gram at corpus scale). The gram
    * universe, set sizes, and intersections are all measured over the kept
    * grams, so the score is the exact Jaccard of the capped gram sets.
    * Recall tradeoff: a pair whose every shared gram is hotter than `dfCap`
    * is not emitted — acceptable for dedup, where pairs sharing only
    * boilerplate grams are not near-duplicates. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String, n: Int,
                   dfCap: Long): DataFrame = {
    // round 6: the df cap is computed as a COUNT WINDOW over the gram key
    // instead of a separate aggregate + join-back. The join form needed
    // the gram table twice (count branch + join branch) and every
    // downstream consumer (sizes + both self-join sides) duplicated that
    // whole subtree — 16 parquet scans / 8 tokenize+explode+distinct
    // copies in the round-5 q26 plan. With the window form every consumer
    // shares ONE identical exchange-on-gram subtree, which Catalyst
    // computes once and rereads as ReusedExchange — and the gram self-join
    // inherits the window's hash-partitioning, adding no exchange of its
    // own. (A persist() of the gram table was measured SLOWER at sf0.1 —
    // the columnar cache encode of corpus strings costs more than the
    // shuffle-reuse, and the window needs no cache at any scale.)
    val grams = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("i", explode(sequence(lit(0), size(col("toks")) - n)))
      .select(col("id"),
        array_join(slice(col("toks"), col("i") + 1, lit(n)), " ").as("gram"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    val kept = grams.withColumn("_df", count(lit(1)).over(w))
      .where(col("_df") <= dfCap).drop("_df")
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("sz"))
    // rename on independent projections — same-lineage self-joins silently
    // mis-resolve the a<b predicate
    val g1 = kept.select(col("id").as("a"), col("gram"))
    val g2 = kept.select(col("id").as("b"), col("gram"))
    val inter = g1.join(g2, Seq("gram"))
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jacc", col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")).cast("double"))
      .select("a", "b", "inter", "jacc")
  }

  /** 60-bit SimHash over distinct token vids (60 bits keeps the packed
    * value positive in both engines). Bit k of token v =
    * ((v*2654435761 + k*40503) >> 13) & 1; simhash bit k is 1 iff the
    * majority of tokens set it (sum of ±1 votes > 0, ties → 0).
    *
    * Implemented as a typed partial/final [[SimhashAgg]] Aggregator: one
    * hash-agg shuffle keyed by doc id, each token folding its 60 votes into
    * a primitive int[60] buffer — no 60× row explode (the previous column
    * formulation pushed 60·|tokens| rows through two shuffles; 15 s → ~2 s
    * at sf0.1, and ~60× less shuffle IO at corpus scale). Vote sums are
    * integers, so the result is order-free and identical to the per-bit
    * column formula the DuckDB oracle (q28) runs. */
  def simhash(tokenVids: DataFrame): DataFrame =
    tokenVids.groupBy("id")
      .agg(SimhashAgg.udafCol(col("vid")).as("simhash"))

  /** Embedding-cosine near-duplicate pairs: exact cosine within blocks
    * (label/shard/LSH-bucket — any pre-grouping column), emitting (a, b,
    * cos) once per pair (a < b) with cos ≥ `tau`.
    *
    * Scale shape: ONE shuffle keyed by block (`groupByKey` →
    * `flatMapGroups`); each task buffers only its own block's vectors, so
    * executor memory bounds the BLOCK size, not the corpus — nothing is
    * ever collected to the driver. All-pairs work is quadratic per block
    * by definition, so at corpus scale feed LSH buckets
    * ([[Similarity.annLshBanded]]'s candidate stage) as the block column —
    * never a whole-corpus block. The per-pair kernel is
    * [[graft.functions.VecKernels.dot]], the same left-to-right IEEE754
    * fold as the oracle's column formulation (smaller id's vector is
    * always the left operand), so cosines are bit-identical to it. */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, tau: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import graft.functions.VecKernels.{dot, norm}
    val rows = emb
      .select(col(blockCol).cast("string"), col(idCol).cast("long"), col(vecCol))
      .as[(String, Long, Array[Float])]
    rows.groupByKey(_._1).flatMapGroups { (_, it) =>
      val members = it.map { case (_, id, v) => (id, v, norm(v)) }.toArray
      scala.util.Sorting.quickSort(members)(Ordering.by(_._1))
      (0 until members.length).iterator.flatMap { i =>
        val (a, av, an) = members(i)
        (i + 1 until members.length).iterator.flatMap { j =>
          val (b, bv, bn) = members(j)
          val cos = dot(av, bv) / (an * bn)
          if (cos >= tau) Some((a, b, cos)) else None
        }
      }
    }.toDF("a", "b", "cos")
  }

  /** Connected components over an undirected candidate-pair set (a, b) —
    * the dedup CLUSTERING step every near-dup pipeline needs between
    * "candidate pairs" ([[lshComponentEdges]]' star edges, [[ngramJaccard]],
    * [[embeddingNearDup]]) and "keep one per group": transitive duplicates
    * (A~B, B~C) must land in ONE group even when (A,C) was never a
    * candidate. Output: (id, comp) for every node appearing in `pairs`,
    * comp = the component's minimum id (so `id === comp` IS the keeper
    * predicate).
    *
    * Algorithm: min-label flooding with SHORTCUTTING (Shiloach-Vishkin
    * style) — each round every node takes the min of its own, its
    * neighbours', and its label's label (pointer doubling), so convergence
    * is O(log diameter) rounds, not O(diameter): a 300-link near-dup CHAIN
    * (common in crawl snapshots — page series) settles in ~9 rounds. Each
    * round is two equi-joins + a hash-agg, all shuffles keyed by node id.
    * Round-local frames are persisted one round at a time and re-rooted on
    * their RDD (same hygiene as Knn — plan depth stays constant). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          smallGraphMaxEdges: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    import org.apache.spark.storage.StorageLevel
    def barrier(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    val e = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    // Auto-selected small-graph arm (the scorePairs broadcast-arm
    // pattern): below the threshold the edge list fits the driver many
    // times over, and union-find beats 4-6 distributed rounds' fixed
    // cost by ~10×. The flooding loop below remains the scale path —
    // near-dup edge sets at corpus scale exceed any driver.
    if (nEdges <= smallGraphMaxEdges) {
      spark.conf.set("graft.cc.rounds", "0") // driver arm: no flooding rounds
      val edgeArr = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      e.unpersist(false)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgeArr.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val comp = parent.keys.toArray.map(id => (id, find(id)))
      // min-label components: union-by-min keeps roots minimal already
      import spark.implicits._
      return spark.createDataset(comp.toSeq).toDF("id", "comp")
        .repartition(1)
    }
    val edges = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = barrier(edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      iter += 1
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("comp").as("nbrComp")), "b")
        .groupBy("a").agg(min("nbrComp").as("minNbr"))
      val hopped = labels
        .join(nbrMin.withColumnRenamed("a", "id"), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("minNbr"), col("comp"))).as("comp"),
          col("comp").as("oldComp"))
      // shortcutting: also adopt the label OF the current label
      val next = barrier(hopped
        .join(labels.select(col("id").as("comp"), col("comp").as("comp2")), Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp"),
          (least(col("comp"), coalesce(col("comp2"), col("comp"))) < col("oldComp"))
            .cast("long").as("chg")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      changed = next.agg(coalesce(sum("chg"), lit(0L))).head().getLong(0)
      labels.unpersist(false)
      labels = next
    }
    // observability for the scale bench (tools/run_cc_scale protocol):
    // how many flooding rounds this graph actually took
    spark.conf.set("graft.cc.rounds", iter.toString)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("comp", org.apache.spark.sql.types.LongType)))
    val outRdd = labels.select("id", "comp").rdd
    outRdd.localCheckpoint()
    outRdd.count()
    labels.unpersist(false)
    edges.unpersist(false)
    e.unpersist(false)
    spark.createDataFrame(outRdd, outSchema)
  }

  /** End-to-end embedding near-duplicate DEDUP — the full production
    * pipeline in one call: banded SRP-LSH candidate pairs
    * ([[Similarity.lshCandidatePairs]], equi-join on (band, bandkey)) →
    * exact cosine re-score of candidates only ([[Similarity.scorePairs]],
    * broadcast-or-join auto-selected) → keep pairs with cos ≥ `tau` →
    * transitive grouping ([[connectedComponents]]). Output: (id, component)
    * for every id in `emb`, component = group-min id (singletons are their
    * own component), so `id === component` is the keeper predicate.
    * Every stage is bucketed/keyed — nothing quadratic in the corpus,
    * nothing collected to the driver. */
  def nearDupGroups(emb: DataFrame, idCol: String, vecCol: String, tau: Double,
                    bands: Int, rowsPerBand: Int): DataFrame = {
    val cand = Similarity.lshCandidatePairs(emb, idCol, vecCol, bands, rowsPerBand)
    val scored = Similarity.scorePairs(
      cand.select(col("a").as("qid"), col("b").as("pid")), emb, idCol, vecCol)
    val edges = scored.where(col("cos") >= tau)
      .select(col("qid").as("a"), col("pid").as("b"))
    val cc = connectedComponents(edges)
    emb.select(col(idCol).cast("long").as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
  }

  /** Paragraph-level dedup (the Dolma-style granularity below whole-doc
    * exact dedup): a paragraph repeated anywhere in the corpus survives
    * only at its globally-first occurrence (min (doc, position)), and
    * every document is reassembled from its kept paragraphs in original
    * order. Shapes: posexplode (linear) → one hash-agg keyed by paragraph
    * (`min(struct(id, pos))` — map-side partials, no window over the
    * corpus) → equi-join back → per-doc hash-agg. At 100 TB the paragraph
    * table is the only shuffled relation; in production the paragraph
    * string would be keyed by its hash — the shapes are identical. */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      sep: String): DataFrame = {
    val paras = docs.select(col(idCol).cast("long").as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
    // globally-first occurrence via a MIN WINDOW over the paragraph key
    // (round 6): the aggregate+join-back spelling needed the paragraph
    // table twice (once under the firsts agg, once as the join side) —
    // the window keeps ONE pass keyed by paragraph, and downstream stays
    // identical. Same min(struct(id, pos)) semantics.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("para")
    val kept = paras
      .withColumn("f", min(struct(col("id"), col("pos"))).over(w))
      .where(col("id") === col("f.id") && col("pos") === col("f.pos"))
      .drop("f")
    val rebuilt = kept.groupBy("id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("para")))),
            p => p.getField("para")), sep).as("clean_text"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
