package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  /** corpus with planted near-duplicates: doc 2i+1 is doc 2i with one token
    * changed; unrelated docs share almost nothing. */
  lazy val docs = {
    val spark2 = spark
    import spark2.implicits._
    // disjoint vocab per doc-pair: unrelated docs share zero tokens
    val vocabPool = (0 until 3200).map(i => s"w$i")
    (0 until 40).flatMap { i =>
      val base = (0 until 80).map(j => vocabPool(i * 80 + j))
      Seq((2L * i, base.mkString(" ")),
        (2L * i + 1, (base.dropRight(1) :+ "CHANGED").mkString(" ")))
    }.toDF("doc_id", "text")
  }

  test("vocab assigns dense lexicographic ids deterministically") {
    val v = Dedup.vocab(docs, "text").collect().map(r => (r.getString(0), r.getLong(1)))
    val sorted = v.sortBy(_._2)
    assert(sorted.map(_._1).toSeq == sorted.map(_._1).sorted.toSeq)
    assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
  }

  test("minhash matches brute-force formula") {
    val voc = Dedup.vocab(docs, "text")
    val tv = Dedup.docTokenVids(docs, "doc_id", "text", voc)
    val got = Dedup.minhash(tv, 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val vocMap = voc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docMap = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, text) <- docMap; j <- 0 until 4) {
      val vids = text.split(" ").distinct.map(vocMap)
      val expect = vids.map(v => ((v + 1) * (2654435761L + 2L * j) + j * 7919L) % Dedup.MersennePrime).min
      assert(got(id)(j) == expect, s"doc $id hash $j")
    }
  }

  test("lshComponentEdges groups planted near-dup pairs and no unrelated ones") {
    val voc = Dedup.vocab(docs, "text")
    val tv = Dedup.docTokenVids(docs, "doc_id", "text", voc)
    val comp = Dedup.connectedComponents(Dedup.lshComponentEdges(Dedup.minhash(tv, 8)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def together(a: Long, b: Long) = comp.contains(a) && comp.get(a) == comp.get(b)
    // near-dups share 79/81 distinct tokens → most bands collide
    val found = (0 until 40).count(i => together(2L * i, 2L * i + 1))
    assert(found >= 35, s"recall too low: $found/40")
    // docs of different planted pairs share at most the token "CHANGED";
    // allow rare accidental collisions
    def members(i: Int) = Seq(2L * i, 2L * i + 1)
    val merged = for (i <- 0 until 40; k <- i + 1 until 40
                      if members(i).exists(a => members(k).exists(together(a, _)))) yield (i, k)
    assert(merged.size <= 3, s"unrelated pairs grouped: $merged")
  }

  test("bandKeys packs sig(2b), sig(2b+1); signatures shorter than 2 give no band rows") {
    val spark2 = spark
    import spark2.implicits._
    val sigs = rddBacked(Seq(1L -> Seq(7L, 9L), 2L -> Seq(7L, 9L, 11L, 13L),
      3L -> Seq(7L, 9L, 11L), 4L -> Seq(7L), 5L -> Seq.empty[Long]).toDF("id", "sig"))
    val keys = Dedup.bandKeys(sigs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val m = Dedup.MersennePrime
    keys shouldBe Set((1L, 0, 7 * m + 9), (2L, 0, 7 * m + 9), (2L, 1, 11 * m + 13),
      (3L, 0, 7 * m + 9))
    // ids 1, 2 and 3 share band 0; 3's odd tail and 4, 5 are unbanded
    val edges = Dedup.lshComponentEdges(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    edges shouldBe Set((1L, 2L), (1L, 3L))
  }

  test("ngramJaccard matches brute force") {
    val got = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 1000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val docMap = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    for (a <- docMap.keys; b <- docMap.keys if a < b) {
      val (ga, gb) = (grams(docMap(a)), grams(docMap(b)))
      val inter = ga.intersect(gb).size
      if (inter == 0) assert(!got.contains((a, b)))
      else {
        val (gi, gj) = got((a, b))
        assert(gi == inter.toLong)
        assert(gj == inter.toDouble / (ga.size + gb.size - inter))
      }
    }
  }

  test("ngramJaccard dfCap drops hot grams: pairs sharing only boilerplate vanish") {
    val spark2 = spark
    import spark2.implicits._
    // every doc starts with the same boilerplate trigram ("hot a b"); docs
    // 0/1 additionally share a rare trigram ("x y z")
    val hot = Seq(
      (0L, "hot a b x y z p0"), (1L, "hot a b x y z p1"),
      (2L, "hot a b c2 d2 e2"), (3L, "hot a b c3 d3 e3"),
      (4L, "hot a b c4 d4 e4")).toDF("doc_id", "text")
    val got = Dedup.ngramJaccard(hot, "doc_id", "text", 3, dfCap = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // "hot a b" (and "a b x"/"a b c*" where df ≤ 2 stays) — the df-5 gram is
    // dropped, so docs 2/3/4 share nothing kept; 0/1 still pair via rare grams
    assert(got.keySet.forall { case (a, b) => Set(a, b) == Set(0L, 1L) },
      s"pairs sharing only hot grams must vanish: ${got.keySet}")
    assert(got.contains((0L, 1L)))
    // exact Jaccard over the KEPT gram sets
    def grams(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toVector
    val all = hot.collect().map(r => r.getLong(0) -> grams(r.getString(1))).toMap
    val df = all.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size)
    val kept = all.view.mapValues(_.distinct.filter(g => df(g) <= 2).toSet).toMap
    val inter = kept(0L).intersect(kept(1L)).size
    assert(got((0L, 1L)) ==
      (inter.toLong, inter.toDouble / (kept(0L).size + kept(1L).size - inter)))
  }

  test("simhash: near-dups are hamming-close, unrelated docs are far") {
    val voc = Dedup.vocab(docs, "text")
    val tv = Dedup.docTokenVids(docs, "doc_id", "text", voc)
    val sh = Dedup.simhash(tv).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val nearAvg = (0 until 40).map(i => ham(sh(2L * i), sh(2L * i + 1))).sum / 40.0
    val farAvg = (0 until 39).map(i => ham(sh(2L * i), sh(2L * i + 2))).sum / 39.0
    // one changed token in 81 flips only boundary bits; unrelated ≈ random
    assert(farAvg > 20, s"unrelated docs should be ~random: $farAvg")
    assert(nearAvg < farAvg / 2, s"no separation: near=$nearAvg far=$farAvg")
  }

  test("connectedComponents matches union-find on chains, cliques, and crosses") {
    val spark2 = spark
    import spark2.implicits._
    // chain 1-2-3-4-5 (transitive, no direct 1-5 edge), clique {10,11,12},
    // cross {20,21}+{21,22}, isolated pair {30,31}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (21L, 22L), (30L, 31L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // distributed flooding arm must agree with the small-graph arm
    val gotLoop = Dedup.connectedComponents(pairs, smallGraphMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLoop == got)
    // brute-force union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.collect().foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
    val expect = nodes.map { n =>
      val root = find(n)
      n -> nodes.filter(m => find(m) == root).min
    }.toMap
    assert(got == expect)
    // keeper predicate: exactly one per component
    assert(got.count { case (id, c) => id == c } == expect.values.toSet.size)
    // empty pair set → empty labeling, no NPE from the null sum
    assert(Dedup.connectedComponents(pairs.where(lit(false))).count() == 0)
  }

  test("connectedComponents: 300-link chain converges within the round cap (shortcutting)") {
    val spark2 = spark
    import spark2.implicits._
    // a path graph is the worst case for plain min-flooding (O(diameter));
    // pointer doubling must settle it in O(log n) rounds — well under the
    // default cap of 25
    val chain = (0 until 300).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    // force the distributed arm — the shortcutting claim is about IT
    val got = Dedup.connectedComponents(chain, smallGraphMaxEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 301 && got.values.forall(_ == 0L))
  }

  test("exact dedup keeps min id per key with counts") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((5L, "a"), (3L, "a"), (7L, "b")).toDF("doc_id", "key")
    val got = Dedup.exact(df, "doc_id", "key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 3L, 2L), ("b", 7L, 1L)))
  }
}
