package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sharding + GPT-style concatenate-then-chunk sequence packing. */
class PackingSpec extends SparkSpec {

  test("packChunks: hand-traced chunk assignment within one shard") {
    import spark.implicits._
    // single shard (nShards = 1) so shard order = key order; trace the
    // concatenation: budget 10, token counts in KEY order
    val docs = Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 12L), (5L, 2L))
      .toDF("doc_id", "n_tokens")
    val packed = Packing.packChunks(docs, "doc_id", "n_tokens",
        budget = 10L, nShards = 1, seed = 7L)
      .orderBy("key")
      .select("doc_id", "seq_id", "seq_off", "straddles")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // replay the same order with a scalar fold
    val order = Packing.packChunks(docs, "doc_id", "n_tokens", 10L, 1, 7L)
      .orderBy("key").select("n_tokens").collect().map(_.getLong(0))
    var cum = 0L
    val expect = order.map { t =>
      val start = cum; cum += t
      (start / 10, start % 10, (cum - 1) / 10 > start / 10)
    }
    packed.toSeq shouldBe expect.toSeq
    // the 12-token doc must straddle wherever it lands
    val big = Packing.packChunks(docs, "doc_id", "n_tokens", 10L, 1, 7L)
      .where(col("doc_id") === 4L).head()
    big.getAs[Boolean]("straddles") shouldBe true
  }

  test("packing is a permutation: deterministic, seed-sensitive, complete") {
    import spark.implicits._
    val docs = (0L until 500L).map(id => (id, 3L + id % 7)).toDF("doc_id", "n_tokens")
    val a = Packing.packChunks(docs, "doc_id", "n_tokens", 64L, 8, 42L)
    val b = Packing.packChunks(docs, "doc_id", "n_tokens", 64L, 8, 42L)
    val c = Packing.packChunks(docs, "doc_id", "n_tokens", 64L, 8, 43L)
    // same seed → identical; different seed → different order
    a.orderBy("doc_id").collect().toSeq shouldBe b.orderBy("doc_id").collect().toSeq
    assert(a.orderBy("doc_id").select("key").collect().toSeq !=
      c.orderBy("doc_id").select("key").collect().toSeq)
    // every doc appears exactly once; every shard's offsets are consistent
    a.count() shouldBe 500
    a.select("doc_id").distinct().count() shouldBe 500
    // within each (shard, seq), doc start offsets are unique and < budget
    val offs = a.groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n"), countDistinct("seq_off").as("d"),
        max("seq_off").as("mx"))
    offs.where(col("n") =!= col("d")).count() shouldBe 0
    offs.where(col("mx") >= 64).count() shouldBe 0
  }
}
