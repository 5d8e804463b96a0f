package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-order sharding and sequence packing — the last mile of the
  * crawl-to-corpus pipeline (builder brief): after filtering/dedup, a
  * training run wants the corpus (a) deterministically SHUFFLED (no
  * residual crawl order — adjacent pages are near-identical), (b) split
  * into SHARDS that trainers stream independently, and (c) PACKED into
  * fixed-token-budget sequences GPT-style: documents are concatenated in
  * shard order and chunked every `budget` tokens, so a document starts at
  * a known (sequence, offset) and may straddle a chunk boundary.
  *
  * Scale shape: the shuffle key is a stateless arithmetic permutation (no
  * RNG state, reproducible on any cluster), shard assignment is a pure
  * projection, and the pack is ONE window cumsum PARTITIONED BY SHARD —
  * the shard is the parallelism unit, so at 10^12 documents you raise
  * `nShards` (each shard's window sorts only |corpus|/nShards rows) and
  * nothing is ever globally sorted or collected.
  *
  * Determinism/oracle: all arithmetic is exact in the 2^56 ring (ANSI-mode
  * safe: products stay under 2^63 for ids < 2^31 — at web scale feed a
  * pre-hashed 31-bit id or swap in xxhash64; the RING form is what the
  * DuckDB oracle replays bit-for-bit). */
object Packing {

  val Ring: Long = 1L << 56

  /** Stateless pseudo-random permutation key for training order: two
    * multiply-add passes in the 2^56 ring (the [[TextAnalysis.fingerprint]]
    * arithmetic family — exact in any engine). */
  def shuffleKey(id: Column, seed: Long): Column = {
    val c = (seed * 7919L + 12345L) % Ring
    val k1 = pmod(id * 2654435761L + lit(c), lit(Ring))
    pmod(k1 * 31L + 7L, lit(Ring))
  }

  /** Shard + pack in one pass. Input needs `idCol` (long) and `tokenCol`
    * (long token count per doc). Output adds:
    *  - `key`     — the shuffle-order key,
    *  - `shard`   — key mod nShards (trainer stream unit),
    *  - `seq_id`  — which fixed-budget sequence (within the shard) this
    *                document STARTS in under concatenate-then-chunk,
    *  - `seq_off` — token offset of the document inside that sequence,
    *  - `straddles` — whether the document crosses into the next
    *                sequence (its tokens span a chunk boundary). */
  def packChunks(docs: DataFrame, idCol: String, tokenCol: String,
                 budget: Long, nShards: Int, seed: Long): DataFrame = {
    require(budget > 0 && nShards > 0, "budget and nShards must be positive")
    val keyed = docs
      .withColumn("key", shuffleKey(col(idCol).cast("long"), seed))
      .withColumn("shard", pmod(col("key"), lit(nShards.toLong)))
    val w = Window.partitionBy("shard").orderBy(col("key"), col(idCol))
    keyed
      .withColumn("_cum", sum(col(tokenCol).cast("long")).over(w))
      .withColumn("_start", col("_cum") - col(tokenCol))
      .withColumn("seq_id", expr(s"_start div $budget"))
      .withColumn("seq_off", col("_start") - col("seq_id") * budget)
      .withColumn("straddles",
        expr(s"(_cum - 1) div $budget") > col("seq_id"))
      .drop("_cum", "_start")
  }
}
