package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("real PNG modality: decode and channel means via the JDK codec") {
    val png = Multimodal.syntheticMediaPng(spark, 60, parts = 4)
    val d = Multimodal.decodeMeta(png)
    assert(d.count() == 60)
    // image dims come from the actual PNG header, not a fake layout
    val r = d.where(col("media_id") === 1).select("meta.width", "meta.height").head
    assert(r.getInt(0) == 16 + 1 * 4 && r.getInt(1) == 12 + 1 * 4)
    // channel means: synthetic pixel v has r=v, g=3v%256, b=5v%256 → means
    // bounded in [0,255] and non-null for every image
    val stats = Multimodal.extractFrames(png, everyK = 1).where(col("kind") === "image")
      .select("rgb_mean").collect()
    assert(stats.length == png.where(col("kind") === "image").count() && stats.forall { row =>
      val m = row.getSeq[Double](0)
      m.length == 3 && m.forall(v => v >= 0 && v <= 255)
    })
    // the GIF videos decode through the real codec too
    assert(d.where(col("kind") === "video" && col("meta.frames") >= 2).count() ==
      d.where(col("kind") === "video").count())
  }

  test("real WAV modality: round trip and chunk walk") {
    import Multimodal.Wav
    // stereo square wave at ±8192 (L) and a ramp (R), 8 kHz, 800 frames
    val frames = 800
    val samples = new Array[Short](frames * 2)
    for (f <- 0 until frames) {
      samples(f * 2) = (if ((f / 4) % 2 == 0) 8192 else -8192).toShort
      samples(f * 2 + 1) = ((f % 64) * 512 - 16384).toShort
    }
    val wav = Wav.encode(8000, 2, samples)
    val (rate, ch, back) = Wav.decode(wav)
    assert(rate == 8000 && ch == 2 && back.toSeq == samples.toSeq)

    // an extra LIST chunk before data must be skipped by the chunk walk
    val extra = java.nio.ByteBuffer.allocate(wav.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    extra.put(wav, 0, 36) // RIFF..fmt chunk
    extra.put("LIST".getBytes("US-ASCII")).putInt(4).put("INFO".getBytes("US-ASCII"))
    extra.put(wav, 36, wav.length - 36)
    extra.putInt(4, 36 + 12 + (wav.length - 44)) // fix RIFF size
    val (r2, c2, b2) = Wav.decode(extra.array())
    assert(r2 == 8000 && c2 == 2 && b2.toSeq == samples.toSeq)
  }

  test("payloads no codec reads give null meta and stats, not a task failure") {
    val spark2 = spark
    import spark2.implicits._
    val png = Multimodal.JdkImage.syntheticPng(3, 8, 6)
    val notImage = "not an image".getBytes("US-ASCII")
    val media = rddBacked(Seq(
      (1L, "video", Array[Byte](1, 2, 3, 4, 5)),
      (2L, "image", notImage),
      (3L, "image", png)).toDF("media_id", "kind", "payload"))

    val meta = Multimodal.decodeMeta(media).select("media_id", "meta").collect().map { r =>
      r.getLong(0) -> Option(r.getStruct(1)).map(m => (m.getInt(0), m.getInt(1), m.getInt(2)))
    }.toMap
    assert(meta == Map(1L -> None, 2L -> None, 3L -> Some((8, 6, 1))))

    val frames = Multimodal.extractFrames(media, everyK = 1).select("media_id").collect()
    assert(frames.map(_.getLong(0)).toSeq == Seq(3L))
  }
}
