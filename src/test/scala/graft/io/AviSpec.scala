package graft.io

import graft.SparkSpec
import graft.ops.Multimodal
import org.apache.spark.sql.functions._

/** MJPEG AVI container codec (AVI RIFF spec) + its multimodal wiring. */
class AviSpec extends SparkSpec {

  private def solidJpeg(rgb: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h); g.dispose()
    Multimodal.JdkImage.encodeJpeg(img)
  }

  test("container round trip preserves frame payload bytes exactly") {
    val frames = Seq(
      solidJpeg(0xCC3366, 48, 32),
      solidJpeg(0x3366CC, 48, 32),
      solidJpeg(0x66CC33, 48, 32))
    val avi = Avi.write(frames, 48, 32, fps = 10)
    assert(Avi.isAvi(avi))
    val v = Avi.parse(avi)
    v.width shouldBe 48
    v.height shouldBe 32
    v.usPerFrame shouldBe 100000
    v.frames.length shouldBe 3
    // the container is lossless: frame bytes survive verbatim
    v.frames.zip(frames).foreach { case (got, want) =>
      assert(java.util.Arrays.equals(got, want))
    }
    // timestamps from the container's frame timing
    (0 until 3).map(v.timestampCs) shouldBe Seq(0, 10, 20)
  }

  test("odd-length frame chunks are word-aligned (pad byte) and still parse") {
    val odd = solidJpeg(0x112233, 20, 20)
    val payload = if (odd.length % 2 == 0) odd :+ 0xD9.toByte else odd
    assert(payload.length % 2 == 1) // force an odd chunk
    val avi = Avi.write(Seq(payload, payload), 20, 20, fps = 5)
    val v = Avi.parse(avi)
    v.frames.length shouldBe 2
    v.frames.foreach(f => assert(java.util.Arrays.equals(f, payload)))
  }

  test("malformed chunk sizes stop the walk instead of looping or overreading") {
    val good = Avi.write(Seq(solidJpeg(0x123456, 20, 20)), 20, 20, fps = 10)
    // corrupt the movi LIST's first frame-chunk size to a huge value
    val idx = {
      var i = 12
      while (!(good(i) == '0' && good(i + 1) == '0' && good(i + 2) == 'd')) i += 1
      i
    }
    val bad = good.clone()
    bad(idx + 4) = 0xFF.toByte; bad(idx + 5) = 0xFF.toByte
    bad(idx + 6) = 0xFF.toByte; bad(idx + 7) = 0x7F.toByte
    val v = Avi.parse(bad) // header still parses; frame walk stops safely
    v.width shouldBe 20
    v.frames shouldBe empty
    // negative size likewise
    bad(idx + 7) = 0xFF.toByte
    Avi.parse(bad).frames shouldBe empty
  }

  test("decoded solid-color frames mean back to their color (JPEG tolerance)") {
    val rgb = 0x885522
    val avi = Avi.write(Seq(solidJpeg(rgb, 64, 48)), 64, 48, fps = 10)
    val means = Multimodal.JdkImage.channelMeans(Avi.parse(avi).frames(0))
    means(0) shouldBe 0x88.toDouble +- 3.0
    means(1) shouldBe 0x55.toDouble +- 3.0
    means(2) shouldBe 0x22.toDouble +- 3.0
  }

  test("decodeMetaReal and extractFrames route AVI video for real") {
    val spark2 = spark
    import spark2.implicits._
    val media = Seq((7L, "video", Multimodal.syntheticAvi(7L, 48, 48)))
      .toDF("media_id", "kind", "payload")
    val meta = Multimodal.decodeMeta(media)
      .select("meta.width", "meta.height", "meta.frames").head()
    meta.getInt(0) shouldBe 48
    meta.getInt(1) shouldBe 48
    meta.getInt(2) shouldBe (2 + 7 % 4) // 5 frames
    val rows = Multimodal.extractFrames(media, everyK = 2)
      .orderBy("frame_idx")
      .select("frame_idx", "t_cs", "rgb_mean")
      .collect()
    // id=7: fps = 5·2^(7%3) = 10 → 10 cs per frame; frames 0,2,4 sampled
    rows.map(_.getInt(0)).toSeq shouldBe Seq(0, 2, 4)
    rows.map(_.getInt(1)).toSeq shouldBe Seq(0, 20, 40)
    // mean of frame 0 tracks its planted solid color (id·37 % 256 = 3)
    val v0 = (7L * 37 % 256).toInt
    rows(0).getSeq[Double](2).head shouldBe v0.toDouble +- 3.0
  }
}
