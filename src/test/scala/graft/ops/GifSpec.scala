package graft.ops

import graft.SparkSpec

import scala.util.Random

/** Hand-rolled GIF codec (GIF89a spec): known-answer LZW bitstream pinned
  * independently of the encoder, random round-trips across palette sizes
  * and table-overflow inputs, interlace, sub-rect + disposal composition,
  * and the Spark frame-extract pipeline over synthetic animated GIFs. */
class GifSpec extends SparkSpec {

  test("known-answer LZW bitstream (hand-assembled, decoder-independent)") {
    // minCode=2: clear=4 eoi=5, width 3. Pixels [1,1,1] encode to codes
    // 4,1,6,5 → LSB-first packing gives exactly 0x8C 0x0B.
    Gif.lzwDecode(Array(0x8C.toByte, 0x0B.toByte), 2, 3) shouldBe
      Array[Byte](1, 1, 1)
    Gif.lzwEncode(Array[Byte](1, 1, 1), 2) shouldBe
      Array(0x8C.toByte, 0x0B.toByte)
  }

  test("LZW round-trips random index streams incl. table overflow") {
    val rnd = new Random(1)
    for (minCode <- Seq(2, 4, 8); n <- Seq(1, 7, 300, 20000)) {
      // low-entropy stream → long matches → exercises width bumps; the
      // 20000-length run at minCode 2 overflows the table → clear code
      val px = Array.tabulate(n)(i =>
        ((rnd.nextInt(1 << minCode)) & (if (i % 7 == 0) 3 else 1)).toByte)
      val enc = Gif.lzwEncode(px, minCode)
      Gif.lzwDecode(enc, minCode, n) shouldBe px
    }
  }

  test("full-file round trip: palette, frames, delays") {
    val rnd = new Random(7)
    val (w, h) = (13, 9)
    val palette = Array.tabulate(8)(i => i * 0x212121)
    val frames = (0 until 4).map { f =>
      (Array.tabulate(w * h)(i => ((i + f) % 8).toByte), 3 + f)
    }
    val img = Gif.decode(Gif.encode(w, h, palette, frames))
    img.width shouldBe w
    img.height shouldBe h
    img.frames.length shouldBe 4
    img.frames.zip(frames).foreach { case (got, (px, d)) =>
      got.delayCs shouldBe d
      got.indices shouldBe px
      got.palette shouldBe palette
    }
  }

  test("interlaced frames deinterlace back to the source rows") {
    val (w, h) = (6, 17) // odd height crosses all 4 interlace passes
    val palette = Array.tabulate(4)(i => i * 0x404040)
    val px = Array.tabulate(w * h)(i => ((i / w) % 4).toByte) // row stripes
    val img = Gif.decode(Gif.encode(w, h, palette, Seq((px, 1)), interlace = true))
    img.frames.head.indices shouldBe px
  }

  test("render composes disposal keep vs restore-background") {
    // hand-build a 2-frame GIF with a sub-rect second frame: frame 1 fills
    // the canvas with color 1; frame 2 paints a 2x2 block of color 2 at
    // (1,1) with disposal 2 — rendering must show the block only in frame 2
    val palette = Array(0x000000, 0x111111, 0x222222, 0x333333)
    val full = Gif.encode(4, 4, palette, Seq((Array.fill(16)(1.toByte), 1)))
    // splice: reuse encoder for frame 1, append a hand-built frame 2
    val out = new java.io.ByteArrayOutputStream()
    out.write(full, 0, full.length - 1) // drop trailer
    out.write(0x21); out.write(0xF9); out.write(4)
    out.write(0x08) // disposal 2
    out.write(2); out.write(0); out.write(0); out.write(0)
    out.write(0x2C)
    out.write(1); out.write(0); out.write(1); out.write(0) // left=1, top=1
    out.write(2); out.write(0); out.write(2); out.write(0) // w=2, h=2
    out.write(0) // no LCT, not interlaced
    out.write(2) // min code size
    val lzw = Gif.lzwEncode(Array.fill(4)(2.toByte), 2)
    out.write(lzw.length); out.write(lzw); out.write(0)
    out.write(0x3B)
    val img = Gif.decode(out.toByteArray)
    img.frames.length shouldBe 2
    img.frames(1).left shouldBe 1
    img.frames(1).disposal shouldBe 2
    val rgb = Gif.renderRgbFrames(img)
    rgb(0).forall(_ == 0x111111) shouldBe true
    rgb(1)(4 * 1 + 1) shouldBe 0x222222 // (1,1) painted
    rgb(1)(0) shouldBe 0x111111 // outside the rect: frame 1 shows through
  }

  test("synthetic GIFs decode with the declared frame count and delays") {
    (0L until 12L).foreach { id =>
      val g = Gif.decode(Multimodal.syntheticGif(id, 20, 12))
      g.frames.length shouldBe 2 + (id % 4).toInt
      g.frames.foreach(_.delayCs shouldBe 2 + (id % 10).toInt)
    }
  }

  test("Spark pipeline: decodeMetaReal + extractFrames over GIF video rows") {
    val media = Multimodal.syntheticMediaPng(spark, 30, parts = 4)
    val meta = Multimodal.decodeMeta(media)
    val vid = meta.filter("kind = 'video'").collect()
    vid.length shouldBe 10
    vid.foreach { r =>
      val id = r.getLong(0)
      r.getStruct(r.fieldIndex("meta")).getInt(2) shouldBe 2 + (id % 4).toInt
    }
    val frames = Multimodal.extractFrames(media, everyK = 2).collect()
    // every video contributes ceil(frames/2) rows, every image exactly 1
    val perVideo = frames.filter(_.getString(1) == "video").groupBy(_.getLong(0))
    perVideo.foreach { case (id, rows) =>
      val n = 2 + (id % 4).toInt
      rows.length shouldBe (n + 1) / 2
      // frame timestamps advance by delay * everyK
      val d = 2 + (id % 10).toInt
      rows.sortBy(_.getInt(2)).map(_.getInt(3)).toSeq shouldBe
        (0 until n by 2).map(_ * d)
      // sampled frames re-encode as decodable PNGs
      rows.foreach { fr =>
        val png = Multimodal.JdkImage.decode(fr.getAs[Array[Byte]](5))
        png.getWidth shouldBe 16 + (id % 8).toInt * 4
      }
    }
    frames.count(_.getString(1) == "image") shouldBe 20
  }
}
