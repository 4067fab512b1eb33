package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Frame slicing / stub decode edge cases for the multimodal plumbing. */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  import spark.implicits._

  private def media(rows: (Long, String)*) =
    rows.toDF("doc_id", "txt").select(col("doc_id"),
      lit("image/test").as("media_type"),
      encode(col("txt"), "UTF-8").as("payload"))

  test("frame slicing: exact multiple, remainder, sub-frame, empty") {
    val m = media(
      (1L, "a" * 8),   // exactly 2 frames of 4
      (2L, "b" * 10),  // 2 full + remainder 2
      (3L, "c"),       // single sub-frame
      (4L, ""))        // empty payload -> no frames
    val f = Multimodal.frames(m, 4).orderBy("doc_id", "frame_idx").collect()
    val byDoc = f.groupBy(_.getLong(0)).view.mapValues(_.map(r =>
      (r.getLong(1), r.getLong(2))).toSeq).toMap
    assert(byDoc(1L) == Seq((0L, 4L), (1L, 4L)))
    assert(byDoc(2L) == Seq((0L, 4L), (1L, 4L), (2L, 2L)))
    assert(byDoc(3L) == Seq((0L, 1L)))
    assert(!byDoc.contains(4L))
  }

  test("frame sample picks first/mid/last, deduplicated for short payloads") {
    val m = media((1L, "x" * 20)) // 5 frames of 4 -> idx 0, 2, 4
    val s = Multimodal.frameSample(Multimodal.frames(m, 4))
      .orderBy("frame_idx").collect().map(_.getLong(1)).toSeq
    assert(s == Seq(0L, 2L, 4L))
    val one = media((2L, "y")) // 1 frame -> single row, not triplicated
    val s1 = Multimodal.frameSample(Multimodal.frames(one, 4)).collect()
    assert(s1.length == 1 && s1(0).getLong(1) == 0L)
  }

  test("stub decode is deterministic and checksums match spark md5") {
    val m = media((7L, "hello world"))
    val d = Multimodal.decodeStub(m.as[Multimodal.MediaRow]).collect().head
    assert(d.n_bytes == 11L)
    assert(d.width == 64 + ((11 * 131 + 7) % 193))
    val sparkMd5 = m.select(md5(col("payload"))).collect().head.getString(0)
    assert(d.checksum == sparkMd5)
  }

  test("decode parses real BMP and PPM headers; text falls back to pseudo") {
    import spark.implicits._
    // minimal BMP: magic, size, reserved=0, data offset, DIB=40, w=320, h=-240
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val bmp = "BM".getBytes("US-ASCII") ++ le32(60) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(320) ++ le32(-240) ++ Array.fill[Byte](30)(0)
    val ppm = ("P6\n# a comment\n17 9\n255\n" + "x" * (17 * 9 * 3)).getBytes("US-ASCII")
    val txt = "BMW is a carmaker, P6 is an engine layout".getBytes("UTF-8")
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", bmp),
      Multimodal.MediaRow(2L, "image", ppm),
      Multimodal.MediaRow(3L, "text", txt)).toDS()
    val out = Multimodal.decode(rows).collect().map(d => d.doc_id -> d).toMap
    assert((out(1L).width, out(1L).height) == (320, 240)) // top-down height folded
    assert((out(2L).width, out(2L).height) == (17, 9))
    val n = txt.length.toLong
    assert(out(3L).width == 64 + ((n * 131 + 3) % 193).toInt, "text must pseudo-decode")
  }

  test("PPM parser: comment abutting a token flushes it; prose never parses") {
    import spark.implicits._
    // '#' right after the width digits — netpbm reads (17, 9), not 179
    val ppm = ("P6 17# a comment\n9\n255\n" + "x" * (17 * 9 * 3)).getBytes("US-ASCII")
    // prose with three plausible ints but no raster payload behind them
    val prose = "P5 10 20 30 short text".getBytes("UTF-8")
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", ppm),
      Multimodal.MediaRow(2L, "text", prose)).toDS()
    val out = Multimodal.decode(rows).collect().map(d => d.doc_id -> d).toMap
    assert((out(1L).width, out(1L).height) == (17, 9))
    val n = prose.length.toLong
    assert(out(2L).width == 64 + ((n * 131 + 2) % 193).toInt,
      "prose must take the pseudo-decode fallback")
  }

  test("decode reads real JPEG/PNG/GIF dims via the JDK's ImageIO") {
    import spark.implicits._
    def encodeImg(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(java.awt.Color.ORANGE); g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val jpg = encodeImg("jpg", 123, 45)
    val png = encodeImg("png", 31, 77)
    val gif = encodeImg("gif", 12, 8)
    val truncated = jpg.take(8) // valid magic, unreadable header
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", jpg),
      Multimodal.MediaRow(2L, "image", png),
      Multimodal.MediaRow(3L, "image", gif),
      Multimodal.MediaRow(4L, "image", truncated)).toDS()
    val out = Multimodal.decode(rows).collect().map(d => d.doc_id -> d).toMap
    assert((out(1L).width, out(1L).height) == (123, 45))
    assert((out(2L).width, out(2L).height) == (31, 77))
    assert((out(3L).width, out(3L).height) == (12, 8))
    assert(out(4L).width == 64 + ((8 * 131 + 4) % 193).toInt,
      "truncated payload must take the pseudo-decode fallback")
  }

  test("resize decodes real pixels: identity PNG checksum, exact PGM bilinear") {
    import spark.implicits._
    // 3x2 PNG with distinct per-pixel colors; small enough that maxSide
    // leaves it untouched, so pixel_md5 must equal the md5 of the ORIGINAL
    // row-major RGB triplets — asserting the raster really was decoded
    val colors = Array(0x102030, 0x405060, 0x708090, 0xa0b0c0, 0xd0e0f0, 0x112233)
    val img = new java.awt.image.BufferedImage(
      3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) img.setRGB(x, y, colors(y * 3 + x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray
    val rgb = colors.flatMap(c => Array(
      ((c >> 16) & 0xff).toByte, ((c >> 8) & 0xff).toByte, (c & 0xff).toByte))
    val wantPng = java.security.MessageDigest.getInstance("MD5")
      .digest(rgb).map("%02x".format(_)).mkString

    // 2x2 PGM downscaled to 1x1: the half-pixel-centered bilinear of four
    // pixels is their exact average → gray 85, checksum of [85,85,85]
    val pgm = "P5\n2 2\n255\n".getBytes("US-ASCII") ++
      Array[Byte](0, 100.toByte, 200.toByte, 40)
    val wantPgm = java.security.MessageDigest.getInstance("MD5")
      .digest(Array[Byte](85, 85, 85)).map("%02x".format(_)).mkString

    val rows = Seq(
      Multimodal.MediaRow(1L, "image", png),
      Multimodal.MediaRow(2L, "image", pgm)).toDS()
    val out1 = Multimodal.resize(rows, maxSide = 128).collect()
      .map(d => d.doc_id -> d).toMap
    assert(out1(1L).decoded && (out1(1L).out_width, out1(1L).out_height) == (3, 2))
    assert(out1(1L).pixel_md5.contains(wantPng))
    val out2 = Multimodal.resize(rows.filter(_.doc_id == 2L), maxSide = 1)
      .collect().head
    assert(out2.decoded && (out2.out_width, out2.out_height) == (1, 1))
    assert(out2.pixel_md5.contains(wantPgm))
  }

  test("resize scales real rasters to the box; text keeps the fallback path") {
    import spark.implicits._
    // 200x100 PPM: maxSide 128 → scale 0.64 → 128x64
    val ppm = ("P6\n200 100\n255\n").getBytes("US-ASCII") ++
      Array.tabulate[Byte](200 * 100 * 3)(i => (i % 251).toByte)
    val txt = "just some prose that is not an image".getBytes("UTF-8")
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", ppm),
      Multimodal.MediaRow(2L, "text", txt)).toDS()
    val out = Multimodal.resize(rows, maxSide = 128).collect()
      .map(d => d.doc_id -> d).toMap
    assert(out(1L).decoded)
    assert((out(1L).width, out(1L).height) == (200, 100))
    assert((out(1L).out_width, out(1L).out_height) == (128, 64))
    assert(out(1L).pixel_md5.exists(_.length == 32))
    // deterministic: same bytes → same resampled checksum on a second run
    val again = Multimodal.resize(rows.filter(_.doc_id == 1L), maxSide = 128)
      .collect().head
    assert(again.pixel_md5 == out(1L).pixel_md5)
    // text: pseudo dims, metadata-only resize, no pixel checksum
    val n = txt.length.toLong
    assert(!out(2L).decoded && out(2L).pixel_md5.isEmpty)
    assert(out(2L).width == 64 + ((n * 131 + 2) % 193).toInt)
  }

  test("resize plan preserves aspect and caps the long side") {
    val m = media((1L, "z" * 500))
    val r = Multimodal.resizePlan(
      Multimodal.decodeStub(m.as[Multimodal.MediaRow]), maxSide = 100)
      .collect().head
    val (w, h) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
    val (ow, oh) = (r.getAs[Int]("out_width"), r.getAs[Int]("out_height"))
    assert(math.max(ow, oh) <= 100)
    if (math.max(w, h) <= 100) assert((ow, oh) == (w, h))
    else assert(math.abs(ow.toDouble / oh - w.toDouble / h) < 0.05)
  }
}
