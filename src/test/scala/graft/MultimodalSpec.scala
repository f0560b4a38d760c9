package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("binary plumbing: encode -> features, deterministic and distributed") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val media = Multimodal.asMedia(docs, "doc_id", "encode(text, 'utf-8')")
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    val byId = rows.map(f => f.media_id -> f).toMap
    val local = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    for ((id, text) <- local.take(50)) {
      val f = byId(id)
      val bytes = text.getBytes("UTF-8")
      assert(f.n_bytes == bytes.length)
      assert(f.width == 64 + (bytes.length % 512))
      assert(f.channels == 3)
      if (bytes.nonEmpty)
        assert(math.abs(f.mean_byte - bytes.map(_ & 0xff).sum.toDouble / bytes.length) < 1e-9)
      assert(f.byte_entropy >= 0.0 && f.byte_entropy <= 8.0)
    }
    // determinism: run twice, identical
    val again = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(again == byId)
  }

  test("resize: output buffer sized outW*outH*c, nearest-neighbour mapping, deterministic") {
    val media = Multimodal.asMedia(
      Seq((1L, "abcdefgh" * 40)).toDF("doc_id", "text"), "doc_id", "encode(text, 'utf-8')")
    val rows = Multimodal.resize(media, 8, 6)
      .as[(Long, Int, Int, Int, Array[Byte])].collect()
    assert(rows.length == 1)
    val (_, w, h, c, px) = rows(0)
    assert((w, h) == ((8, 6)) && c == 3 && px.length == 8 * 6 * 3)
    // deterministic across runs
    val again = Multimodal.resize(media, 8, 6)
      .as[(Long, Int, Int, Int, Array[Byte])].collect()(0)._5
    assert(px.sameElements(again))
    // replicate the nearest-neighbour index math for one pixel driver-side
    val bytes = ("abcdefgh" * 40).getBytes("UTF-8")
    val (sw, sh, sc) = (64 + (bytes.length % 512),
      64 + ((bytes(0) & 0xff) * 256 + (bytes(1) & 0xff)) % 512, 3)
    val (x, y, ch) = (3, 2, 1)
    val si = ((y * sh / 6) * sw + (x * sw / 8)) * sc + ch
    assert(px((y * 8 + x) * 3 + ch) == bytes(si % bytes.length))
  }

  test("image formats decode through JDK ImageIO: real dimensions and pixels") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(7, 5, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 5; x <- 0 until 7)
      img.setRGB(x, y, ((x * 36) << 16) | ((y * 50) << 8) | (x + y))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val bytes = baos.toByteArray
    val media = Seq((1L, "png", bytes))
      .toDF("media_id", "format", "content").as[Multimodal.Media]
    val f = Multimodal.extractFeatures(media).collect()(0)
    assert(f.width == 7 && f.height == 5 && f.channels == 3)
    assert(f.n_bytes == bytes.length)
    // nearest-neighbour upscale 2x: output (2,2) samples source (1,1) —
    // compared against the raster, not the payload bytes
    val px = Multimodal.resize(media, 14, 10)
      .as[(Long, Int, Int, Int, Array[Byte])].collect()(0)._5
    val r = img.getRaster
    for (ch <- 0 until 3)
      assert(px((2 * 14 + 2) * 3 + ch) == r.getSample(1, 1, ch).toByte)
    // the same bytes declared `raw` keep the deterministic stub dimensions
    val raw = Seq((2L, "raw", bytes))
      .toDF("media_id", "format", "content").as[Multimodal.Media]
    val g = Multimodal.extractFeatures(raw).collect()(0)
    assert(g.width == 64 + (bytes.length % 512))
    // a corrupt image payload falls back to the stub: decode is total
    val bad = Seq((3L, "png", Array[Byte](1, 2, 3)))
      .toDF("media_id", "format", "content").as[Multimodal.Media]
    val b = Multimodal.extractFeatures(bad).collect()(0)
    assert(b.width == 64 + 3 && b.channels == 3)
  }

  test("perceptualHash: 16-hex signature, identical payloads collide, deterministic") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val media = Multimodal.asMedia(docs, "doc_id", "encode(text, 'utf-8')")
    val sigs = Multimodal.perceptualHash(media).collect()
    assert(sigs.length == docs.count())
    assert(sigs.forall(_.getString(2).matches("[0-9a-f]{16}")))
    // identical payloads -> identical signatures (clone two docs)
    val twin = Multimodal.asMedia(
      docs.limit(2).selectExpr("doc_id + 10000 AS doc_id", "text"),
      "doc_id", "encode(text, 'utf-8')")
    val both = Multimodal.perceptualHash(media.unionByName(twin))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val origs = docs.limit(2).select($"doc_id").as[Long].collect()
    for (id <- origs) assert(both(id) == both(id + 10000), s"clone of $id")
    // determinism across partitionings
    val again = Multimodal.perceptualHash(
      Multimodal.asMedia(docs.repartition(7), "doc_id", "encode(text, 'utf-8')"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == sigs.map(r => r.getLong(0) -> r.getString(2)).toMap)
  }

  test("phashPairs: banded candidates complete for small distance; exact hamming; no self/dup pairs") {
    // craft signatures with known hamming: s0/s1 differ in 1 bit (same
    // first band), s2 shares no band with s0/s1, s3 == s0
    val sigs = Seq(
      (0L, "00000000000000ff"),
      (1L, "00000000000000fe"), // flips one bit in band 3
      (2L, "ffffffffffff0000"),
      (3L, "00000000000000ff"))
      .toDF("media_id", "phash")
    val got = Multimodal.phashPairs(sigs, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 1L, 1L), (0L, 3L, 0L), (1L, 3L, 1L)))
    // wider threshold exposes the far pair only if a band collides: s2
    // shares no band with anyone -> still absent even at maxDist 64
    assert(!Multimodal.phashPairs(sigs, 64)
      .as[(Long, Long, Long)].collect().exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("sceneCuts: identical frames no cut, a changed frame cuts; hashes match standalone phash") {
    // 3 frames of 48 bytes: two identical, one wildly different
    val a = "x" * 48
    val b = (0 until 48).map(i => ('a' + i % 26).toChar).mkString
    val media = Multimodal.asMedia(
      Seq((1L, a + a + b)).toDF("doc_id", "text"), "doc_id", "encode(text, 'utf-8')", "raw")
    val got = Multimodal.sceneCuts(media, frameSize = 48, stride = 1, cutDist = 10)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(got.map(r => (r._2, r._3)).head == ((1L, 0L))) // frame 1 == frame 0
    assert(got.size == 2 && got(1)._3 > 10 && got(1)._4 == 1L)
    assert(got(0)._4 == 0L)
    // per-frame hash = perceptualHash of the frame as standalone raw media
    val frameMedia = Multimodal.asMedia(
      Seq((0L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "encode(text, 'utf-8')", "raw")
    val solo = Multimodal.perceptualHash(frameMedia)
      .select($"media_id", $"phash").as[(Long, String)].collect().toMap
    // distance computed by sceneCuts equals the standalone-hash hamming
    val ham = solo(0L).grouped(4).zip(solo(2L).grouped(4)).map { case (x, y) =>
      java.lang.Long.bitCount(java.lang.Long.parseLong(x, 16) ^ java.lang.Long.parseLong(y, 16))
    }.sum
    assert(got(1)._3 == ham.toLong)
  }

  test("energySegments: crafted activity runs exact; short payloads dropped") {
    // 2 frames of 16 samples = 64 bytes each payload. Payload 1: frame 0
    // all zero-bytes (s = -32768 each, energy high!), frame 1 bytes 0x80 0x00
    // (s = 0, energy 0) -> exactly one active frame, one segment.
    val quiet = Array.fill(32)(Array(0x80.toByte, 0x00.toByte)).flatten
    val loud = Array.fill(32)(Array(0x00.toByte, 0x00.toByte)).flatten
    val alt = (0 until 2).flatMap(_ => loud.take(32) ++ quiet.take(32)).toArray
    val media = Seq(
      Multimodal.Media(1L, "raw", loud.take(32) ++ quiet.take(32)), // active, quiet
      Multimodal.Media(2L, "raw", alt),                              // a q a q
      Multimodal.Media(3L, "raw", Array.fill(10)(1.toByte)))         // no full frame
      .toDS()
    val got = Multimodal.energySegments(media)
      .as[(Long, Long, Long, Long, Double, Long)].collect()
      .sortBy(_._1).toSeq
    val e = 16L * 32768L * 32768L // per loud frame: 16 samples at s = -32768
    assert(got == Seq(
      (1L, 2L, 1L, 1L, 0.5, e / 2),
      (2L, 4L, 2L, 2L, 0.5, e / 2)))
    // fixture: ratios in [0,1], segments <= active, deterministic
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val fm = Multimodal.asMedia(docs, "doc_id", "encode(text, 'utf-8')")
    val fxr = Multimodal.energySegments(fm)
      .as[(Long, Long, Long, Long, Double, Long)].collect().toSet
    assert(fxr.nonEmpty && fxr.forall(r =>
      r._5 >= 0.0 && r._5 <= 1.0 && r._4 <= r._3 && r._3 <= r._2))
    assert(Multimodal.energySegments(fm).collect().length == fxr.size)
  }
}
