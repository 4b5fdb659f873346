package graft

import graft.multimodal.Media

/** Multimodal plumbing: pooled media decode and header parsing. */
class MediaStreamingSpec extends SparkSpecBase {

  test("media decode: pooled stub decoder, deterministic metadata") {
    import spark.implicits._
    val refs = (0 until 100).map(i => s"media://doc$i/0").toDF("media_ref")
    val media = Media.synthMediaReal(spark, refs)
    val meta = Media.decodeMeta(media).collect()
    assert(meta.length == 100)
    assert(meta.forall(m => m.width >= 64 && m.height >= 64))
    assert(meta.forall(_.feature.length == 16))
    // deterministic: second run identical
    val meta2 = Media.decodeMeta(media).collect()
    assert(meta.map(m => (m.media_ref, m.width, m.height, m.n_frames)).sorted.toSeq ==
      meta2.map(m => (m.media_ref, m.width, m.height, m.n_frames)).sorted.toSeq)
  }

  test("header decode is real: BMP/PPM/GIF/PNG/JPEG dims come from the bytes") {
    val dec = new Media.HeaderDecoder

    // BMP round-trip through the generator used by q35
    val bmp = dec.decode("r1", Media.bmpBytes(641, 123), "application/octet-stream")
    assert((bmp.mime, bmp.width, bmp.height, bmp.n_frames) == (("image/bmp", 641, 123, 1)))
    // top-down BMP stores a negative height
    val topDown = Media.bmpBytes(10, -20)
    assert(dec.decode("r2", topDown, "x").height == 20)

    // netpbm with comments between header tokens
    val ppm = "P6\n# a comment\n 800 # inline\n600\n255\n".getBytes("US-ASCII")
    val m = dec.decode("r3", ppm, "x")
    assert((m.mime, m.width, m.height) == (("image/x-portable-anymap", 800, 600)))

    // GIF logical screen descriptor (uint16 LE at 6/8)
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x20, 0x03, 0x58, 0x02) // 800 x 600
    val g = dec.decode("r4", gif, "x")
    assert((g.mime, g.width, g.height) == (("image/gif", 800, 600)))

    // unknown bytes fall back to the deterministic stub: same bytes,
    // same metadata; the mime passes through; dims in the stub's range
    val junk = Array.tabulate[Byte](16)(_.toByte)
    val stub1 = dec.decode("r5", junk, "video/mp4")
    val stub2 = new Media.HeaderDecoder().decode("r5", junk.clone(), "video/mp4")
    assert((stub1.mime, stub1.width, stub1.height, stub1.n_frames) ==
      ((stub2.mime, stub2.width, stub2.height, stub2.n_frames)))
    assert(stub1.feature.toSeq == stub2.feature.toSeq)
    assert(stub1.mime == "video/mp4")
    assert(stub1.width >= 64 && stub1.width < 2048, stub1.width)
    assert(stub1.height >= 64 && stub1.height < 1088, stub1.height)
    assert(stub1.feature.length == 16)

    // PNG: width/height are BE int32s at fixed IHDR offsets — a pure
    // header read, no inflate involved
    val png = dec.decode("r6", Media.pngBytes(1920, 1080), "application/octet-stream")
    assert((png.mime, png.width, png.height, png.n_frames) ==
      (("image/png", 1920, 1080, 1)))
    // a PNG-signature file whose first chunk is NOT IHDR is not a PNG
    val badPng = Media.pngBytes(5, 5)
    badPng(12) = 'X'.toByte
    assert(dec.decode("r6b", badPng, "x").mime != "image/png")

    // JPEG: marker scan past APP0 to SOF0
    val jpg = dec.decode("r7", Media.jpegBytes(1024, 768), "application/octet-stream")
    assert((jpg.mime, jpg.width, jpg.height, jpg.n_frames) ==
      (("image/jpeg", 1024, 768, 1)))
    // a truncated JPEG (SOI only) falls back to the stub, no crash
    assert(dec.decode("r8", Array(0xFF.toByte, 0xD8.toByte), "x").mime != "image/jpeg")

    // end-to-end through Spark: every real-image row's dims are the
    // header parse of its generated payload (all three layouts)
    import spark.implicits._
    val refs = (0 until 150).map(i => s"media://doc$i/0").toDF("media_ref")
    val media = Media.synthMediaReal(spark, refs)
    val meta = Media.decodeMeta(media).collect()
    assert(meta.length == 150)
    val images = meta.filter(_.mime.startsWith("image/"))
    assert(Set("image/bmp", "image/png", "image/jpeg")
      .subsetOf(images.map(_.mime).toSet), s"missing a format: ${images.map(_.mime).toSet}")
    val payloads = media.collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    images.foreach { mm =>
      val expect = dec.decode(mm.media_ref, payloads(mm.media_ref), "x")
      assert((mm.mime, mm.width, mm.height) ==
        ((expect.mime, expect.width, expect.height)), mm.media_ref)
    }
  }
}
