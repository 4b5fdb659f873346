package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.CorpusGen.mix64

/** Multimodal column support: media payloads ride through the engine
  * as opaque `binary` columns with typed metadata, exactly as the span
  * table treats them as opaque `media_ref` placeholders (north_rule).
  *
  * Decode is REAL for the header-parseable formats — BMP, PPM/PGM/PBM,
  * GIF, PNG and JPEG dimensions come from the actual bytes (pure-JVM
  * header parse, no codec library needed; see [[HeaderDecoder]]).
  * Formats that need real container/codec work (MP4, WAV) fall back to
  * a deterministic stub inside [[HeaderDecoder]] — the codec libraries
  * are not in this container — and the 16-dim feature vector is
  * likewise a stub stand-in for a real vision/audio embedding. The
  * Spark-side plumbing (schema, per-partition decoder pooling, batch
  * shape, partitioning) is identical either way.
  */
object Media {

  /** Typed metadata extracted from one media payload. */
  final case class MediaMeta(
      media_ref: String,
      mime: String,
      width: Int,
      height: Int,
      n_frames: Int,
      feature: Array[Float])

  /** REAL decode for the formats whose dimensions are plain header
    * fields — no codec needed, just byte/ASCII parsing:
    *
    *  - BMP: `BM` magic, BITMAPINFOHEADER int32-LE width/height at
    *    offsets 18/22 (height may be negative = top-down → abs);
    *  - PPM/PGM/PBM (netpbm `P1`..`P6`): ASCII width/height after the
    *    magic, `#` comments allowed anywhere in the header;
    *  - GIF87a/89a: uint16-LE logical-screen width/height at 6/8;
    *  - PNG: width/height are plain big-endian int32s at fixed offsets
    *    16/20 inside the IHDR chunk (always first, right after the
    *    8-byte signature) — the deflate codec is only needed for PIXELS;
    *  - JPEG: a linear marker scan to the first SOF0–SOF15 frame
    *    header, which carries big-endian uint16 height/width — again no
    *    entropy decode required.
    *
    * Anything else (MP4/WAV need real container/codec work absent from
    * this container) falls back to the deterministic stub. One
    * instance per task thread (pooled like the XML parsers; never per
    * row). */
  final class HeaderDecoder {

    /** STUB: deterministic fake decode. Derives pseudo metadata and a
      * 16-dim pseudo feature from a seeded hash of the payload — stands
      * in for a real image/audio codec so the pipeline is runnable
      * end-to-end. q35's DuckDB oracle replays it byte for byte. */
    private def stub(ref: String, bytes: Array[Byte], mime: String): MediaMeta = {
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < bytes.length) { h = mix64(h ^ bytes(i)); i += 1 }
      val w = 64 + (math.abs(h) % 1984).toInt
      val hh = 64 + (math.abs(mix64(h + 1)) % 1024).toInt
      val frames = if (mime.startsWith("video")) 1 + (math.abs(mix64(h + 2)) % 300).toInt else 1
      val feat = Array.tabulate(16)(j =>
        (mix64(h + 3 + j).toDouble / Long.MaxValue).toFloat)
      MediaMeta(ref, mime, w, hh, frames, feat)
    }

    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
    private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
    private def le32(b: Array[Byte], i: Int): Int =
      u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
    private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
    private def be32(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

    private val PngSig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt,
      0x0D, 0x0A, 0x1A, 0x0A)

    private def isPng(b: Array[Byte]): Boolean =
      b.length >= 24 && (0 until 8).forall(i => u8(b, i) == PngSig(i)) &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'

    /** JPEG frame dims via SOF marker scan. Returns (width, height) or
      * null. SOFn = 0xC0–0xCF minus DHT (C4), JPG (C8), DAC (CC);
      * standalone markers (RSTn/SOI/EOI/TEM) carry no length field. */
    private def jpegDims(b: Array[Byte]): (Int, Int) = {
      if (b.length < 4 || u8(b, 0) != 0xFF || u8(b, 1) != 0xD8) return null
      var i = 2
      while (i + 3 < b.length) {
        if (u8(b, i) != 0xFF) return null // lost sync
        var j = i
        while (j < b.length && u8(b, j) == 0xFF) j += 1 // fill bytes
        if (j >= b.length) return null
        val m = u8(b, j)
        if ((m >= 0xC0 && m <= 0xCF) && m != 0xC4 && m != 0xC8 && m != 0xCC) {
          // SOF: len(2) precision(1) height(2) width(2) — the last
          // byte read is j+7, so a buffer ending exactly at the width
          // field (a cropped header probe) still decodes
          return if (j + 7 < b.length) (be16(b, j + 6), be16(b, j + 4)) else null
        } else if (m == 0xD8 || (m >= 0xD0 && m <= 0xD7) || m == 0x01) {
          i = j + 1 // standalone marker
        } else if (m == 0xD9 || m == 0xDA) {
          return null // EOI / scan data reached without a SOF
        } else {
          if (j + 2 >= b.length) return null
          i = j + 1 + be16(b, j + 1)
        }
      }
      null
    }

    /** Read the next ASCII unsigned int of a netpbm header, skipping
      * whitespace and `#`-to-newline comments; returns (value, nextPos)
      * or null on malformed input. */
    private def pnmInt(b: Array[Byte], from: Int): (Int, Int) = {
      var i = from
      var guard = true
      while (guard && i < b.length) {
        val c = b(i).toChar
        if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else guard = false
      }
      val start = i
      var v = 0L
      while (i < b.length && b(i) >= '0' && b(i) <= '9' && v <= Int.MaxValue) {
        v = v * 10 + (b(i) - '0'); i += 1
      }
      if (i == start || v > Int.MaxValue) null else (v.toInt, i)
    }

    def decode(ref: String, bytes: Array[Byte], mime: String): MediaMeta = {
      val fallback = stub(ref, bytes, mime)
      if (bytes.length >= 26 && bytes(0) == 'B' && bytes(1) == 'M')
        fallback.copy(mime = "image/bmp", n_frames = 1,
          width = le32(bytes, 18), height = math.abs(le32(bytes, 22)))
      else if (bytes.length >= 10 && bytes(0) == 'G' && bytes(1) == 'I' &&
          bytes(2) == 'F' && bytes(3) == '8')
        fallback.copy(mime = "image/gif", n_frames = 1,
          width = le16(bytes, 6), height = le16(bytes, 8))
      else if (bytes.length >= 4 && bytes(0) == 'P' &&
          bytes(1) >= '1' && bytes(1) <= '6') {
        val w = pnmInt(bytes, 2)
        val h = if (w == null) null else pnmInt(bytes, w._2)
        if (h == null) fallback
        else fallback.copy(mime = "image/x-portable-anymap", n_frames = 1,
          width = w._1, height = h._1)
      } else if (isPng(bytes))
        fallback.copy(mime = "image/png", n_frames = 1,
          width = be32(bytes, 16), height = be32(bytes, 20))
      else {
        val jd = jpegDims(bytes)
        if (jd != null)
          fallback.copy(mime = "image/jpeg", n_frames = 1,
            width = jd._1, height = jd._2)
        else fallback
      }
    }
  }

  private object DecoderPool {
    @transient private lazy val tl = new ThreadLocal[HeaderDecoder] {
      override def initialValue(): HeaderDecoder = new HeaderDecoder
    }
    def get(): HeaderDecoder = tl.get()
  }

  /** Minimal valid BMP (BITMAPINFOHEADER, 24bpp, no pixel data rows —
    * header-complete, which is all a dimension probe reads). */
  def bmpBytes(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54).putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(width).putInt(height)
      .putShort(1).putShort(24).putInt(0).putInt(0)
      .putInt(2835).putInt(2835).putInt(0).putInt(0)
    b.array()
  }

  /** Header-complete PNG: signature + IHDR chunk (dims are all a
    * dimension probe reads; CRC left zero — the probe never checks it). */
  def pngBytes(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(33) // 8 sig + 4 len + 4 type + 13 ihdr + 4 crc
    b.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    b.putInt(13).put("IHDR".getBytes("US-ASCII"))
    b.putInt(width).putInt(height)
    b.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    b.putInt(0)
    b.array()
  }

  /** Header-complete JPEG: SOI + APP0/JFIF + SOF0 carrying the dims. */
  def jpegBytes(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(2 + 18 + 13)
    b.put(0xFF.toByte).put(0xD8.toByte)                      // SOI
    b.put(0xFF.toByte).put(0xE0.toByte).putShort(16)         // APP0 len 16
    b.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    b.put(1.toByte).put(1.toByte).put(0.toByte)
    b.putShort(1).putShort(1).put(0.toByte).put(0.toByte)
    b.put(0xFF.toByte).put(0xC0.toByte).putShort(11)         // SOF0 len 11 (1 comp)
    b.put(8.toByte)
    b.putShort(height.toShort).putShort(width.toShort)
    b.put(1.toByte).put(1.toByte).put(0x11.toByte).put(0.toByte)
    b.array()
  }

  /** Decode/feature-extract a media table
    * `(media_ref string, content binary, mime string)` into typed
    * metadata rows. Narrow `mapPartitions`; decoder pooled per task. */
  def decodeMeta(media: DataFrame): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_ref"), col("content"), col("mime"))
      .as[(String, Array[Byte], String)]
      .mapPartitions { it =>
        val dec = DecoderPool.get()
        it.map { case (ref, bytes, mime) =>
          dec.decode(ref, if (bytes == null) Array.emptyByteArray else bytes, mime)
        }
      }
  }

  private def hashStr(s: String): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < s.length) { h = mix64(h ^ s.charAt(i)); i += 1 }
    h
  }

  /** Deterministic synthetic media table derived from span-table media
    * refs (for tests and q35): image refs carry REAL format bytes (BMP,
    * PNG or JPEG headers whose width/height derive deterministically
    * from the ref) so the decode path exercises [[HeaderDecoder]]'s
    * actual byte parse across all three container layouts; video/audio
    * refs stay opaque payloads on the stub path. Narrow mapPartitions —
    * same batch shape as a real payload fetch. */
  def synthMediaReal(spark: SparkSession, refs: DataFrame): DataFrame = {
    import spark.implicits._
    refs.select(col("media_ref")).as[String].mapPartitions { it =>
      it.map { ref =>
        val h = hashStr(ref)
        def w = 64 + math.floorMod(mix64(h + 11), 1984L).toInt
        def ht = 64 + math.floorMod(mix64(h + 12), 1024L).toInt
        math.floorMod(h, 5L) match {
          case 0L => (ref, bmpBytes(w, ht), "image/bmp")
          case 1L => (ref, pngBytes(w, ht), "image/png")
          case 2L => (ref, jpegBytes(w, ht), "image/jpeg")
          case 3L => (ref, Array.tabulate(32)(j => mix64(h + j).toByte), "video/mp4")
          case _  => (ref, Array.tabulate(32)(j => mix64(h - j).toByte), "audio/wav")
        }
      }
    }.toDF("media_ref", "content", "mime")
  }
}
