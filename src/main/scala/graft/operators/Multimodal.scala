package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import javax.imageio.stream.{ImageInputStream, MemoryCacheImageInputStream}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque binary payloads with
  * typed metadata structs, plus decode / feature-extract / resize /
  * frame-sample operators (SURVEY §1.2 `ImgData`/`VideoData`,
  * `/root/reference/datum.proto:10-31`; decode lineage
  * `/root/reference/serialize.py:269-294`).
  *
  * Design: payloads stay `binary` end-to-end; metadata (dims, format) is
  * columnar and prunable, so a query touching only `img.height` never
  * deserializes pixels. Decoders run as typed `mapPartitions` batches —
  * the JVM analogue of `mapInPandas`: per-partition setup cost is paid
  * once, rows stream through in batches, and the operator composes with
  * repartitioning for skew (a handful of 4K images must not pin one task).
  *
  * Codec availability: PNG/JPEG decode is REAL (JDK ImageIO — RGB channel
  * order, an intentional, documented divergence from the reference's cv2
  * BGR). Audio decode is REAL for the JDK-native containers (WAV/AU/AIFF
  * via `javax.sound.sampled`); video decode is REAL for animated GIF
  * (ImageIO multi-frame + canvas compositing) and YUV4MPEG2 (hand-rolled
  * demuxer — raw planes need no codec). Only COMPRESSED audio/video
  * (mp3/aac, mp4/webm) falls back to a deterministic, clearly-marked stub
  * — those need an external codec lib (e.g. JavaCV) absent from this
  * container; schema, batching and partitioning are identical on both
  * paths.
  */
object Multimodal {

  /** Decoded image record — mirrors `ImgData` (datum.proto:10-21). */
  case class ImageRecord(key: Long, identifier: String, channels: Int,
                         height: Int, width: Int, data: Array[Byte])

  /** Raw binary row: (key, identifier, payload). */
  case class BinaryRecord(key: Long, identifier: String, payload: Array[Byte])

  /** ImageIO input over in-memory bytes, the one stream every decode here
    * reads. `ImageIO.read(InputStream)` and `createImageInputStream` pick a
    * FILE-backed stream cache while ImageIO's JVM-global `useCache` is on
    * (its default), so each decode wrote and deleted a temp file for bytes
    * that are already in memory. */
  private[graft] def imageStream(bytes: Array[Byte]): ImageInputStream =
    new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))

  /** Decode one still image; None when no ImageIO reader knows the format.
    * `ImageIO.read` closes the stream itself once a reader has taken it. */
  private[graft] def readImage(bytes: Array[Byte]): Option[BufferedImage] = {
    val in = imageStream(bytes)
    val img = ImageIO.read(in)
    if (img == null) in.close()
    Option(img)
  }

  /** Row-major interleaved RGB bytes of `img`. */
  private[graft] def toRgbBytes(img: BufferedImage): Array[Byte] = {
    val (h, w) = (img.getHeight, img.getWidth)
    val out = new Array[Byte](h * w * 3)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        out(i) = ((rgb >> 16) & 0xff).toByte
        out(i + 1) = ((rgb >> 8) & 0xff).toByte
        out(i + 2) = (rgb & 0xff).toByte
        i += 3; x += 1
      }
      y += 1
    }
    out
  }

  private def decodeOne(key: Long, id: String, bytes: Array[Byte]): Option[ImageRecord] =
    readImage(bytes).map { img =>
      ImageRecord(key, id, 3, img.getHeight, img.getWidth, toRgbBytes(img))
    }

  /** Deterministic synthetic corpus: one real PNG per input row, pixels
    * derived from the identifier hash. Exists so the full decode →
    * transform → feature pipeline can run as a declared query against the
    * text-only test tables (no binary columns ship in the fixtures). */
  def syntheticImages(ds: Dataset[(Long, String)], side: Int = 8): Dataset[BinaryRecord] = {
    import ds.sparkSession.implicits._
    ds.map { case (key, id) =>
      val img = new BufferedImage(side, side, BufferedImage.TYPE_INT_RGB)
      val h = id.hashCode
      var y = 0
      while (y < side) {
        var x = 0
        while (x < side) {
          img.setRGB(x, y, (h * (x + 1) * (y + 31)) & 0xffffff)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      BinaryRecord(key, id, bos.toByteArray)
    }
  }

  /** First 28 bits of md5(key) — the JVM twin of
    * [[graft.functions.Hashing.sqlH28]] (first 7 hex chars), read directly
    * from the digest bytes, no hex string in per-pixel loops. */
  private def h28v(key: String, md: java.security.MessageDigest): Long = {
    val d = md.digest(key.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
      ((d(2) & 0xffL) << 4) | ((d(3) & 0xff) >>> 4)
  }

  /** Pixel value of the ORACLE-SHARED synthetic image formula:
    * first 7 md5 hex chars of `"<id>:<x>,<y>,<c>"` mod 256 — the plain-JVM
    * twin of [[graft.functions.Hashing.h28]] (and DuckDB
    * `CAST('0x'||substr(md5(..),1,7) AS BIGINT)`), so feature queries over
    * [[syntheticDecoded]] corpora have an exact cross-engine oracle. */
  def pixel(id: String, x: Int, y: Int, c: Int,
            md: java.security.MessageDigest =
              java.security.MessageDigest.getInstance("MD5")): Int =
    (h28v(s"$id:$x,$y,$c", md) % 256).toInt

  /** Synthetic DECODED corpus from the pure [[pixel]] formula — no codec
    * in the loop, so downstream resize/feature queries are exactly
    * reproducible in SQL (the PNG encode→decode path stays covered by
    * [[syntheticImages]] + MultimodalSpec, where codec bytes are the
    * point, not the gate). */
  def syntheticDecoded(ds: Dataset[(Long, String)], side: Int = 8): Dataset[ImageRecord] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { case (key, id) =>
        val out = new Array[Byte](side * side * 3)
        var i = 0
        var y = 0
        while (y < side) {
          var x = 0
          while (x < side) {
            var c = 0
            while (c < 3) { out(i) = pixel(id, x, y, c, md).toByte; i += 1; c += 1 }
            x += 1
          }
          y += 1
        }
        ImageRecord(key, id, 3, side, side, out)
      }
    }
  }

  /** Decode binary image payloads to (channels, height, width, RGB bytes).
    * Typed mapPartitions batch op; undecodable payloads are dropped (and
    * would be routed to a quarantine sink in production). */
  def decodeImages(ds: Dataset[BinaryRecord]): Dataset[ImageRecord] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap(r => decodeOne(r.key, r.identifier, r.payload)))
  }

  /** Nearest-neighbour resize on decoded records — pure JVM arithmetic,
    * bit-deterministic across machines (no Graphics2D filtering). */
  def resize(ds: Dataset[ImageRecord], newH: Int, newW: Int): Dataset[ImageRecord] = {
    import ds.sparkSession.implicits._
    ds.map { r =>
      val out = new Array[Byte](newH * newW * r.channels)
      var y = 0
      while (y < newH) {
        val sy = y * r.height / newH
        var x = 0
        while (x < newW) {
          val sx = x * r.width / newW
          var c = 0
          while (c < r.channels) {
            out((y * newW + x) * r.channels + c) = r.data((sy * r.width + sx) * r.channels + c)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      r.copy(height = newH, width = newW, data = out)
    }
  }

  /** Per-channel mean pixel features (float32, reference's universal
    * dtype), as a DataFrame (key, mean_r, mean_g, mean_b). */
  def channelMeans(ds: Dataset[ImageRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.map { r =>
      val sums = new Array[Double](r.channels)
      var i = 0
      while (i < r.data.length) {
        sums(i % r.channels) += (r.data(i) & 0xff)
        i += 1
      }
      val n = (r.height * r.width).toDouble
      (r.key, (sums(0) / n).toFloat,
        (if (r.channels > 1) sums(1) / n else 0.0).toFloat,
        (if (r.channels > 2) sums(2) / n else 0.0).toFloat)
    }.toDF("key", "mean_r", "mean_g", "mean_b")
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint of a decoded
    * image: integer grayscale (r+g+b) div 3 over the record's pixel grid
    * (callers resize to 8×8 first for the canonical form), bit p set iff
    * gray_p · nPixels > Σgray — the mean threshold cross-multiplied so no
    * division or float ever happens. Packed as two 32-bit words
    * (lo = bits 0..31, hi = 32..63) so every downstream shift stays
    * inside signed int64 in BOTH engines (the q202 bitmap ruling).
    * Near-duplicate search treats the four 16-bit band slices as LSH
    * keys (the simhash/q42 banding pattern applied to pixels). */
  def aHash(ds: Dataset[ImageRecord]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.map { r =>
      val n = r.height * r.width
      val gray = new Array[Int](n)
      var sum = 0L
      var p = 0
      while (p < n) {
        val base = p * r.channels
        val g =
          if (r.channels >= 3)
            ((r.data(base) & 0xff) + (r.data(base + 1) & 0xff) +
              (r.data(base + 2) & 0xff)) / 3
          else r.data(base) & 0xff
        gray(p) = g; sum += g; p += 1
      }
      var lo = 0L; var hi = 0L
      p = 0
      while (p < n && p < 64) {
        if (gray(p).toLong * n > sum) {
          if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
        }
        p += 1
      }
      (r.key, r.identifier, hi, lo)
    }.toDF("key", "id", "hi", "lo")
  }

  /** Video frame record; `VideoData` surface (datum.proto:23-31 — declared
    * but never constructed in the reference). `frameIdx` is the frame's
    * index in the source stream (so `everyNth` sampling keeps the original
    * timeline position). */
  case class FrameRecord(key: Long, identifier: String, frameIdx: Int,
                         height: Int, width: Int, channels: Int, data: Array[Byte])

  /** One decoded sampled frame: (frameIdx, height, width, RGB bytes). */
  private type RawFrame = (Int, Int, Int, Array[Byte])

  /** REAL decode: animated GIF via the JDK ImageIO multi-frame reader.
    * Frames are composited onto a logical-screen canvas honoring each
    * frame's (left, top) offset and the two common disposal methods
    * (`none`/`doNotDispose` accumulate; `restoreToBackgroundColor` clears
    * the frame rect — rendered as black, we keep an opaque RGB canvas).
    * `restoreToPrevious` is rare and treated as `doNotDispose`. Every
    * frame must be decoded to composite correctly; only every n-th is
    * *emitted*. */
  private def decodeGif(payload: Array[Byte], everyNth: Int): Option[Seq[RawFrame]] = {
    val iis = imageStream(payload)
    val readers = ImageIO.getImageReaders(iis)
    if (!readers.hasNext) { iis.close(); return None } // close: no reader owns iis yet
    val reader = readers.next()
    try {
      reader.setInput(iis, false, false)
      val n = reader.getNumImages(true)
      if (n <= 0) return None
      // logical screen size from stream metadata; fall back to frame 0
      val first = reader.read(0)
      val (w, h) = Option(reader.getStreamMetadata)
        .map(_.getAsTree("javax_imageio_gif_stream_1.0"))
        .flatMap { tree =>
          val kids = tree.getChildNodes
          (0 until kids.getLength).map(kids.item)
            .find(_.getNodeName == "LogicalScreenDescriptor")
            .map { lsd =>
              val at = lsd.getAttributes
              (at.getNamedItem("logicalScreenWidth").getNodeValue.toInt,
                at.getNamedItem("logicalScreenHeight").getNodeValue.toInt)
            }
        }.getOrElse((first.getWidth, first.getHeight))
      val canvas = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = canvas.createGraphics()
      try {
        val out = Seq.newBuilder[RawFrame]
        var i = 0
        while (i < n) {
          val frame = if (i == 0) first else reader.read(i)
          // per-frame offset + disposal from image metadata
          var (left, top, disposal) = (0, 0, "none")
          val tree = reader.getImageMetadata(i).getAsTree("javax_imageio_gif_image_1.0")
          val kids = tree.getChildNodes
          var k = 0
          while (k < kids.getLength) {
            val node = kids.item(k)
            node.getNodeName match {
              case "ImageDescriptor" =>
                val at = node.getAttributes
                left = at.getNamedItem("imageLeftPosition").getNodeValue.toInt
                top = at.getNamedItem("imageTopPosition").getNodeValue.toInt
              case "GraphicControlExtension" =>
                disposal = node.getAttributes.getNamedItem("disposalMethod").getNodeValue
              case _ =>
            }
            k += 1
          }
          g.drawImage(frame, left, top, null)
          if (i % everyNth == 0) out += ((i, h, w, toRgbBytes(canvas)))
          if (disposal == "restoreToBackgroundColor") {
            g.setColor(java.awt.Color.BLACK)
            g.fillRect(left, top, frame.getWidth, frame.getHeight)
          }
          i += 1
        }
        Some(out.result())
      } finally g.dispose()
    } catch {
      case _: java.io.IOException | _: NumberFormatException | _: NullPointerException => None
    } finally {
      reader.dispose(); iis.close()
    }
  }

  private def clamp8(v: Int): Byte = (if (v < 0) 0 else if (v > 255) 255 else v).toByte

  /** REAL decode: YUV4MPEG2 (y4m) — an uncompressed video container
    * (plain-text header + raw YCbCr planes per frame) that needs no codec
    * library, the video twin of WAV for audio. Supports the C420* family,
    * C422, C444 and Cmono; YCbCr→RGB is ITU-R BT.601 limited-range in
    * exact integer arithmetic, bit-deterministic across JVMs. Since
    * frames are independent (no inter-frame prediction), non-sampled
    * frames are SKIPPED, not decoded — sampling 1-in-30 reads 1/30th of
    * the pixel work. */
  private def decodeY4m(payload: Array[Byte], everyNth: Int): Option[Seq[RawFrame]] = {
    val magic = "YUV4MPEG2 ".getBytes("US-ASCII")
    if (payload.length < magic.length ||
      !java.util.Arrays.equals(payload, 0, magic.length, magic, 0, magic.length)) return None
    var pos = payload.indexOf('\n'.toByte)
    if (pos < 0) return None
    val header = new String(payload, 0, pos, "US-ASCII")
    pos += 1
    var w = -1; var h = -1; var cs = "420"
    // malformed numerics drop the payload (w/h stay -1), never throw
    def intOr(s: String, dflt: Int): Int =
      try s.toInt catch { case _: NumberFormatException => dflt }
    header.split(' ').foreach { tok =>
      if (tok.startsWith("W")) w = intOr(tok.substring(1), -1)
      else if (tok.startsWith("H")) h = intOr(tok.substring(1), -1)
      else if (tok.startsWith("C")) cs = tok.substring(1)
    }
    if (w <= 0 || h <= 0) return None
    // chroma plane dims per colorspace (420 requires even frame dims)
    val (cw, ch) =
      if (cs.startsWith("420")) (w / 2, h / 2)
      else if (cs.startsWith("422")) (w / 2, h)
      else if (cs.startsWith("444")) (w, h)
      else if (cs == "mono") (0, 0)
      else return None
    val ySize = w * h
    val cSize = cw * ch
    val frameHdr = "FRAME".getBytes("US-ASCII")
    val out = Seq.newBuilder[RawFrame]
    var idx = 0
    while (pos < payload.length) {
      if (pos + frameHdr.length > payload.length ||
        !java.util.Arrays.equals(payload, pos, pos + frameHdr.length, frameHdr, 0, frameHdr.length))
        return None
      val nl = payload.indexOf('\n'.toByte, pos)
      if (nl < 0) return None
      pos = nl + 1
      if (pos + ySize + 2 * cSize > payload.length) return None
      if (idx % everyNth == 0) {
        val rgb = new Array[Byte](ySize * 3)
        val yOff = pos; val uOff = pos + ySize; val vOff = uOff + cSize
        var yy = 0
        while (yy < h) {
          var xx = 0
          while (xx < w) {
            val c298 = 298 * ((payload(yOff + yy * w + xx) & 0xff) - 16)
            val o = (yy * w + xx) * 3
            if (cSize == 0) {
              val v = clamp8((c298 + 128) >> 8)
              rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
            } else {
              val ci = (yy * ch / h) * cw + (xx * cw / w)
              val d = (payload(uOff + ci) & 0xff) - 128
              val e = (payload(vOff + ci) & 0xff) - 128
              rgb(o) = clamp8((c298 + 409 * e + 128) >> 8)
              rgb(o + 1) = clamp8((c298 - 100 * d - 208 * e + 128) >> 8)
              rgb(o + 2) = clamp8((c298 + 516 * d + 128) >> 8)
            }
            xx += 1
          }
          yy += 1
        }
        out += ((idx, h, w, rgb))
      }
      pos += ySize + 2 * cSize
      idx += 1
    }
    val frames = out.result()
    if (frames.isEmpty) None else Some(frames)
  }

  /** STUB CODEC fallback for compressed containers (mp4/mkv/webm — no
    * codec lib ships in this container): synthesizes deterministic frames
    * from the payload hash so the operator stays total. Replace with a
    * real demuxer (e.g. JavaCV) in production. */
  private def stubDecodeVideo(payload: Array[Byte], everyNth: Int): Seq[RawFrame] = {
    val nFrames = 1 + math.abs(java.util.Arrays.hashCode(payload)) % 16
    (0 until nFrames by everyNth).map { f =>
      val px = new Array[Byte](4 * 4 * 3)
      var i = 0
      while (i < px.length) { px(i) = ((payload.length + f * 31 + i) & 0xff).toByte; i += 1 }
      (f, 4, 4, px)
    }
  }

  /** Sample every n-th frame of each video payload. REAL decode for the
    * pure-JDK containers — animated GIF ([[decodeGif]]) and YUV4MPEG2
    * ([[decodeY4m]], where skipped frames are never even decoded);
    * compressed formats fall back to the documented deterministic stub.
    * Format is sniffed from magic bytes, not file extension. */
  def sampleFrames(ds: Dataset[BinaryRecord], everyNth: Int): Dataset[FrameRecord] = {
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      val gif = r.payload.length >= 4 && r.payload(0) == 'G' && r.payload(1) == 'I' &&
        r.payload(2) == 'F' && r.payload(3) == '8'
      val frames =
        (if (gif) decodeGif(r.payload, everyNth) else decodeY4m(r.payload, everyNth))
          .getOrElse(stubDecodeVideo(r.payload, everyNth))
      frames.map { case (idx, h, w, px) => FrameRecord(r.key, r.identifier, idx, h, w, 3, px) }
    }
  }

  /** ORACLE-SHARED synthetic Y4M corpus: luma follows the md5 h28 family
    * (`16 + h28("<id>:<frame>:<x>,<y>") % 220`, the Y4M-legal 16..235
    * range) and chroma is a per-video md5 constant (`16 + h28("<id>:u"|
    * ":v") % 209`) — every plane byte is reproducible in SQL, so a query
    * over the REAL encode → demux → BT.601 pipeline has an exact DuckDB
    * twin that computes the expected RGB directly (the video analogue of
    * [[pixel]]/[[syntheticDecoded]] for images, but gating the codec path
    * itself). Constant per-video chroma makes C420 subsampling lossless,
    * so the oracle needn't model the half-resolution planes. */
  def syntheticY4msOracle(ds: Dataset[(Long, String)], side: Int = 4,
                          nFrames: Int = 2): Dataset[BinaryRecord] = {
    import ds.sparkSession.implicits._
    require(side % 2 == 0, "C420 needs even dims")
    ds.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { case (key, id) =>
        val u = (16 + h28v(s"$id:u", md) % 209).toInt
        val v = (16 + h28v(s"$id:v", md) % 209).toInt
        val bos = new java.io.ByteArrayOutputStream()
        bos.write(s"YUV4MPEG2 W$side H$side F25:1 Ip A1:1 C420\n".getBytes("US-ASCII"))
        var f = 0
        while (f < nFrames) {
          bos.write("FRAME\n".getBytes("US-ASCII"))
          var y = 0
          while (y < side) {
            var x = 0
            while (x < side) {
              bos.write((16 + h28v(s"$id:$f:$x,$y", md) % 220).toInt); x += 1
            }
            y += 1
          }
          val cPlane = side / 2 * (side / 2)
          var c = 0
          while (c < cPlane) { bos.write(u); c += 1 }
          c = 0
          while (c < cPlane) { bos.write(v); c += 1 }
          f += 1
        }
        BinaryRecord(key, id, bos.toByteArray)
      }
    }
  }

  /** Deterministic synthetic Y4M corpus (C420, luma a hash-derived
    * gradient per frame, constant chroma per video) — real container
    * bytes through the real demux path, the video twin of
    * [[syntheticWavs]] / [[syntheticImages]]. */
  def syntheticY4ms(ds: Dataset[(Long, String)], side: Int = 8,
                    nFrames: Int = 4): Dataset[BinaryRecord] = {
    import ds.sparkSession.implicits._
    require(side % 2 == 0, "C420 needs even dims")
    ds.map { case (key, id) =>
      val hHash = id.hashCode
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(s"YUV4MPEG2 W$side H$side F25:1 Ip A1:1 C420\n".getBytes("US-ASCII"))
      var f = 0
      while (f < nFrames) {
        bos.write("FRAME\n".getBytes("US-ASCII"))
        var y = 0
        while (y < side * side) {
          bos.write((16 + math.abs((hHash + f * 131 + y * 7) % 220)) & 0xff); y += 1
        }
        val cPlane = side / 2 * (side / 2)
        var c = 0
        while (c < cPlane) { bos.write((128 + hHash % 64) & 0xff); c += 1 }
        c = 0
        while (c < cPlane) { bos.write((128 - hHash % 64) & 0xff); c += 1 }
        f += 1
      }
      BinaryRecord(key, id, bos.toByteArray)
    }
  }

  // ---- audio ------------------------------------------------------------

  /** Decoded audio record: interleaved PCM as float32 in [-1, 1] — the
    * reference's universal value dtype (SURVEY §1.2). */
  case class AudioRecord(key: Long, identifier: String, sampleRate: Float,
                         channels: Int, nSamples: Int, samples: Array[Float])

  /** Fast path: canonical RIFF/WAVE with 16-bit integer PCM (`fmt `
    * audioFormat 1, bits 16 — the overwhelmingly common container),
    * parsed directly. `AudioSystem.getAudioInputStream` runs SPI format
    * probing and builds a conversion-stream chain PER PAYLOAD — pure
    * constant-factor overhead when decoding millions of small clips in a
    * `mapPartitions` batch; this parser is a chunk walk over the byte
    * array. Chunks may appear in any order with strangers (LIST, fact)
    * between them; anything non-canonical returns None and takes the
    * general [[decodeAudioOne]] path, so behavior is identical. */
  private[graft] def parseCanonicalWav(bytes: Array[Byte]): Option[(Float, Int, Array[Float])] = {
    if (bytes.length < 44 ||
      bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' || bytes(3) != 'F' ||
      bytes(8) != 'W' || bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E') return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var rate = -1f; var channels = -1
    var dataOff = -1; var dataLen = -1
    while (pos + 8 <= bytes.length && (rate < 0 || dataOff < 0)) {
      val id = bb.getInt(pos) // little-endian fourcc
      val size = bb.getInt(pos + 4)
      // Long guard: `pos + 8 + size` wraps Int for an adversarial size
      // near 2^31, sneaking past the bound and crashing getInt below
      if (size < 0 || pos.toLong + 8L + size > bytes.length) return None
      if (id == 0x20746d66) { // "fmt "
        if (size < 16) return None
        val audioFormat = bb.getShort(pos + 8) & 0xffff
        channels = bb.getShort(pos + 10) & 0xffff
        rate = bb.getInt(pos + 12).toFloat
        val bits = bb.getShort(pos + 22) & 0xffff
        if (audioFormat != 1 || bits != 16 || channels <= 0) return None
      } else if (id == 0x61746164) { // "data"
        dataOff = pos + 8; dataLen = size
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (rate < 0 || dataOff < 0) return None
    val n = dataLen / 2
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = bb.getShort(dataOff + 2 * i) / 32768.0f
      i += 1
    }
    Some((rate, channels, out))
  }

  /** REAL decode for WAV/AU/AIFF (pure-JDK — no external codec needed):
    * canonical 16-bit PCM WAV takes the direct [[parseCanonicalWav]]
    * chunk walk; everything else goes through `javax.sound.sampled`,
    * where any PCM width/endianness is converted to 16-bit signed and
    * scaled to float32. Returns None for formats the JDK cannot read
    * (mp3/ogg/aac — those need a real codec lib in production). */
  private def decodeAudioOne(bytes: Array[Byte]): Option[(Float, Int, Array[Float])] =
    parseCanonicalWav(bytes).orElse(decodeAudioJavax(bytes))

  private[graft] def decodeAudioJavax(bytes: Array[Byte]): Option[(Float, Int, Array[Float])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      val target = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        fmt.getSampleRate, 16, fmt.getChannels, fmt.getChannels * 2,
        fmt.getSampleRate, false)
      val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(target, ais)
      try {
        val raw = pcm.readAllBytes()
        val n = raw.length / 2
        val out = new Array[Float](n)
        var i = 0
        while (i < n) {
          val lo = raw(2 * i) & 0xff
          val hi = raw(2 * i + 1)
          out(i) = (((hi << 8) | lo).toShort) / 32768.0f
          i += 1
        }
        Some((fmt.getSampleRate, fmt.getChannels, out))
      } finally pcm.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
      // AudioSystem throws IAE (not UAFE) for a READABLE format it cannot
      // CONVERT to 16-bit signed PCM — still "undecodable payload, drop"
      case _: IllegalArgumentException => None
    }

  /** Decode audio payloads to float32 PCM. Real codec for the JDK-native
    * containers (WAV/AU/AIFF); undecodable payloads are dropped (route to
    * a quarantine sink in production). Typed mapPartitions batch op like
    * [[decodeImages]]. */
  def decodeAudio(ds: Dataset[BinaryRecord]): Dataset[AudioRecord] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { r =>
      decodeAudioOne(r.payload).map { case (rate, ch, samples) =>
        AudioRecord(r.key, r.identifier, rate, ch, samples.length / ch, samples)
      }
    })
  }

  /** Per-payload audio features. WAV/AU/AIFF payloads get REAL DSP over
    * the decoded PCM: an `nCoeffs`-segment RMS energy envelope
    * (deterministic, pure float arithmetic). Compressed formats the JDK
    * cannot decode fall back to the DETERMINISTIC STUB (payload-hash
    * features) so the pipeline shape stays total; swap in a codec lib to
    * make that path real too. */
  def audioFeatures(ds: Dataset[BinaryRecord], nCoeffs: Int = 13): DataFrame = {
    import ds.sparkSession.implicits._
    ds.map { r =>
      val feats = decodeAudioOne(r.payload) match {
        case Some((_, _, samples)) if samples.nonEmpty =>
          // real path: RMS energy in nCoeffs equal time segments
          Array.tabulate(nCoeffs) { seg =>
            val from = (seg.toLong * samples.length / nCoeffs).toInt
            val until = ((seg + 1).toLong * samples.length / nCoeffs).toInt
            if (until <= from) 0.0f
            else {
              var acc = 0.0
              var i = from
              while (i < until) { acc += samples(i).toDouble * samples(i); i += 1 }
              math.sqrt(acc / (until - from)).toFloat
            }
          }
        case _ =>
          // STUB: no JDK codec for this container (mp3/ogg/aac)
          Array.tabulate(nCoeffs) { i =>
            val h = java.util.Arrays.hashCode(r.payload) * (i + 1)
            (h % 1000) / 1000.0f
          }
      }
      (r.key, feats)
    }.toDF("key", "energy")
  }

  /** ORACLE-SHARED synthetic WAV corpus: sample `i` is the 16-bit PCM
    * value `(h28("<id>:a<i>") % 65536) - 32768` — SQL-reproducible, so a
    * query over the REAL WAV encode → `javax.sound.sampled` decode →
    * float32 scaling pipeline has an exact DuckDB twin (the audio
    * analogue of [[syntheticY4msOracle]]). The float scaling is lossless
    * to invert: `v / 32768f` is exact for |v| ≤ 2^15 (mantissa fits), so
    * `(sample * 32768).toInt` recovers the original integer. */
  def syntheticWavsOracle(ds: Dataset[(Long, String)], nSamples: Int = 64,
                          sampleRate: Float = 8000f): Dataset[BinaryRecord] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { case (key, id) =>
        val pcm = new Array[Byte](nSamples * 2)
        var i = 0
        while (i < nSamples) {
          val v = ((h28v(s"$id:a$i", md) % 65536) - 32768).toInt
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new ByteArrayInputStream(pcm), fmt, nSamples.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        BinaryRecord(key, id, bos.toByteArray)
      }
    }
  }

  /** Deterministic synthetic WAV corpus (16-bit mono PCM sine, frequency
    * and amplitude derived from the identifier hash) — real codec bytes
    * through the real encode path, the audio twin of [[syntheticImages]]. */
  def syntheticWavs(ds: Dataset[(Long, String)], sampleRate: Float = 8000f,
                    nSamples: Int = 800): Dataset[BinaryRecord] = {
    import ds.sparkSession.implicits._
    ds.map { case (key, id) =>
      val h = id.hashCode
      val freq = 200.0 + math.abs(h % 1800)          // 200..1999 Hz
      val amp = 0.25 + (math.abs(h / 7) % 50) / 100.0 // 0.25..0.74
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val v = (amp * math.sin(2.0 * math.Pi * freq * i / sampleRate) * 32767.0).toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      BinaryRecord(key, id, bos.toByteArray)
    }
  }
}
