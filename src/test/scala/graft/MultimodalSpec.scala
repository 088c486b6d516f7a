package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO
import graft.operators.Multimodal
import graft.operators.Multimodal.{BinaryRecord, ImageRecord}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("decodeImages: real PNG decode to RGB bytes with dims") {
    val ds = Seq(
      BinaryRecord(1L, "red", pngBytes(4, 3, 0xff0000)),
      BinaryRecord(2L, "blue", pngBytes(2, 2, 0x0000ff)),
      BinaryRecord(3L, "garbage", Array[Byte](1, 2, 3))).toDS()
    val out = Multimodal.decodeImages(ds).collect().sortBy(_.key)
    assert(out.length == 2) // garbage dropped
    val red = out.head
    assert((red.height, red.width, red.channels) == (3, 4, 3))
    assert((red.data(0) & 0xff, red.data(1) & 0xff, red.data(2) & 0xff) == (255, 0, 0))
  }

  test("resize: nearest-neighbour, deterministic") {
    val rec = ImageRecord(1L, "x", 3, 4, 4, Array.tabulate(48)(_.toByte))
    val out = Multimodal.resize(Seq(rec).toDS(), 2, 2).collect().head
    assert(out.height == 2 && out.width == 2 && out.data.length == 12)
    val out2 = Multimodal.resize(Seq(rec).toDS(), 2, 2).collect().head
    assert(out.data.toSeq == out2.data.toSeq)
  }

  test("channelMeans: solid-colour image means are exact") {
    val ds = Seq(BinaryRecord(1L, "red", pngBytes(4, 4, 0xff0000))).toDS()
    val m = Multimodal.channelMeans(Multimodal.decodeImages(ds))
      .as[(Long, Float, Float, Float)].collect().head
    assert(m == ((1L, 255.0f, 0.0f, 0.0f)))
  }

  test("S3 scan → P3 decode: image dir flows into typed decode end to end") {
    val dir = java.nio.file.Files.createTempDirectory("s3p3").toString
    for (label <- Seq("cat", "dog")) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, label))
      val img = new BufferedImage(5, 4, BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0x00ff00)
      ImageIO.write(img, "png", java.nio.file.Paths.get(dir, label, "a.png").toFile)
    }
    val scanned = graft.ingest.Ingest.readImageDir(spark, dir)
    val recs = scanned.selectExpr("key", "path", "content").as[(Long, String, Array[Byte])]
      .map { case (k, p, c) => BinaryRecord(k, p, c) }
    val decoded = Multimodal.decodeImages(recs).collect().sortBy(_.key)
    assert(decoded.length == 2)
    assert(decoded.forall(r => r.height == 4 && r.width == 5 && r.channels == 3))
  }

  test("codec round-trip: image records survive parquet write/read intact") {
    val recs = Seq(
      ImageRecord(1L, "a", 3, 2, 2, Array.tabulate(12)(_.toByte)),
      ImageRecord(2L, "b", 3, 1, 4, Array.tabulate(12)(i => (255 - i).toByte)))
    val dir = java.nio.file.Files.createTempDirectory("roundtrip").toString
    recs.toDS().write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir).as[ImageRecord].collect().sortBy(_.key)
    assert(back.length == 2)
    recs.zip(back).foreach { case (a, b) =>
      assert(a.key == b.key && a.identifier == b.identifier &&
        a.channels == b.channels && a.height == b.height && a.width == b.width)
      assert(a.data.toSeq == b.data.toSeq)
    }
  }

  test("sampleFrames: compressed-format payload falls back to the stub, deterministic") {
    val ds = Seq(BinaryRecord(1L, "vid", Array.fill[Byte](100)(7))).toDS()
    val frames = Multimodal.sampleFrames(ds, everyNth = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(f => f.frameIdx % 2 == 0 && f.data.length == 48))
    val again = Multimodal.sampleFrames(ds, everyNth = 2).collect()
    assert(frames.map(_.frameIdx).toSeq == again.map(_.frameIdx).toSeq)
  }

  private def gifBytes(frames: Seq[BufferedImage]): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach(f => writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
    writer.endWriteSequence()
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  private def solid(w: Int, h: Int, rgb: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
    img
  }

  test("in-memory image decode is bit-identical to ImageIO's stream-cached read (PNG, GIF)") {
    // the form it replaced: ImageIO over an InputStream, whose default
    // cache backs the stream with a temp file
    def oldRgb(bytes: Array[Byte]) =
      Multimodal.toRgbBytes(ImageIO.read(new java.io.ByteArrayInputStream(bytes))).toSeq
    def newRgb(bytes: Array[Byte]) = Multimodal.toRgbBytes(Multimodal.readImage(bytes).get).toSeq
    val rnd = new scala.util.Random(17)
    val pngs = for {
      (w, h) <- Seq((1, 1), (16, 16), (7, 13), (64, 3))
      kind <- Seq(BufferedImage.TYPE_INT_RGB, BufferedImage.TYPE_INT_ARGB, BufferedImage.TYPE_BYTE_GRAY)
    } yield {
      val img = new BufferedImage(w, h, kind)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rnd.nextInt())
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val gif = gifBytes(Seq(solid(5, 3, 0xff0000), solid(5, 3, 0x00ff00), solid(2, 2, 0x123456)))
    (pngs :+ gif).foreach(b => assert(newRgb(b) == oldRgb(b)))
    // every frame of the animated GIF, as the multi-frame reader sees it
    def frames(in: javax.imageio.stream.ImageInputStream) = {
      val reader = ImageIO.getImageReaders(in).next()
      try {
        reader.setInput(in, false, false)
        (0 until reader.getNumImages(true)).map(i => Multimodal.toRgbBytes(reader.read(i)).toSeq)
      } finally { reader.dispose(); in.close() }
    }
    val oldFrames = frames(ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(gif)))
    assert(oldFrames.size == 3)
    assert(frames(Multimodal.imageStream(gif)) == oldFrames)
    // bytes no reader knows decode to None, not an exception
    assert(Multimodal.readImage(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("sampleFrames: REAL animated-GIF decode — frame sampling, indices, pixels (golden)") {
    val gif = gifBytes(Seq(solid(4, 4, 0xff0000), solid(4, 4, 0x00ff00), solid(4, 4, 0x0000ff)))
    val ds = Seq(BinaryRecord(1L, "anim", gif)).toDS()
    val frames = Multimodal.sampleFrames(ds, everyNth = 2).collect().sortBy(_.frameIdx)
    assert(frames.map(_.frameIdx).toSeq == Seq(0, 2))
    assert(frames.forall(f => f.height == 4 && f.width == 4 && f.channels == 3))
    def px0(f: Multimodal.FrameRecord) = (f.data(0) & 0xff, f.data(1) & 0xff, f.data(2) & 0xff)
    assert(px0(frames(0)) == ((255, 0, 0)))
    assert(px0(frames(1)) == ((0, 0, 255)))
  }

  test("sampleFrames: GIF partial frames composite onto the canvas (doNotDispose)") {
    // frame 1 only covers the top-left 2x2; the rest of the canvas must
    // still show frame 0's red
    val gif = gifBytes(Seq(solid(4, 4, 0xff0000), solid(2, 2, 0x0000ff)))
    val ds = Seq(BinaryRecord(1L, "partial", gif)).toDS()
    val frames = Multimodal.sampleFrames(ds, everyNth = 1).collect().sortBy(_.frameIdx)
    assert(frames.length == 2)
    val f1 = frames(1)
    assert(f1.height == 4 && f1.width == 4)
    def px(f: Multimodal.FrameRecord, x: Int, y: Int) = {
      val o = (y * f.width + x) * 3
      (f.data(o) & 0xff, f.data(o + 1) & 0xff, f.data(o + 2) & 0xff)
    }
    assert(px(f1, 0, 0) == ((0, 0, 255)), "overwritten region shows frame 1")
    assert(px(f1, 3, 3) == ((255, 0, 0)), "untouched region retains frame 0")
  }

  test("sampleFrames: REAL Y4M decode — BT.601 conversion is exact (golden)") {
    // hand-built 2x2 C420 video, 2 frames: frame 0 pure red (Y=81 U=90
    // V=240), frame 1 white (Y=235 U=V=128); integer BT.601 expansion
    val bos = new ByteArrayOutputStream()
    bos.write("YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420\n".getBytes("US-ASCII"))
    for ((y, u, v) <- Seq((81, 90, 240), (235, 128, 128))) {
      bos.write("FRAME\n".getBytes("US-ASCII"))
      for (_ <- 0 until 4) bos.write(y)
      bos.write(u); bos.write(v)
    }
    val ds = Seq(BinaryRecord(1L, "y4m", bos.toByteArray)).toDS()
    val frames = Multimodal.sampleFrames(ds, everyNth = 1).collect().sortBy(_.frameIdx)
    assert(frames.map(_.frameIdx).toSeq == Seq(0, 1))
    assert(frames.forall(f => f.height == 2 && f.width == 2 && f.data.length == 12))
    def px0(f: Multimodal.FrameRecord) = (f.data(0) & 0xff, f.data(1) & 0xff, f.data(2) & 0xff)
    assert(px0(frames(0)) == ((255, 0, 0)), s"BT.601 red: ${px0(frames(0))}")
    assert(px0(frames(1)) == ((255, 255, 255)), s"BT.601 white: ${px0(frames(1))}")
  }

  test("sampleFrames: corrupt/truncated Y4M falls back to the deterministic stub (total op)") {
    // valid magic + header, but the frame payload is cut short mid-plane:
    // the demuxer must reject it (None) and the stub keep the op total
    val bos = new ByteArrayOutputStream()
    bos.write("YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420\nFRAME\n".getBytes("US-ASCII"))
    for (_ <- 0 until 7) bos.write(99) // 7 of the 16+4+4 plane bytes
    val ds = Seq(Multimodal.BinaryRecord(1L, "torn", bos.toByteArray)).toDS()
    val frames = Multimodal.sampleFrames(ds, everyNth = 1).collect()
    assert(frames.nonEmpty, "stub fallback keeps the operator total")
    assert(frames.forall(f => f.height == 4 && f.width == 4 && f.data.length == 48))
    val again = Multimodal.sampleFrames(ds, everyNth = 1).collect()
    assert(frames.map(_.frameIdx).toSeq == again.map(_.frameIdx).toSeq)
  }

  test("sampleFrames: non-numeric Y4M header dims fall back to the stub, not NFE") {
    // 'Wabc' once threw an uncaught NumberFormatException and failed the
    // whole job on one corrupt payload
    val bad = "YUV4MPEG2 Wabc H4 C420\nFRAME\n".getBytes("US-ASCII")
    val ds = Seq(Multimodal.BinaryRecord(1L, "badhdr", bad)).toDS()
    val frames = Multimodal.sampleFrames(ds, everyNth = 1).collect()
    assert(frames.nonEmpty, "stub fallback keeps the operator total")
  }

  test("parseCanonicalWav: adversarial chunk size near 2^31 is rejected, not OOB") {
    // size 0x7FFFFFF0 made `pos + 8 + size` wrap Int past the bounds
    // guard; the walk then read a negative offset
    val bos = new ByteArrayOutputStream()
    bos.write("RIFF".getBytes("US-ASCII")); bos.write(Array[Byte](36, 0, 0, 0))
    bos.write("WAVE".getBytes("US-ASCII"))
    bos.write("JUNK".getBytes("US-ASCII"))
    bos.write(Array[Byte](0xf0.toByte, 0xff.toByte, 0xff.toByte, 0x7f)) // LE 0x7ffffff0
    bos.write(new Array[Byte](32))
    assert(Multimodal.parseCanonicalWav(bos.toByteArray).isEmpty)
  }

  test("syntheticY4msOracle / syntheticWavsOracle: demuxable, per-id deterministic") {
    val src = Seq((1L, "a"), (2L, "b")).toDS()
    val vf = Multimodal.sampleFrames(Multimodal.syntheticY4msOracle(src), everyNth = 1).collect()
    assert(vf.count(_.key == 1L) == 2 && vf.forall(f => f.height == 4 && f.width == 4))
    val af = Multimodal.decodeAudio(Multimodal.syntheticWavsOracle(src)).collect().sortBy(_.key)
    assert(af.length == 2 && af.forall(_.nSamples == 64))
    assert(af(0).samples.toSeq != af(1).samples.toSeq)
    val again = Multimodal.decodeAudio(Multimodal.syntheticWavsOracle(Seq((1L, "a")).toDS()))
      .collect().head
    assert(af(0).samples.toSeq == again.samples.toSeq)
  }

  test("syntheticY4ms: real container bytes, demuxable, everyNth skips frames, deterministic") {
    val ds = Multimodal.syntheticY4ms(Seq((1L, "a"), (2L, "b")).toDS(), side = 8, nFrames = 5)
    val all = Multimodal.sampleFrames(ds, everyNth = 1).collect()
    assert(all.count(_.key == 1L) == 5 && all.count(_.key == 2L) == 5)
    assert(all.forall(f => f.height == 8 && f.width == 8 && f.data.length == 192))
    val sampled = Multimodal.sampleFrames(ds, everyNth = 3).collect()
    assert(sampled.filter(_.key == 1L).map(_.frameIdx).sorted.toSeq == Seq(0, 3))
    val a1 = all.filter(f => f.key == 1L && f.frameIdx == 0).head
    val a2 = Multimodal.sampleFrames(
      Multimodal.syntheticY4ms(Seq((1L, "a")).toDS(), side = 8, nFrames = 5), everyNth = 1)
      .collect().filter(_.frameIdx == 0).head
    assert(a1.data.toSeq == a2.data.toSeq, "per-id deterministic")
    val b1 = all.filter(f => f.key == 2L && f.frameIdx == 0).head
    assert(a1.data.toSeq != b1.data.toSeq, "different ids → different pixels")
  }

  test("audioFeatures: non-WAV payload falls back to the stub, fixed coefficient count") {
    val ds = Seq(BinaryRecord(1L, "blob", Array.fill[Byte](64)(3))).toDS()
    val f = Multimodal.audioFeatures(ds).as[(Long, Array[Float])].collect().head
    assert(f._2.length == 13)
  }

  test("decodeAudio: real WAV round-trip — format, sample count, waveform (golden)") {
    // known waveform, bypassing the hash-derived synthesizer: 440 Hz sine,
    // amplitude 0.5, 8 kHz mono, 1600 samples
    val rate = 8000f
    val n = 1600
    val amp = 0.5
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val v = (amp * math.sin(2.0 * math.Pi * 440.0 * i / rate) * 32767.0).toShort
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val ds = Seq(BinaryRecord(7L, "sine440", bos.toByteArray)).toDS()
    val rec = Multimodal.decodeAudio(ds).collect().head
    assert(rec.sampleRate == rate && rec.channels == 1 && rec.nSamples == n)
    // decoded samples must be the exact 16-bit quantized sine
    for (i <- Seq(0, 1, 100, 799, 1599)) {
      val want = ((amp * math.sin(2.0 * math.Pi * 440.0 * i / rate) * 32767.0).toShort) / 32768.0f
      assert(rec.samples(i) == want, s"sample $i: ${rec.samples(i)} != $want")
    }
    // real-DSP features: RMS of a constant-amplitude sine ≈ amp/√2 in every segment
    val feats = Multimodal.audioFeatures(ds, nCoeffs = 4)
      .as[(Long, Array[Float])].collect().head._2
    assert(feats.length == 4)
    feats.foreach(e => assert(math.abs(e - amp / math.sqrt(2)) < 0.01,
      s"segment RMS $e != ${amp / math.sqrt(2)}"))
  }

  test("aHash: half-dark/half-bright image sets exactly the bright half's bits") {
    // 8x8 grayscale-ish RGB: rows 0-3 value 10, rows 4-7 value 200 →
    // mean 105; bits 32..63 set, 0..31 clear → lo=0, hi=0xFFFFFFFF.
    val data = new Array[Byte](8 * 8 * 3)
    for (p <- 0 until 64; c <- 0 until 3)
      data(p * 3 + c) = (if (p < 32) 10 else 200).toByte
    val rec = Multimodal.ImageRecord(1L, "t", 3, 8, 8, data)
    val r = Multimodal.aHash(Seq(rec).toDS()).collect().head
    assert(r.getLong(2) == 0xFFFFFFFFL && r.getLong(3) == 0L)
  }

  test("aHash: one-pixel jitter moves the hash by at most a few bits") {
    val base = Multimodal.syntheticDecoded(Seq((1L, "img")).toDS()).collect().head
    val d = base.data.clone(); d(0) = (((d(0) & 0xff) + 3) % 256).toByte
    val rows = Multimodal.aHash(Seq(base, base.copy(key = 2L, data = d)).toDS())
      .collect().sortBy(_.getLong(0))
    val ham = java.lang.Long.bitCount(rows(0).getLong(2) ^ rows(1).getLong(2)) +
      java.lang.Long.bitCount(rows(0).getLong(3) ^ rows(1).getLong(3))
    assert(ham <= 6, s"jittered hamming $ham")
  }

  test("syntheticWavs: real codec bytes, decodable, per-id deterministic") {
    val ds = Multimodal.syntheticWavs(Seq((1L, "a"), (2L, "b")).toDS())
    val recs = Multimodal.decodeAudio(ds).collect().sortBy(_.key)
    assert(recs.length == 2 && recs.forall(r => r.nSamples == 800 && r.channels == 1))
    val again = Multimodal.decodeAudio(Multimodal.syntheticWavs(Seq((1L, "a")).toDS())).collect().head
    assert(recs.head.samples.toSeq == again.samples.toSeq)
    assert(recs(0).samples.toSeq != recs(1).samples.toSeq, "different ids → different waveforms")
  }
}
