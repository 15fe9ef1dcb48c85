package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._
  implicit def s: org.apache.spark.sql.SparkSession = spark

  private def mediaFixture = Seq(
    Multimodal.MediaRow(1L, Array.fill[Byte](1600)(7), "image/raw", 40, 40, 1600L),
    Multimodal.MediaRow(2L, Array.fill[Byte](400)(3), "image/raw", 20, 20, 400L),
  ).toDS()

  test("decode -> features pipeline is deterministic per blob") {
    val f1 = Multimodal.extractFeatures(mediaFixture, Multimodal.StubDecoder)
      .collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(mediaFixture, Multimodal.StubDecoder)
      .collect().sortBy(_.media_id)
    assert(f1.map(_.feature.toSeq).toSeq === f2.map(_.feature.toSeq).toSeq)
    assert(f1.head.feature.length === 4)
  }

  // Hand-assembled REAL container headers, byte-exact per the public
  // format specs — the probe parses these, not fixtures of itself.
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(32)
    bb.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    bb.putInt(13).put("IHDR".getBytes("US-ASCII")).putInt(w).putInt(h)
    bb.array()
  }
  private def jpegBytes(w: Int, h: Int): Array[Byte] = {
    val app0 = Array[Byte](0xFF.toByte, 0xE0.toByte, 0x00, 0x10) ++
      Array.fill[Byte](14)(0)                               // APP0, len 16
    val sof0 = Array[Byte](0xFF.toByte, 0xC0.toByte, 0x00, 0x11, 0x08,
      ((h >> 8) & 0xFF).toByte, (h & 0xFF).toByte,
      ((w >> 8) & 0xFF).toByte, (w & 0xFF).toByte, 0x03)
    Array[Byte](0xFF.toByte, 0xD8.toByte) ++ app0 ++ sof0
  }
  private def gifBytes(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++ Array[Byte](
      (w & 0xFF).toByte, ((w >> 8) & 0xFF).toByte,
      (h & 0xFF).toByte, ((h >> 8) & 0xFF).toByte, 0, 0, 0)
  private def wavBytes(channels: Int, rate: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(channels.toShort).putInt(rate)
    bb.array()
  }

  test("MediaProbe parses real PNG/JPEG/GIF/WAV headers byte-exactly") {
    assert(Multimodal.MediaProbe.probe(pngBytes(640, 480)) ===
      (("image/png", 640, 480)))
    assert(Multimodal.MediaProbe.probe(jpegBytes(128, 64)) ===
      (("image/jpeg", 128, 64)))
    assert(Multimodal.MediaProbe.probe(gifBytes(320, 200)) ===
      (("image/gif", 320, 200)))
    assert(Multimodal.MediaProbe.probe(wavBytes(2, 44100)) ===
      (("audio/wav", 2, 44100)))
    // Malformed/unknown blobs degrade, never throw.
    assert(Multimodal.MediaProbe.probe(Array[Byte](1, 2, 3))._1 ===
      "application/octet-stream")
    assert(Multimodal.MediaProbe.probe(pngBytes(1, 1).take(10))._1 ===
      "application/octet-stream")
    // Truncated JPEG (no SOF reached) still detects the format, dims 0.
    assert(Multimodal.MediaProbe.probe(
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xD9.toByte)) ===
      (("image/jpeg", 0, 0)))
  }

  test("probeMetadata flags mislabeled media before any decode runs") {
    val rows = Seq(
      Multimodal.MediaRow(1L, pngBytes(640, 480), "image/png", 640, 480, 32L),
      Multimodal.MediaRow(2L, pngBytes(640, 480), "image/jpeg", 640, 480, 32L), // wrong format
      Multimodal.MediaRow(3L, jpegBytes(128, 64), "image/jpeg", 128, 99, 30L),  // wrong height
    ).toDS()
    val out = Multimodal.probeMetadata(rows).collect().sortBy(_.media_id)
    assert(out(0).meta_consistent)
    assert(!out(1).meta_consistent && out(1).detected_format === "image/png")
    assert(!out(2).meta_consistent && out(2).detected_height === 64)
  }

  test("real ImageIO pixel decode: PNG roundtrip recovers planted ramp sums exactly") {
    // The q160 contract in miniature: synthesize a ramp PNG through the
    // real encoder, decode through the real reader, and check the integer
    // channel sums against the formula computed independently here.
    val id = 42L
    val (w, h) = (2 + (id % 6).toInt, 2 + (id % 4).toInt)
    val blob = Multimodal.syntheticPng(id, w, h)
    // It must be a REAL PNG container, not a fake: MediaProbe agrees.
    assert(Multimodal.MediaProbe.probe(blob) === (("image/png", w, h)))
    val s = Multimodal.decodeStats(blob).get
    var (er, eg, eb) = (0L, 0L, 0L)
    for (y <- 0 until h; x <- 0 until w) {
      er += java.lang.Math.floorMod(7 * id + 13 * x + 31 * y, 256)
      eg += java.lang.Math.floorMod(11 * id + 17 * x + 5 * y, 256)
      eb += java.lang.Math.floorMod(3 * id + 23 * x + 29 * y, 256)
    }
    assert((s.width, s.height, s.nPixels) === ((w, h, w.toLong * h)))
    assert((s.sumR, s.sumG, s.sumB) === ((er, eg, eb)))
    assert(s.sumA === 255L * w * h) // TYPE_INT_RGB decodes as opaque

    // Corrupt/truncated blobs degrade to None, never an exception.
    assert(Multimodal.decodeStats(blob.take(10)).isEmpty)
    assert(Multimodal.decodeStats(Array[Byte](1, 2, 3)).isEmpty)

    // ImageIODecoder features are the mean channels of the same sums.
    implicit val sp = spark
    import sp.implicits._
    val feats = Multimodal.extractFeatures(
      Seq(Multimodal.MediaRow(id, blob, "image/png", w, h, blob.length.toLong))
        .toDS(), Multimodal.ImageIODecoder).collect()
    assert(feats.head.feature.length === 4)
    assert(math.abs(feats.head.feature(0) - er.toFloat / (255f * w * h)) < 1e-6)
  }

  test("dHash + WAV decode: perceptual hash bits and PCM edge cases") {
    // dHash of a hand-built 2x1 image: left gray < right gray -> exactly
    // bit 0 of row 0 set, all other rows sample the same y (h=1).
    val img = new java.awt.image.BufferedImage(2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000); img.setRGB(1, 0, 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val dh = Multimodal.dhash56(bos.toByteArray).get
    // grid x: i*2 div 8 = 0 for i<4, 1 for i>=4 -> gradient fires at i=3
    // in every row j (gray jumps 0 -> 254): bits j*7+3.
    assert(dh === (0 until 8).map(j => 1L << (j * 7 + 3)).sum)
    assert(Multimodal.dhash56(Array[Byte](9, 9, 9)).isEmpty)

    // WAV: clipping and zero-crossing edge cases on handcrafted samples.
    def wav(samples: Seq[Int]): Array[Byte] = {
      val pcm = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (v, i) =>
        pcm(2 * i) = (v & 0xFF).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // signs walk +,-,+,-,0(+) -> 4 changes (zero counts as non-negative);
    // both rail values count as clipped.
    val s1 = Multimodal.decodeWavStats(wav(Seq(100, -200, 32767, -32768, 0))).get
    assert(s1 === Multimodal.PcmStats(5, 100 + 200 + 32767 + 32768 + 0,
      32768, 4, 2))
    assert(Multimodal.decodeWavStats(Array[Byte](1, 2, 3, 4)).isEmpty)
  }

  test("AVI round-trip: RIFF walk, pixel access, corruption safety") {
    // Known clip: verify dims, frame count, and a hand-computed pixel.
    val blob = Multimodal.syntheticAvi(id = 5, width = 5, height = 3, nFrames = 4)
    val c = Multimodal.decodeAvi(blob).get
    assert((c.width, c.height, c.totalFramesDeclared, c.frames.length) === (5, 3, 4, 4))
    // pixel (x=2, y=1, f=3): r=(35+26+31+33)%256, g=(55+34+5+57)%256,
    // b=(15+46+29+21)%256 — straight from the planted ramp.
    assert(c.rgb(3, 2, 1) === ((35 + 26 + 31 + 33) % 256,
      (55 + 34 + 5 + 57) % 256, (15 + 46 + 29 + 21) % 256))
    // Corruption safety: garbage, truncation mid-frame, and a chunk whose
    // declared size overruns the blob all yield None, never a throw.
    assert(Multimodal.decodeAvi(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeAvi(blob.take(blob.length - 7)).isEmpty)
    val overrun = blob.clone()
    overrun(19) = 0x7F // MSB of the hdrl LIST size: chunk end >> buffer end
    assert(Multimodal.decodeAvi(overrun).isEmpty)
    // Compressed frames ('00dc') are detected and refused, not mis-read.
    val compressed = blob.clone()
    val idx = {
      def find(p: Array[Byte], s: String): Int =
        (0 until p.length - 4).find(i => s.zipWithIndex.forall {
          case (ch, j) => p(i + j) == ch.toByte }).get
      find(compressed, "00db")
    }
    compressed(idx + 3) = 'c'.toByte
    assert(Multimodal.decodeAvi(compressed).isEmpty)
    // Codec boundary: an AVI whose strf BITMAPINFOHEADER declares a
    // compressed fourcc ('MJPG') must be REJECTED at the header even
    // when its '00db' payloads happen to match the DIB stride — the
    // uncompressed-DIB walk must never hand codec bitstream bytes to a
    // pixel reader. (The honest stub: MJPG/H.264 need the FFmpeg-backed
    // MediaDecoder seam.)
    def find(p: Array[Byte], s: String): Int =
      (0 until p.length - 4).find(i => s.zipWithIndex.forall {
        case (ch, j) => p(i + j) == ch.toByte }).get
    val mjpg = blob.clone()
    val strf = find(mjpg, "strf")
    "MJPG".zipWithIndex.foreach { case (ch, j) =>
      mjpg(strf + 8 + 16 + j) = ch.toByte } // biCompression field
    assert(Multimodal.decodeAvi(mjpg).isEmpty)
    // ...while the BI_RGB original still decodes (the plant is the only
    // difference).
    assert(Multimodal.decodeAvi(blob).nonEmpty)
  }

  test("hammingNearDupPairs blocks and verifies any packed-bit hash") {
    import spark.implicits._
    // 0x0F and 0x0E differ by 1 bit; 0xF000000000000L is far from both.
    val df = Seq((1L, 0x0FL), (2L, 0x0EL), (3L, 0xF0F0F0F0F0F0FL))
      .toDF("id", "h")
    val pairs = Dedup.hammingNearDupPairs(df, "id", col("h"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue()))
    assert(pairs.toSeq === Seq((1L, 2L, 1L)))
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDupPairs(df, "id", col("h"), maxHamming = 4)
    }
  }
}
