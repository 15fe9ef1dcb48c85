package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: images/audio/video travel as opaque `binary`
  * columns next to a typed metadata struct; decode / feature-extraction
  * runs per-partition in batches.
  *
  * The Spark-side plumbing here — schema, batch shape, partition sizing —
  * is real and tested, and so is decode across all three modalities:
  * IMAGE pixel decode via the JRE's `javax.imageio` PNG/JPEG/GIF/BMP/TIFF
  * readers ([[ImageIODecoder]], [[pixelStats]], [[dhash56]]); AUDIO PCM16
  * decode via `javax.sound.sampled` WAV parsing ([[decodeWavStats]],
  * [[decodeWavSamples]] — volume-invariant fingerprints, near-dup pairs);
  * VIDEO via a byte-level RIFF/AVI container walk with uncompressed-DIB
  * frame decode, frame sampling and motion triage ([[decodeAvi]]).
  * The honest remaining stub is COMPRESSED codecs (MP3/AAC, MJPG/H.264):
  * those sit behind the [[MediaDecoder]] seam, which a deployment replaces
  * with a JNI/FFmpeg-backed implementation; the DIB walk rejects
  * compressed-fourcc AVI streams rather than decoding garbage.
  *
  * Scale notes:
  *  - binary payloads dominate row size → cap
  *    `spark.sql.files.maxPartitionBytes` so a partition of blobs fits in
  *    executor memory, and NEVER collect this column.
  *  - metadata-only transforms (filter by width, group by format) must not
  *    deserialize the blob: keep meta in its own struct column so column
  *    pruning drops the binary at the scan.
  *  - decode is a narrow mapPartitions: no shuffle; batching amortizes
  *    per-call model/codec setup exactly like a pandas-UDF batch would.
  */
object Multimodal {

  /** One media row: the blob + typed metadata. */
  final case class MediaRow(
      media_id: Long,
      media: Array[Byte],
      format: String,
      width: Int,
      height: Int,
      n_bytes: Long)

  final case class MediaFeatures(
      media_id: Long,
      format: String,
      n_bytes: Long,
      feature: Array[Float])

  /** The pluggable decode step. Implementations MUST be deterministic per
    * blob (retries re-decode).
    */
  trait MediaDecoder extends Serializable {
    def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures]
  }

  /** STUB decoder: deterministic fake features derived from the blob bytes
    * (first 8 bytes folded into a 4-dim "embedding"). Replace with a real
    * codec in deployment; everything around it — schema, batching,
    * partitioning — is the production shape.
    */
  object StubDecoder extends MediaDecoder {
    override def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map { r =>
        val seed = r.media.take(8).foldLeft(1469598103934665603L)((h, b) =>
          (h ^ (b & 0xFF)) * 1099511628211L)
        val feats = Array.tabulate(4)(i =>
          (((seed >>> (i * 16)) & 0xFFFF).toFloat / 65535.0f))
        MediaFeatures(r.media_id, r.format, r.n_bytes, feats)
      }
  }

  /** Attach a binary "media" payload to a text table — the ingest shape for
    * a corpus whose blobs arrive inline (e.g. WARC/base64 payloads). In
    * production the blob column comes straight from the source; this
    * adapter exists so the pipeline is exercisable on the text fixtures.
    */
  def attachBinary(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      to_binary(col(payloadCol), lit("utf-8")).as("media"),
      lit("text/plain").as("format"),
      lit(0).as("width"),
      lit(0).as("height"),
      // octet_length of the string is already its UTF-8 byte length — no
      // second to_binary conversion.
      octet_length(col(payloadCol)).cast(LongType).as("n_bytes"))

  /** Decode/feature-extract over partition batches (narrow, no shuffle). */
  def extractFeatures(media: Dataset[MediaRow], decoder: MediaDecoder)
      (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions(decoder.decodeBatch _)
  }

  // ------------------------------------------------------- pixel decoding

  /** REAL pixel decoder backed by `javax.imageio` (this JRE ships readers
    * for PNG/JPEG/GIF/BMP/TIFF/WBMP — probed via
    * `ImageIO.getReaderFormatNames`), replacing the r1–r9 "no media libs"
    * stub posture for images. Audio (WAV PCM16) and uncompressed-AVI video
    * decode are real too — see the module header; [[MediaProbe]] remains
    * the header-only fast path for triage without full decode.
    *
    * Features are the 4-dim mean-channel vector (R,G,B,A in [0,1]) — the
    * deterministic pixel-content summary the stub faked from raw bytes.
    * Decode failures (truncated/corrupt blobs, non-image payloads) yield
    * an empty feature vector rather than an exception: a corrupt blob
    * must not kill the partition (the [[MediaProbe]] contract).
    */
  object ImageIODecoder extends MediaDecoder {
    override def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map { r =>
        MediaFeatures(r.media_id, r.format, r.n_bytes,
          decodeStats(r.media).map { s =>
            Array(s.sumR.toFloat / (255f * s.nPixels),
              s.sumG.toFloat / (255f * s.nPixels),
              s.sumB.toFloat / (255f * s.nPixels),
              s.sumA.toFloat / (255f * s.nPixels))
          }.getOrElse(Array.empty[Float]))
      }
  }

  /** Exact integer pixel aggregates of one decoded image. All sums are
    * over 8-bit channel values — BIGINT-exact, replayable by any engine
    * that can reproduce the pixel values (the hash-discipline posture:
    * no float leaves an operator).
    */
  final case class PixelStats(width: Int, height: Int, nPixels: Long,
      sumR: Long, sumG: Long, sumB: Long, sumA: Long)

  /** ImageIO decode from an in-memory blob WITHOUT the disk-backed stream
    * cache: `ImageIO.read(InputStream)` wraps its input in a
    * FileCacheImageInputStream when `ImageIO.getUseCache()` (the default),
    * creating and deleting one temp FILE per decoded image — measured at
    * sf0.1 that filesystem round-trip made q160/q161 5–7× slower than the
    * decode itself. The blob is already a byte array, so the explicit
    * MemoryCacheImageInputStream is semantically identical (same reader
    * dispatch, same pixels) minus the file I/O.
    */
  private def readImage(blob: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(blob))
    // ImageIO.read(ImageInputStream) closes the stream itself (both on
    // success and on reader failure); only the no-reader-claims-it null
    // path leaves it open. A second close() would throw "closed".
    val img = javax.imageio.ImageIO.read(iis)
    if (img == null) iis.close()
    img
  }

  /** Decode a blob with the REAL ImageIO codec stack and reduce it to
    * integer channel sums in one pass. None = not decodable as an image.
    * `getRGB` returns non-premultiplied ARGB in the default sRGB space
    * regardless of the source color model, so the sums are
    * format-independent for lossless containers (PNG/BMP/GIF).
    */
  def decodeStats(blob: Array[Byte]): Option[PixelStats] =
    try {
      Option(readImage(blob))
        .map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          var (sr, sg, sb, sa) = (0L, 0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val argb = img.getRGB(x, y)
              sa += (argb >>> 24) & 0xFF
              sr += (argb >>> 16) & 0xFF
              sg += (argb >>> 8) & 0xFF
              sb += argb & 0xFF
              x += 1
            }
            y += 1
          }
          PixelStats(w, h, w.toLong * h, sr, sg, sb, sa)
        }
    } catch { case scala.util.control.NonFatal(_) => None }

  final case class PixelStatsRow(media_id: Long, width: Long, height: Long,
      n_pixels: Long, sum_r: Long, sum_g: Long, sum_b: Long,
      mean_luma_milli: Long)

  /** Per-image pixel statistics over a media table: REAL decode (narrow
    * mapPartitions — the [[extractFeatures]] batch shape), integer
    * channel sums, and Rec.601 mean luminance in milli-units
    * ((299·ΣR + 587·ΣG + 114·ΣB) div (1000·n) — exact integer division,
    * so the value is engine-replayable). Non-decodable blobs are
    * DROPPED (they carry no pixels); [[probeMetadata]] is the stage that
    * reports them.
    */
  def pixelStats(media: Dataset[MediaRow])
      (implicit spark: SparkSession): Dataset[PixelStatsRow] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodeStats(r.media).map { s =>
        PixelStatsRow(r.media_id, s.width.toLong, s.height.toLong, s.nPixels,
          s.sumR, s.sumG, s.sumB,
          (299L * s.sumR + 587L * s.sumG + 114L * s.sumB) / (1000L * s.nPixels))
      }
    })
  }

  /** 56-bit perceptual difference hash (dHash; Krawetz's public
    * algorithm) from REALLY decoded pixels: 8×8 grid of
    * nearest-neighbor-sampled gray values (x_i = i·w div 8,
    * y_j = j·h div 8; Rec.601 integer luma), bit j·7+i set when
    * gray(i+1, j) > gray(i, j) — 7 horizontal-gradient bits per row ×
    * 8 rows. 56 bits keeps the packed hash comfortably inside a signed
    * BIGINT in any engine (the q24 SimHash discipline, where bits 60–63
    * stay zero for the same reason). Nearest-neighbor (not
    * area-average) sampling is the deterministic, integer-exact choice
    * an oracle can replay pixel-for-pixel; production would swap an
    * area filter in HERE without touching the blocking machinery.
    * None = blob not decodable as an image.
    */
  def dhash56(blob: Array[Byte]): Option[Long] =
    try {
      Option(readImage(blob))
        .map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          def gray(i: Int, j: Int): Long = {
            val argb = img.getRGB(i * w / 8, j * h / 8)
            (299L * ((argb >>> 16) & 0xFF) + 587L * ((argb >>> 8) & 0xFF) +
              114L * (argb & 0xFF)) / 1000L
          }
          var bits = 0L
          var j = 0
          while (j < 8) {
            var i = 0
            while (i < 7) {
              if (gray(i + 1, j) > gray(i, j)) bits |= 1L << (j * 7 + i)
              i += 1
            }
            j += 1
          }
          bits
        }
    } catch { case scala.util.control.NonFatal(_) => None }

  final case class DhashRow(media_id: Long, dhash: Long)

  /** Per-image perceptual hash over a media table (narrow mapPartitions;
    * non-decodable blobs drop — [[probeMetadata]] reports them). Feed the
    * output to [[Dedup.hammingNearDupPairs]] (Hamming-ball blocking) or
    * group on `dhash` for exact perceptual duplicates.
    */
  def imageDhash(media: Dataset[MediaRow])
      (implicit spark: SparkSession): Dataset[DhashRow] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap(r =>
      dhash56(r.media).map(DhashRow(r.media_id, _))))
  }

  // ------------------------------------------------------- audio decoding

  /** The JRE's registered audio file readers, resolved ONCE per JVM and
    * ordered WAVE-first. `AudioSystem.getAudioInputStream` resolves the
    * provider list under a JVM-global synchronized registry on EVERY
    * call and then offers the blob to each provider in registry order
    * (AIFF, AU, MIDI... before WAVE), paying one thrown
    * UnsupportedAudioFileException per non-matching provider per blob.
    * Measured on 5000 small WAV clips across 32 threads: ~1.0s via
    * AudioSystem vs ~0.05s via this cached, WAVE-first list — the global
    * lock serializes the whole decode stage. Identical decode semantics:
    * the SAME provider objects parse the bytes, and container magics are
    * disjoint so provider order cannot change which one succeeds.
    */
  @transient private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toSeq
      .sortBy(r => if (r.getClass.getSimpleName == "WaveFileReader") 0 else 1)
  }

  /** The JRE's registered audio file writers, resolved once per JVM for
    * the same global-lock reason as [[audioReaders]] (AudioSystem.write
    * re-resolves per call; measured ~0.9s vs ~0.03s on the same corpus).
    */
  @transient private lazy val audioWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala.toSeq
  }

  /** `AudioSystem.getAudioInputStream` minus the per-call registry lock:
    * first provider that claims the stream wins (exactly the AudioSystem
    * contract); throws UnsupportedAudioFileException when none does.
    */
  private def openAudio(blob: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val it = audioReaders.iterator
    while (it.hasNext) {
      try return it.next().getAudioInputStream(new java.io.ByteArrayInputStream(blob))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "stream of unsupported format")
  }

  /** Exact integer sample aggregates of one decoded PCM16 mono WAV. All
    * BIGINT-exact: sample count, Σ|s|, max|s|, sign-change count
    * (zero-crossings, zero treated as positive), and clipped-sample
    * count (s = ±32767/−32768) — the silence/clipping/energy triage a
    * corpus audio gate runs before any model sees a waveform.
    */
  final case class PcmStats(nSamples: Long, sumAbs: Long, maxAbs: Long,
      zeroCrossings: Long, clipCount: Long)

  /** Decode a WAV blob through the REAL `javax.sound.sampled` parser (the
    * JRE's WAVE reader — header walk, fmt validation, PCM extraction)
    * and reduce the samples in one pass. None = not parseable, or not
    * the PCM16 mono little-endian layout this reducer handles (a corrupt
    * blob must not kill the partition).
    */
  def decodeWavStats(blob: Array[Byte]): Option[PcmStats] =
    try {
      val in = openAudio(blob)
      try {
        val f = in.getFormat
        if (f.getSampleSizeInBits != 16 || f.getChannels != 1 ||
            f.isBigEndian || f.getEncoding !=
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          var (sumAbs, maxAbs, zc, clip) = (0L, 0L, 0L, 0L)
          var prevNeg = false
          var i = 0
          while (i < n) {
            val s = ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort.toInt
            val a = math.abs(s.toLong)
            sumAbs += a
            if (a > maxAbs) maxAbs = a
            if (s == 32767 || s == -32768) clip += 1
            val neg = s < 0
            if (i > 0 && neg != prevNeg) zc += 1
            prevNeg = neg
            i += 1
          }
          Some(PcmStats(n.toLong, sumAbs, maxAbs, zc, clip))
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode a WAV blob to its raw PCM16 samples through the REAL
    * `javax.sound.sampled` parser. Same format guard as
    * [[decodeWavStats]]; unlike it, this materializes the sample array —
    * the fingerprint windowing needs n before it can place any sample,
    * so a one-pass stream would need two decodes instead.
    */
  def decodeWavSamples(blob: Array[Byte]): Option[Array[Int]] =
    try {
      val in = openAudio(blob)
      try {
        val f = in.getFormat
        if (f.getSampleSizeInBits != 16 || f.getChannels != 1 ||
            f.isBigEndian || f.getEncoding !=
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          val out = new Array[Int](n)
          var i = 0
          while (i < n) {
            out(i) = ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort.toInt
            i += 1
          }
          Some(out)
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  final case class PcmStatsRow(media_id: Long, n_samples: Long,
      sum_abs: Long, max_abs: Long, zero_crossings: Long, clip_count: Long,
      mean_abs_milli: Long)

  /** Per-clip PCM statistics over a media table of WAV blobs (narrow;
    * non-decodable or non-PCM16-mono blobs drop). `mean_abs_milli` =
    * (1000·Σ|s|) div n — exact integer milli-units.
    */
  def audioPcmStats(media: Dataset[MediaRow])
      (implicit spark: SparkSession): Dataset[PcmStatsRow] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodeWavStats(r.media).map { s =>
        PcmStatsRow(r.media_id, s.nSamples, s.sumAbs, s.maxAbs,
          s.zeroCrossings, s.clipCount, 1000L * s.sumAbs / s.nSamples)
      }
    })
  }

  /** Deterministic WAV test-clip synthesizer: sample t of clip `id` is
    * the wrapping sawtooth s_t = (((31·id + 1009·t) mod 4001) − 2000)·16
    * — full PCM16 dynamic range with ~one sign change per two samples
    * (the 1009 stride wraps the modulus often, so zero-crossing counting
    * is actually exercised), replayable in SQL — encoded
    * through the REAL `javax.sound.sampled` WAVE writer (RIFF header,
    * fmt chunk, little-endian PCM16 mono). The [[syntheticPng]]
    * discipline for audio: decode must recover the formula exactly.
    */
  def syntheticWav(id: Long, nSamples: Int, sampleRate: Int = 8000): Array[Byte] = {
    val pcm = new Array[Int](nSamples)
    var t = 0
    while (t < nSamples) {
      pcm(t) = ((java.lang.Math.floorMod(31 * id + 1009L * t, 4001) - 2000) * 16).toInt
      t += 1
    }
    encodeWavPcm16(pcm, sampleRate)
  }

  /** PCM16-mono-little-endian WAVE encode through the REAL
    * `javax.sound.sampled` writer (RIFF header, fmt chunk). Samples must
    * already fit in 16 bits — the synthesizers guarantee it by formula;
    * a checked clamp here would hide a planted-formula bug from the
    * oracle, so out-of-range wraps loudly instead.
    */
  def encodeWavPcm16(samples: Array[Int], sampleRate: Int = 8000): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var t = 0
    while (t < samples.length) {
      pcm(2 * t) = (samples(t) & 0xFF).toByte
      pcm(2 * t + 1) = ((samples(t) >> 8) & 0xFF).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    // AudioSystem.write minus the per-call registry lock (see
    // [[audioWriters]]): the first writer claiming (WAVE, this stream's
    // format) is the one AudioSystem would pick — the REAL WAVE writer.
    val w = audioWriters.find(_.getAudioFileTypes(ais)
        .contains(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no WAVE writer registered"))
    w.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Media table of [[syntheticWav]] blobs, one per input row; clip
    * length rides a small modulus of the id (100–149 samples) so the
    * oracle's replay grid stays bounded. Narrow map, encode distributed.
    */
  def syntheticWavTable(df: DataFrame, idCol: String)
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType).as("id")).as[Long].map { id =>
      val n = 100 + (id % 50).toInt
      val blob = syntheticWav(id, n)
      MediaRow(id, blob, "audio/wav", 1, 8000, blob.length.toLong)
    }
  }

  /** Variant corpus for audio near-dup testing: clip `id` is base
    * recording b = id mod 125 played at amplitude a = 4 + 4·(id div 125
    * mod 4) with a tiny additive dither ((id + 53t) mod 7 − 3) — the
    * "same master, different volume, re-encoded" family a fingerprint
    * dedup must collapse. Length rides the BASE (n = 100 + b mod 50), so
    * variants of one master align sample-for-sample; max |s| =
    * 2000·16 + 3 = 32003 stays inside PCM16. Replayable in SQL.
    */
  def syntheticWavVariant(id: Long, sampleRate: Int = 8000): Array[Byte] = {
    val b = id % 125
    val n = 100 + (b % 50).toInt
    val amp = 4 + 4 * ((id / 125) % 4)
    val pcm = new Array[Int](n)
    var t = 0
    while (t < n) {
      pcm(t) = ((java.lang.Math.floorMod(31 * b + 1009L * t, 4001) - 2000) * amp +
        (java.lang.Math.floorMod(id + 53L * t, 7) - 3)).toInt
      t += 1
    }
    encodeWavPcm16(pcm, sampleRate)
  }

  /** Media table of [[syntheticWavVariant]] blobs, one per input row.
    * Narrow map, encode distributed.
    */
  def syntheticWavVariantTable(df: DataFrame, idCol: String)
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType).as("id")).as[Long].map { id =>
      val blob = syntheticWavVariant(id)
      MediaRow(id, blob, "audio/wav", 1, 8000, blob.length.toLong)
    }
  }

  /** 56-bit audio fingerprint from REALLY decoded PCM: the clip is cut
    * into 57 equal-share windows (window of sample t = 57t div n), each
    * reduced to its exact integer energy Σ|s|, and bit i is set when
    * E(i+1) > E(i) — the energy-difference sign fingerprint
    * (single-band simplification of Haitsma–Kalker's public audio
    * fingerprint, ICMIR'02). Volume-invariant by construction: a
    * positive gain scales every window energy equally, so the
    * comparison bits — and therefore the near-dup blocking — survive
    * re-mastering; only additive noise can flip a bit whose energies
    * nearly tie. 56 bits keeps the hash inside a signed BIGINT (the
    * dHash/SimHash discipline). None = not PCM16-mono-LE decodable.
    */
  def audioFingerprint56(blob: Array[Byte], windows: Int = 57): Option[Long] =
    decodeWavSamples(blob).map { samples =>
      val n = samples.length
      val e = new Array[Long](windows)
      var t = 0
      while (t < n) {
        e((windows.toLong * t / n).toInt) += math.abs(samples(t).toLong)
        t += 1
      }
      var bits = 0L
      var i = 0
      while (i < windows - 1) {
        if (e(i + 1) > e(i)) bits |= 1L << i
        i += 1
      }
      bits
    }

  final case class AudioFpRow(media_id: Long, fp: Long)

  /** Per-clip audio fingerprint over a media table of WAV blobs (narrow;
    * non-decodable blobs drop). Feed to [[Dedup.hammingNearDupPairs]]
    * for Hamming-ball near-dup blocking or group on `fp` for exact
    * fingerprint duplicates.
    */
  def audioFingerprints(media: Dataset[MediaRow])
      (implicit spark: SparkSession): Dataset[AudioFpRow] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap(r =>
      audioFingerprint56(r.media).map(AudioFpRow(r.media_id, _))))
  }

  /** Deterministic PNG test-image synthesizer: pixel (x,y) of image `id`
    * is the arithmetic ramp r=(7id+13x+31y)%256, g=(11id+17x+5y)%256,
    * b=(3id+23x+29y)%256, encoded through the REAL ImageIO PNG writer.
    * PNG is lossless, so [[pixelStats]] over these blobs must recover
    * the ramp sums EXACTLY — which a SQL oracle can replay from the
    * closed-form double sum without ever seeing a byte of PNG. This is
    * the fixture generator that puts the real encode→decode roundtrip
    * under the driver hash (the q143 "plant it arithmetically"
    * discipline, extended from header fields to every pixel).
    */
  def syntheticPng(id: Long, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val r = java.lang.Math.floorMod(7 * id + 13 * x + 31 * y, 256).toInt
        val g = java.lang.Math.floorMod(11 * id + 17 * x + 5 * y, 256).toInt
        val b = java.lang.Math.floorMod(3 * id + 23 * x + 29 * y, 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    // Explicit in-memory output stream for the same reason as [[readImage]]:
    // ImageIO.write(_, _, OutputStream) otherwise spools the encode through
    // a FileCacheImageOutputStream temp file per image.
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, "png", ios) finally ios.close()
    bos.toByteArray
  }

  /** Media table of [[syntheticPng]] blobs, one per input row: width/height
    * ride small moduli of the id so the oracle's replay grid stays
    * bounded. Narrow map — the encode runs distributed, one image per
    * row, never on the driver.
    */
  def syntheticPngTable(df: DataFrame, idCol: String)
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType).as("id")).as[Long].map { id =>
      val w = 2 + (id % 6).toInt
      val h = 2 + (id % 4).toInt
      val blob = syntheticPng(id, w, h)
      MediaRow(id, blob, "image/png", w, h, blob.length.toLong)
    }
  }

  // ------------------------------------------------------------- probing

  /** REAL container-header parsing (not a stub): format detection and
    * dimension extraction straight from the public byte layouts — PNG
    * (IHDR), JPEG (SOF marker scan), GIF (logical screen descriptor),
    * BMP (BITMAPINFOHEADER), WAV (RIFF/fmt chunk). Pixel DECODING still
    * needs codecs this environment lacks, but the metadata a curation
    * pipeline actually filters on (format, width, height / channels,
    * sample rate) is parsed from the blob itself — the ingest-validation
    * step that catches mislabeled or truncated media before any codec
    * ever runs.
    */
  object MediaProbe {

    /** (detected_format, dim1, dim2): (width, height) for images,
      * (channels, sample_rate) for WAV audio, (0, 0) when unrecognized.
      * Deterministic, total: malformed headers yield
      * "application/octet-stream", never an exception (a corrupt blob
      * must not kill the partition).
      */
    def probe(b: Array[Byte]): (String, Int, Int) = {
      def u8(i: Int) = b(i) & 0xFF
      def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
      def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
      def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      def ascii(i: Int, s: String) =
        b.length >= i + s.length && s.indices.forall(j => u8(i + j) == s.charAt(j))
      try {
        val n = b.length
        if (n >= 24 && be32(0) == 0x89504E47 && be32(4) == 0x0D0A1A0A &&
            ascii(12, "IHDR"))
          ("image/png", be32(16), be32(20))
        else if (n >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
          // JPEG: walk marker segments to the first start-of-frame. SOFn
          // markers are C0–CF minus C4 (DHT), C8 (JPG ext), CC (DAC).
          var i = 2
          var res: (String, Int, Int) = ("image/jpeg", 0, 0)
          var done = false
          while (!done && i + 3 < n) {
            if (u8(i) != 0xFF) { done = true }
            else {
              val m = u8(i + 1)
              if (m == 0xFF) i += 1               // fill byte
              else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) i += 2
              else if (m == 0xD9 || m == 0xDA) done = true  // EOI / scan data
              else if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 &&
                  m != 0xCC && i + 8 < n) {
                res = ("image/jpeg", be16(i + 7), be16(i + 5)); done = true
              } else i += 2 + be16(i + 2)
            }
          }
          res
        }
        else if (ascii(0, "GIF87a") || ascii(0, "GIF89a"))
          ("image/gif", le16(6), le16(8))
        else if (ascii(0, "BM") && b.length >= 26)
          ("image/bmp", le32(18), le32(22))
        else if (ascii(0, "RIFF") && ascii(8, "WAVE") && ascii(12, "fmt ") &&
            b.length >= 28)
          ("audio/wav", le16(22), le32(24))   // (channels, sample rate)
        else ("application/octet-stream", 0, 0)
      } catch { case _: IndexOutOfBoundsException =>
        ("application/octet-stream", 0, 0)
      }
    }
  }

  final case class MediaProbeRow(
      media_id: Long,
      declared_format: String,
      detected_format: String,
      detected_width: Int,
      detected_height: Int,
      meta_consistent: Boolean)

  /** Ingest validation: parse every blob's REAL container header and
    * compare against the declared metadata — mislabeled formats and
    * header/metadata dimension mismatches surface BEFORE a decode stage
    * wastes cluster time on them. Narrow mapPartitions over the blob
    * column; the output is metadata-sized, so downstream filters never
    * touch the binary again.
    */
  def probeMetadata(media: Dataset[MediaRow])
      (implicit spark: SparkSession): Dataset[MediaProbeRow] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      val (fmt, w, h) = MediaProbe.probe(r.media)
      MediaProbeRow(r.media_id, r.format, fmt, w, h,
        fmt == r.format && w == r.width && h == r.height)
    })
  }

  // ------------------------------------------------------- video decoding

  /** One REALLY-decoded uncompressed-AVI clip: header fields + raw
    * BGR24 frames as (frame, y, x) → (r, g, b) accessors. `frames(f)` is
    * the f-th '00db' payload (bottom-up rows, 4-byte-aligned stride —
    * the DIB layout the AVI spec mandates for uncompressed 'DIB ' video).
    */
  final case class AviClip(width: Int, height: Int, totalFramesDeclared: Int,
      frames: IndexedSeq[Array[Byte]]) {
    private val stride = ((3 * width + 3) / 4) * 4
    /** (r, g, b) of pixel (x, y) of frame f; y is TOP-down (the DIB rows
      * are stored bottom-up, flipped here).
      */
    def rgb(f: Int, x: Int, y: Int): (Int, Int, Int) = {
      val off = (height - 1 - y) * stride + 3 * x
      val d = frames(f)
      ((d(off + 2) & 0xFF), (d(off + 1) & 0xFF), (d(off) & 0xFF))
    }
  }

  /** REAL byte-level RIFF/AVI container walk (public layout: 'RIFF'/
    * 'AVI ' outer chunk, LIST hdrl carrying the 'avih' MainAVIHeader,
    * LIST movi carrying '00db' uncompressed DIB frames). Exception-free
    * and total on corrupt blobs: None when the RIFF/AVI magic, a chunk
    * bound, or the frame-size arithmetic doesn't hold — a truncated
    * upload must not kill the partition. Only the uncompressed-DIB
    * profile is decoded ('00dc' compressed frames are counted but None
    * the clip); a deployment swaps an FFmpeg demux behind the same
    * AviClip shape.
    */
  def decodeAvi(blob: Array[Byte]): Option[AviClip] =
    try {
      def u32(i: Int): Long =
        (blob(i) & 0xFFL) | ((blob(i + 1) & 0xFFL) << 8) |
          ((blob(i + 2) & 0xFFL) << 16) | ((blob(i + 3) & 0xFFL) << 24)
      def fcc(i: Int): String =
        new String(blob.slice(i, i + 4), java.nio.charset.StandardCharsets.US_ASCII)
      if (blob.length < 12 || fcc(0) != "RIFF" || fcc(8) != "AVI ") None
      else {
        var width, height, declared = -1
        val frames = scala.collection.immutable.IndexedSeq.newBuilder[Array[Byte]]
        var sawCompressed = false
        var lastStreamType = ""
        // Chunk walk: LIST chunks recurse (their payload is a list type
        // fourcc + sub-chunks); plain chunks are consumed flat. Sizes are
        // validated against the enclosing bound BEFORE any read.
        def walk(from: Int, until: Int): Unit = {
          var p = from
          while (p + 8 <= until) {
            val id = fcc(p)
            val sz = u32(p + 4)
            val end = p + 8 + sz
            if (sz < 0 || end > until) throw new IllegalArgumentException("chunk overruns bound")
            id match {
              case "LIST" => walk(p + 12, end.toInt) // skip the list-type fourcc
              case "avih" =>
                declared = u32(p + 8 + 16).toInt     // dwTotalFrames
                width = u32(p + 8 + 32).toInt        // dwWidth
                height = u32(p + 8 + 36).toInt       // dwHeight
              case "00db" =>
                frames += blob.slice(p + 8, end.toInt)
              case "00dc" => sawCompressed = true
              case "strh" =>
                lastStreamType = fcc(p + 8)          // fccType: vids/auds/...
              case "strf" if lastStreamType == "vids" =>
                // BITMAPINFOHEADER.biCompression (offset 16): anything but
                // BI_RGB (0) — MJPG, H.264 fourccs — is a compressed
                // stream this walk must REJECT at the header, not decode
                // as garbage bytes that happen to match the DIB stride.
                // (auds strf is WAVEFORMATEX — different layout, skipped.)
                if (sz >= 20 && u32(p + 8 + 16) != 0L) sawCompressed = true
              case _ => ()                           // idx1/JUNK: skip
            }
            p = end.toInt + (sz.toInt & 1)           // chunks are word-aligned
          }
        }
        walk(12, blob.length)
        val stride = ((3 * width + 3) / 4) * 4
        val fs = frames.result()
        if (width <= 0 || height <= 0 || sawCompressed ||
            fs.exists(_.length != stride * height)) None
        else Some(AviClip(width, height, declared, fs))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  final case class FrameStatsRow(media_id: Long, frame_idx: Long,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Deterministic frame sampling + per-frame exact channel sums over a
    * media table of AVI blobs: every `stride`-th frame of each clip is
    * decoded to BIGINT channel sums (the per-frame signal a downstream
    * captioner/encoder batch would consume — the sampling decision is
    * the training-data op; the sums stand where the model call goes).
    * Narrow flatMap; non-decodable blobs drop.
    */
  def videoFrameSample(media: Dataset[MediaRow], stride: Int)
      (implicit spark: SparkSession): Dataset[FrameStatsRow] = {
    import spark.implicits._
    require(stride > 0, "stride must be positive")
    media.mapPartitions(_.flatMap { r =>
      decodeAvi(r.media).iterator.flatMap { c =>
        (0 until c.frames.length by stride).iterator.map { f =>
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < c.height) {
            var x = 0
            while (x < c.width) {
              val (pr, pg, pb) = c.rgb(f, x, y)
              sr += pr; sg += pg; sb += pb
              x += 1
            }
            y += 1
          }
          FrameStatsRow(r.media_id, f.toLong, sr, sg, sb)
        }
      }
    })
  }

  final case class VideoMotionRow(media_id: Long, n_frames: Long,
      declared_frames: Long, width: Long, height: Long, motion: Long)

  /** Per-clip motion triage: exact Σ over adjacent frame pairs of the
    * per-pixel absolute channel deltas — the static-video / frozen-feed
    * detector (motion ≈ 0 ⇒ the clip is a slideshow and per-frame
    * sampling is wasted compute), plus declared-vs-parsed frame-count
    * disagreement, the container-level truncation check. Narrow map.
    */
  def videoMotionStats(media: Dataset[MediaRow])
      (implicit spark: SparkSession): Dataset[VideoMotionRow] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      decodeAvi(r.media).map { c =>
        var motion = 0L
        var f = 1
        while (f < c.frames.length) {
          var y = 0
          while (y < c.height) {
            var x = 0
            while (x < c.width) {
              val (r1, g1, b1) = c.rgb(f, x, y)
              val (r0, g0, b0) = c.rgb(f - 1, x, y)
              motion += math.abs(r1 - r0) + math.abs(g1 - g0) + math.abs(b1 - b0)
              x += 1
            }
            y += 1
          }
          f += 1
        }
        VideoMotionRow(r.media_id, c.frames.length.toLong,
          c.totalFramesDeclared.toLong, c.width.toLong, c.height.toLong, motion)
      }
    })
  }

  /** Deterministic uncompressed-AVI test-clip synthesizer, written
    * byte-for-byte from the public RIFF/AVI layout ('RIFF'/'AVI ', LIST
    * hdrl with avih + strl(strh 'vids'/'DIB ' + strf BITMAPINFOHEADER),
    * LIST movi with '00db' bottom-up padded BGR24 DIB frames). Pixel
    * (x, y) of frame f extends the [[syntheticPng]] ramp with a frame
    * term: r=(7id+13x+31y+11f)%256, g=(11id+17x+5y+19f)%256,
    * b=(3id+23x+29y+7f)%256 — so frame deltas, and therefore
    * [[videoMotionStats]], are replayable in SQL. The same discipline as
    * q143's assembled PNGs: the PARSER under test gets a blob whose
    * every byte the oracle can account for.
    */
  def syntheticAvi(id: Long, width: Int, height: Int, nFrames: Int): Array[Byte] = {
    val stride = ((3 * width + 3) / 4) * 4
    val frameBytes = stride * height
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
    def w32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 24) & 0xFF).toInt)
    }
    def fcc(s: String): Unit = bos.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val hdrlSize = 4 + 8 + 56 + 8 + 4 + 8 + 56 + 8 + 40 // 'hdrl'+avih+LIST strl(strh+strf)
    val moviSize = 4 + nFrames * (8 + frameBytes)        // 'movi'+frames (frameBytes is even)
    fcc("RIFF"); w32(4 + 8 + hdrlSize + 8 + moviSize); fcc("AVI ")
    fcc("LIST"); w32(hdrlSize); fcc("hdrl")
    fcc("avih"); w32(56)
    w32(40000); w32(frameBytes.toLong * 25); w32(0); w32(0) // usec/frame, bytes/sec, pad, flags
    w32(nFrames); w32(0); w32(1); w32(frameBytes)           // totalFrames, initial, streams, bufSize
    w32(width); w32(height); w32(0); w32(0); w32(0); w32(0) // dims + reserved[4]
    fcc("LIST"); w32(4 + 8 + 56 + 8 + 40); fcc("strl")
    fcc("strh"); w32(56)
    fcc("vids"); fcc("DIB "); w32(0); w32(0); w32(0)        // type, handler, flags, prio, initial
    w32(1); w32(25); w32(0); w32(nFrames)                   // scale, rate, start, length
    w32(frameBytes); w32(-1 & 0xFFFFFFFFL); w32(0)          // bufSize, quality, sampleSize
    w16(0); w16(0); w16(width); w16(height)                 // rcFrame
    fcc("strf"); w32(40)
    w32(40); w32(width); w32(height); w16(1); w16(24)       // biSize, w, h, planes, bpp
    w32(0); w32(frameBytes); w32(0); w32(0); w32(0); w32(0) // BI_RGB, sizeImage, ppm, clr
    fcc("LIST"); w32(moviSize); fcc("movi")
    var f = 0
    while (f < nFrames) {
      fcc("00db"); w32(frameBytes)
      var row = height - 1 // bottom-up
      while (row >= 0) {
        var x = 0
        while (x < width) {
          bos.write((java.lang.Math.floorMod(3 * id + 23 * x + 29 * row + 7L * f, 256)).toInt)  // B
          bos.write((java.lang.Math.floorMod(11 * id + 17 * x + 5 * row + 19L * f, 256)).toInt) // G
          bos.write((java.lang.Math.floorMod(7 * id + 13 * x + 31 * row + 11L * f, 256)).toInt) // R
          x += 1
        }
        var pad = stride - 3 * width
        while (pad > 0) { bos.write(0); pad -= 1 }
        row -= 1
      }
      f += 1
    }
    bos.toByteArray
  }

  /** Media table of [[syntheticAvi]] blobs, one per input row: width
    * 4 + id mod 4, height 2 + id mod 3, frames 8 + id mod 5 — small
    * moduli keep the oracle's (x, y, f) replay grid bounded. Narrow map.
    */
  def syntheticAviTable(df: DataFrame, idCol: String)
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast(LongType).as("id")).as[Long].map { id =>
      val (w, h, n) = (4 + (id % 4).toInt, 2 + (id % 3).toInt, 8 + (id % 5).toInt)
      val blob = syntheticAvi(id, w, h, n)
      MediaRow(id, blob, "video/avi", w, h, blob.length.toLong)
    }
  }
}
