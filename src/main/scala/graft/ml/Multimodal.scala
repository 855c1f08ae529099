package graft.ml

import java.awt.image.BufferedImage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fetch.ImageKit

/** Multimodal-column operators: media as opaque `binary` columns with typed
  * metadata, plus decode / feature-extract / resize / frame-sample stages.
  *
  * Image decode/resize is REAL (javax.imageio ships with the JDK), and so
  * are the pure-JDK paths for the other modalities: WAV/PCM audio decodes
  * through `javax.sound.sampled` into real signal features, and animated
  * GIF decodes through ImageIO into real per-frame perceptual hashes.
  * Only compressed formats with no JDK codec (mp3/aac, mp4/webm) fall
  * back to clearly-labeled deterministic STUBS — the Spark-side plumbing
  * (schemas, batch shape, partition behavior) is identical on both
  * paths; swap the stub body for an FFI decode call on a cluster with
  * codecs installed.
  */
object Multimodal {

  /** Magic-byte format sniff. */
  def sniffFormat(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 4) return "unknown"
    if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
        bytes(3) == 'G') "png"
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) "jpeg"
    else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') "gif"
    else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == 'F') "riff"
    else "unknown"
  }

  final case class ImageMeta(w: Int, h: Int, fmt: String, phash: Long)

  /** Real image decode → metadata + perceptual hash. */
  def imageMeta(bytes: Array[Byte]): Option[ImageMeta] = {
    try {
      val img = ImageKit.decode(bytes)
      if (img == null) None
      else Some(ImageMeta(img.getWidth, img.getHeight, sniffFormat(bytes),
        ImageKit.phash(img)))
    } catch { case _: Exception => None }
  }

  val imageMetaUdf = udf((bytes: Array[Byte]) => imageMeta(bytes))

  /** Real image resize (bilinear) → re-encoded PNG bytes. */
  def resizeImage(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
    try {
      val img = ImageKit.decode(bytes)
      if (img == null) return None
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.drawImage(img, 0, 0, w, h, null)
      g.dispose()
      Some(ImageKit.encode(out, "png"))
    } catch { case _: Exception => None }
  }

  /** REAL audio feature extraction for PCM/WAV via `javax.sound.sampled`
    * (ships with the JDK — no external codecs needed): decode to signed
    * 16-bit PCM, mono-mix, and compute an 8-dim feature vector of actual
    * signal statistics:
    * `[duration_s, sampleRate/48k, channels, rms, peak, zero-crossing
    * rate, high-frequency ratio (first-difference energy / energy — a
    * spectral-tilt proxy needing no FFT), 1.0 decoded-flag]`.
    * Compressed formats (mp3/aac) have no JDK codec and fall back to
    * [[audioFeaturesStub]], whose decoded-flag position is ≤ 0. */
  def audioFeatures(bytes: Array[Byte]): Array[Float] = {
    if (bytes == null || bytes.isEmpty) return Array.fill(8)(0.0f)
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      val pcmFmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        fmt.getSampleRate, 16, fmt.getChannels, fmt.getChannels * 2,
        fmt.getSampleRate, false)
      val pcm = javax.sound.sampled.AudioSystem
        .getAudioInputStream(pcmFmt, in)
      val data = pcm.readAllBytes()
      pcm.close(); in.close()
      val ch = fmt.getChannels
      val nFrames = data.length / (2 * ch)
      if (nFrames == 0) return Array.fill(8)(0.0f)
      // mono-mix to [-1, 1]
      val x = new Array[Float](nFrames)
      var f = 0
      while (f < nFrames) {
        var acc = 0.0f
        var c = 0
        while (c < ch) {
          val o = (f * ch + c) * 2
          val s = ((data(o) & 0xff) | (data(o + 1) << 8)).toShort
          acc += s / 32768.0f
          c += 1
        }
        x(f) = acc / ch
        f += 1
      }
      var sumSq = 0.0; var peak = 0.0f; var zc = 0; var diffSq = 0.0
      var i = 1
      sumSq = x(0).toDouble * x(0)
      peak = math.abs(x(0))
      while (i < nFrames) {
        sumSq += x(i).toDouble * x(i)
        diffSq += (x(i) - x(i - 1)).toDouble * (x(i) - x(i - 1))
        if (math.abs(x(i)) > peak) peak = math.abs(x(i))
        if ((x(i) >= 0) != (x(i - 1) >= 0)) zc += 1
        i += 1
      }
      val rms = math.sqrt(sumSq / nFrames).toFloat
      val zcr = zc.toFloat / nFrames
      val hf = if (sumSq > 0) (diffSq / (4 * sumSq)).toFloat else 0.0f
      Array(nFrames / fmt.getSampleRate, fmt.getSampleRate / 48000.0f,
        ch.toFloat, rms, peak, zcr, hf, 1.0f)
    } catch { case _: Exception => audioFeaturesStub(bytes) }
  }

  /** Fallback — deterministic 8-dim pseudo-feature from the byte content
    * for formats the JDK cannot decode (mp3/aac/ogg — no codecs in this
    * container), so the pipeline shape (binary → fixed-dim float vector)
    * stays exercised end-to-end. Replace with an FFI decoder on a
    * cluster that ships codecs. */
  def audioFeaturesStub(bytes: Array[Byte]): Array[Float] = {
    if (bytes == null || bytes.isEmpty) return Array.fill(8)(0.0f)
    val out = new Array[Float](8)
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < bytes.length) { h = ImageKit.mix(h ^ bytes(i)); i += 1 }
    var d = 0
    while (d < 8) {
      out(d) = (((h >> (d * 8)) & 0xff).toFloat / 255.0f) - 0.5f
      d += 1
    }
    out
  }

  val audioFeaturesUdf = udf((bytes: Array[Byte]) => audioFeatures(bytes))

  /** REAL frame sampling for animated GIF via the JDK's ImageIO reader:
    * `n` evenly-spaced frames are decoded and perceptually hashed —
    * (frame index, phash) pairs, the real one-row→N-rows explode shape.
    * (GIF is the one multi-frame container the JDK decodes natively;
    * frames are read raw, without disposal-method compositing, which is
    * the right input for fingerprinting.) Containers with no JDK codec
    * (mp4/webm) fall back to [[sampleFramesStub]]. */
  def sampleFrames(bytes: Array[Byte], n: Int): Seq[(Int, Long)] = {
    if (bytes == null || bytes.isEmpty || n <= 0) return Seq.empty
    if (sniffFormat(bytes) != "gif") return sampleFramesStub(bytes, n)
    var reader: javax.imageio.ImageReader = null
    var iis: javax.imageio.stream.ImageInputStream = null
    try {
      val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      if (!readers.hasNext) return sampleFramesStub(bytes, n)
      reader = readers.next()
      iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      reader.setInput(iis, false, true)
      val total = reader.getNumImages(true)
      if (total <= 0) return sampleFramesStub(bytes, n)
      val k = math.min(n, total)
      val indices = (0 until k).map(i => i * total / k).distinct
      indices.map(idx => (idx, ImageKit.phash(reader.read(idx))))
    } catch { case _: Exception => sampleFramesStub(bytes, n) }
    finally {
      // this runs per ROW under the UDF: the stream must close here —
      // reader.dispose() does not close it, and ImageIO's default
      // createImageInputStream would hold a temp-file fd per call; the
      // memory-backed stream keeps the hot path fd-free entirely
      if (reader != null) reader.dispose()
      if (iis != null) iis.close()
    }
  }

  val sampleFramesRealUdf = udf((bytes: Array[Byte], n: Int) =>
    sampleFrames(bytes, n))

  /** Fallback — synthetic frame records (frame index + deterministic
    * pseudo-frame-hash) for containers the JDK cannot decode, keeping
    * the explode shape real end-to-end. */
  def sampleFramesStub(bytes: Array[Byte], n: Int): Seq[(Int, Long)] = {
    if (bytes == null || bytes.isEmpty) return Seq.empty
    var h = 0xbf58476d1ce4e5b9L
    var i = 0
    while (i < math.min(bytes.length, 4096)) { h = ImageKit.mix(h ^ bytes(i)); i += 1 }
    (0 until n).map(f => (f, ImageKit.mix(h + f)))
  }

  /** Full image-corpus metadata pipeline: binary column in, typed metadata
    * out, nulls for undecodable rows kept for auditability. */
  def describeImages(df: DataFrame, bytesCol: String): DataFrame =
    df.withColumn("meta", imageMetaUdf(col(bytesCol)))
      .withColumn("decoded_w", col("meta.w"))
      .withColumn("decoded_h", col("meta.h"))
      .withColumn("decoded_fmt", col("meta.fmt"))
      .withColumn("decoded_phash", col("meta.phash"))
      .drop("meta")

  /** Audio-corpus pipeline: binary column in → fixed 8-dim feature vector
    * (real signal statistics for WAV, labeled pseudo-features otherwise;
    * element 7 is the decoded flag). Map-only — one pass, no shuffle. */
  def describeAudio(df: DataFrame, bytesCol: String): DataFrame =
    df.withColumn("audio_features", audioFeaturesUdf(col(bytesCol)))
      .withColumn("audio_decoded",
        element_at(col("audio_features"), 8) === 1.0f)

  /** Frame-sampling pipeline: one media row → N (frame_index, frame_phash)
    * rows — the explode shape a training-data video stage feeds into image
    * dedup/similarity. Real decode for animated GIF, stub otherwise. */
  def explodeFrames(df: DataFrame, bytesCol: String, n: Int): DataFrame =
    df.withColumn("frame",
        explode(sampleFramesRealUdf(col(bytesCol), lit(n))))
      .withColumn("frame_index", col("frame._1"))
      .withColumn("frame_phash", col("frame._2"))
      .drop("frame")
}
