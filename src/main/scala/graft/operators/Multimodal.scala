package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, decode/feature-extract/frame-sample as
  * *batched* partition-local transforms.
  *
  * Image decode is REAL (`javax.imageio`, JDK built-in: PNG/JPEG → pixels;
  * features come from the decoded raster). Audio decode is REAL for
  * PCM/WAV (`javax.sound.sampled`, JDK built-in: WAV → samples; features
  * come from the decoded waveform — RMS amplitude and sample-histogram
  * entropy). Video decode is REAL for MJPEG-in-AVI ([[MjpegAvi]], a
  * pure-Java RIFF walk + javax.imageio per frame — no external codecs
  * needed since MJPEG frames ARE JPEGs); other codecs, non-PCM audio, and
  * undecodable blobs fall to a clearly-marked byte-level stub with
  * `decoded = false`.
  * The batching mirrors the reference's dominant-cost lesson: one Tesseract
  * *process per character group* killed its throughput
  * (/root/reference/diary_ocr.py:229-247); here decoder state is amortized
  * per batch, never per row.
  */
object Multimodal {

  final case class MediaMeta(codec: String, width: Int, height: Int, durationMs: Long)
  final case class MediaRow(doc_id: Long, kind: String, media: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(
      doc_id: Long,
      kind: String,
      decoded: Boolean, // true = features computed from decoded pixels
      width: Int,
      height: Int,
      n_bytes: Long,
      entropy: Double, // luma/sample entropy (decoded) or byte entropy (stub)
      head_histogram: Seq[Long], // first 8 histogram buckets
      frames_sampled: Int,
      rms: Double) // decoded-audio RMS amplitude in [0, 1]; 0.0 otherwise

  val BatchSize = 64

  /** Deterministic synthetic media derived from a documents table — the test
    * stand-in for real blobs. Image rows are REAL PNG bytes (ImageIO over a
    * deterministic raster), audio rows are REAL PCM WAV bytes (deterministic
    * sine waveform), video rows are REAL MJPEG AVI bytes ([[MjpegAvi]]
    * container around deterministic JPEG frames). */
  def synthesizeMedia(docs: DataFrame, spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)].map {
      case (id, text0) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        // null/empty documents still synthesize a valid blob
        val text = if (text0 == null || text0.isEmpty) "\u0000" else text0
        kind match {
          case "image" =>
            val w = 64 + (id % 64).toInt
            val h = 64
            val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                // deterministic pixel pattern keyed by (id, x, y)
                val r = (x * 31 + y * 17 + id).toInt & 0xff
                val g = (x * 7 + y * 13 + id * 3).toInt & 0xff
                val b = (x * 3 + y * 29 + id * 7).toInt & 0xff
                img.setRGB(x, y, (r << 16) | (g << 8) | b)
                x += 1
              }
              y += 1
            }
            MediaRow(id, kind, writeImage(img, "png"), MediaMeta("png", w, h, 0L))
          case "audio" =>
            // a REAL mono 16-bit PCM WAV (JDK javax.sound.sampled encodes
            // it): deterministic waveform keyed by (id, sample index)
            val sampleRate = 8000
            val durationMs = 250L + id % 750
            val nSamples = (sampleRate * durationMs / 1000L).toInt
            val pcm = new Array[Byte](nSamples * 2)
            var i = 0
            while (i < nSamples) {
              val phase = (i * (220.0 + (id % 17) * 55.0)) / sampleRate
              val s = (math.sin(2 * math.Pi * phase) * 12000).toInt.toShort
              pcm(2 * i) = (s & 0xff).toByte // little-endian
              pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
              i += 1
            }
            val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
            val ais = new AudioInputStream(
              new ByteArrayInputStream(pcm), fmt, nSamples.toLong)
            val baos = new ByteArrayOutputStream()
            AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
            MediaRow(id, kind, baos.toByteArray,
              MediaMeta("pcm-wav", 0, 0, durationMs))
          case _ =>
            // a REAL MJPEG AVI (MjpegAvi encodes the RIFF container; frames
            // are deterministic JPEG rasters keyed by (id, frame))
            val w = 96; val h = 64
            val nFrames = 4 + (id % 5).toInt
            val fps = 4
            val frames = (0 until nFrames)
              .map(f => MjpegAvi.synthFrameJpeg(id, f, w, h))
            val bytes = MjpegAvi.encode(frames, w, h, fps)
            MediaRow(id, kind, bytes,
              MediaMeta("mjpeg-avi", w, h, nFrames * 1000L / fps))
        }
    }
  }

  /** Decode an in-memory image blob; null when no reader knows its format.
    * `ImageIO.read(InputStream)` wraps the stream in a DISK-backed cache when
    * `ImageIO.getUseCache` is on (its default): a temp file created and
    * deleted per decode, pure overhead for bytes already in memory. A
    * per-read memory cache avoids it without touching that process-global
    * flag. Decoders throw on corrupt blobs; callers map that to a stub. */
  private[operators] def readImage(bytes: Array[Byte]): BufferedImage = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    val img = ImageIO.read(in) // closes `in` once a reader has taken it
    if (img == null) in.close() // no reader matched: `in` was left open
    img
  }

  /** Encode `img` as `format` bytes through a per-write memory cache (the
    * write-side twin of [[readImage]]). */
  private[operators] def writeImage(img: BufferedImage, format: String): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(baos)
    try ImageIO.write(img, format, out)
    finally out.close() // flushes the cache into `baos`; leaves `baos` open
    baos.toByteArray
  }

  /** Accumulate the 256-bucket integer-luma histogram of a decoded image
    * into `hist` — one bulk `getRGB(row)` fetch per scanline instead of a
    * per-pixel `getRGB(x, y)` call. Bulk fetch returns the identical packed
    * ARGB ints (same color-model conversion, applied once per row buffer),
    * so the luma math — (299·R + 587·G + 114·B) / 1000, integer division —
    * is bit-identical to the per-pixel form; only the per-call JNI/color-
    * model overhead (the decode leg's measured hot spot) is removed. */
  private def lumaHistogram(img: BufferedImage, hist: Array[Long]): Unit = {
    val w = img.getWidth; val h = img.getHeight
    val rowBuf = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, rowBuf, 0, w)
      var x = 0
      while (x < w) {
        val rgb = rowBuf(x)
        val luma = (((rgb >> 16) & 0xff) * 299 +
          ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
        hist(luma) += 1
        x += 1
      }
      y += 1
    }
  }

  private def shannonEntropy(hist: Array[Long], total: Long): Double = {
    if (total <= 0) return 0.0
    var entropy = 0.0
    val n = total.toDouble
    var j = 0
    while (j < hist.length) {
      if (hist(j) > 0) {
        val p = hist(j) / n
        entropy -= p * math.log(p) / math.log(2)
      }
      j += 1
    }
    entropy
  }

  private def byteHistogram(bytes: Array[Byte]): Array[Long] = {
    val hist = new Array[Long](256)
    var i = 0
    while (i < bytes.length) { hist(bytes(i) & 0xff) += 1; i += 1 }
    hist
  }

  /** Batched decode/feature-extract. Image rows decode for real via
    * javax.imageio (PNG/JPEG), audio rows via javax.sound.sampled (WAV/PCM)
    * — both JDK built-ins, no external codecs; video rows fall through to
    * the clearly-marked byte-level STUB with decoded=false. */
  def decode(media: Dataset[MediaRow], frameStride: Int = 10): Dataset[MediaFeatures] = {
    // frameStride = 0 would infinite-loop the MJPEG frame walk on an
    // executor (the old byte-stub failed fast with a divide-by-zero);
    // reject it at the API boundary instead (r05 ADVICE)
    require(frameStride >= 1, s"frameStride must be >= 1, got $frameStride")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map { row =>
          val bytes = row.media
          row.kind match {
            case "image" =>
              // NonFatal, not just IOException: corrupt blobs with valid
              // magic bytes throw CMMException/IllegalArgumentException from
              // deep inside ImageIO — the contract is "undecodable -> stub
              // row", never a task failure
              val img = try readImage(bytes)
                catch { case scala.util.control.NonFatal(_) => null }
              if (img == null) stubFeatures(row, frameStride) // undecodable blob
              else {
                // luma histogram over the decoded raster (bulk row fetch —
                // see lumaHistogram: same per-pixel values, ~an order of
                // magnitude fewer color-model conversions than per-pixel
                // getRGB)
                val hist = new Array[Long](256)
                val w = img.getWidth; val h = img.getHeight
                lumaHistogram(img, hist)
                MediaFeatures(row.doc_id, row.kind, decoded = true, w, h,
                  bytes.length.toLong, shannonEntropy(hist, w.toLong * h),
                  hist.take(8).toSeq, frames_sampled = 1, rms = 0.0)
              }
            case "audio" =>
              // REAL WAV/PCM decode via the JDK's javax.sound.sampled; only
              // 16-bit signed little-endian PCM is handled (what WAV PCM
              // is in practice) — anything else honestly falls to the stub.
              // The WHOLE decode (header resolve + payload read) is guarded:
              // a payload that throws mid-read must also become a stub row,
              // never a task failure
              val data: Array[Byte] = try {
                val ais = AudioSystem.getAudioInputStream(
                  new ByteArrayInputStream(bytes))
                val fmt = ais.getFormat
                if (fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
                  fmt.getSampleSizeInBits != 16 || fmt.isBigEndian) null
                else ais.readAllBytes()
              } catch { case scala.util.control.NonFatal(_) => null }
              if (data == null) stubFeatures(row, frameStride)
              else {
                val n = data.length / 2
                val hist = new Array[Long](256)
                var sumSq = 0.0
                var i = 0
                while (i < n) {
                  val lo = data(2 * i) & 0xff
                  val hi = data(2 * i + 1).toInt
                  val sv = ((hi << 8) | lo).toShort.toInt
                  hist((sv >> 8) & 0xff) += 1 // high-byte amplitude bucket
                  sumSq += sv.toDouble * sv
                  i += 1
                }
                val rms = if (n == 0) 0.0 else math.sqrt(sumSq / n) / 32768.0
                val nFrames = n / 1024
                val sampled = if (nFrames <= 1) 1 else 1 + (nFrames - 1) / frameStride
                MediaFeatures(row.doc_id, row.kind, decoded = true, 0, 0,
                  bytes.length.toLong, shannonEntropy(hist, n.toLong),
                  hist.take(8).toSeq, sampled, rms)
              }
            case "video" =>
              // REAL video decode: pure-Java RIFF/AVI walk (MjpegAvi) +
              // javax.imageio for the MJPEG frames. Every frameStride-th
              // frame is decoded; luma histogram/entropy accumulate over
              // the sampled frames only (the 100 TB posture: decode cost
              // per blob is bounded by nFrames/stride, not nFrames).
              // Anything that isn't a parseable single-stream MJPEG AVI —
              // or whose sampled frames all fail JPEG decode — falls to
              // the stub row, never a task failure.
              MjpegAvi.decode(bytes) match {
                case Some(v) =>
                  val hist = new Array[Long](256)
                  var total = 0L
                  var sampled = 0
                  var fi = 0
                  while (fi < v.frames.length) {
                    v.decodeFrame(fi) match {
                      case Some(img) =>
                        sampled += 1
                        lumaHistogram(img, hist)
                        total += img.getWidth.toLong * img.getHeight
                      case None => // skip an undecodable frame
                    }
                    fi += frameStride
                  }
                  if (sampled == 0) stubFeatures(row, frameStride)
                  else MediaFeatures(row.doc_id, row.kind, decoded = true,
                    v.width, v.height, bytes.length.toLong,
                    shannonEntropy(hist, total), hist.take(8).toSeq,
                    sampled, rms = 0.0)
                case None => stubFeatures(row, frameStride)
              }
            case _ => stubFeatures(row, frameStride)
          }
        }
      }
    }
  }

  /** >>> STUB: non-MJPEG video, non-PCM audio, and undecodable blobs —
    * features are deterministic byte-level stand-ins (decoded = false).
    * The frame-sampling arithmetic is real: every frameStride-th frame of
    * the (byte-length-derived) frame count. */
  private def stubFeatures(row: MediaRow, frameStride: Int): MediaFeatures = {
    val bytes = row.media
    val hist = byteHistogram(bytes)
    val nFrames = if (row.kind == "video") bytes.length / 1024 else 1
    val sampled = if (nFrames <= 1) 1 else 1 + (nFrames - 1) / frameStride
    MediaFeatures(row.doc_id, row.kind, decoded = false,
      row.meta.width, row.meta.height, bytes.length.toLong,
      shannonEntropy(hist, bytes.length.toLong), hist.take(8).toSeq, sampled,
      rms = 0.0)
  }
}
