package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

/** Minimal pure-Java MJPEG-in-AVI codec — just enough of the public RIFF/AVI
  * container format (Microsoft "AVI RIFF File Reference", public since 1992)
  * to retire the video-decode stub without external codecs: MJPEG frames are
  * plain JPEGs, which the JDK's javax.imageio already decodes, so the only
  * missing piece was the container walk.
  *
  * Encoder layout (all little-endian):
  *   RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf)) LIST('movi'
  *   '00dc'×N) 'idx1')
  * Decoder: tolerant chunk walk — reads dwWidth/dwHeight/µs-per-frame from
  * 'avih', collects '00dc'/'00db' chunk payloads under 'movi' (direct or
  * inside 'rec ' lists), ignores everything else. Any structural surprise
  * returns None: the caller degrades to its stub path, never a task failure.
  */
object MjpegAvi {

  final case class Video(width: Int, height: Int, microSecPerFrame: Long,
      frames: IndexedSeq[Array[Byte]]) {
    def durationMs: Long = microSecPerFrame * frames.length / 1000L
    /** Decode one frame's JPEG payload; None if undecodable. */
    def decodeFrame(i: Int): Option[BufferedImage] =
      try Option(Multimodal.readImage(frames(i)))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---- encode ---------------------------------------------------------

  private def u32(out: ByteArrayOutputStream, v: Long): Unit = {
    out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
    out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
  }
  private def u16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
  private def fourcc(out: ByteArrayOutputStream, s: String): Unit = {
    require(s.length == 4, s"fourcc '$s'")
    var i = 0
    while (i < 4) { out.write(s.charAt(i).toInt & 0xff); i += 1 }
  }
  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(body.length + 9)
    fourcc(out, id); u32(out, body.length.toLong)
    out.write(body)
    if ((body.length & 1) == 1) out.write(0) // RIFF chunks pad to even
    out.toByteArray
  }
  private def list(kind: String, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(body.length + 13)
    fourcc(out, "LIST"); u32(out, body.length + 4L); fourcc(out, kind)
    out.write(body)
    out.toByteArray
  }

  /** Encode JPEG frame payloads as an MJPEG AVI. Frames must share one
    * (width, height); fps fixes the timebase. */
  def encode(frames: Seq[Array[Byte]], width: Int, height: Int,
      fps: Int = 4): Array[Byte] = {
    require(frames.nonEmpty, "encode needs at least one frame")
    require(fps >= 1, s"fps must be >= 1, got $fps")
    val maxFrame = frames.map(_.length).max

    val avih = new ByteArrayOutputStream(56)
    u32(avih, 1000000L / fps) // dwMicroSecPerFrame
    u32(avih, maxFrame.toLong * fps) // dwMaxBytesPerSec
    u32(avih, 0L) // dwPaddingGranularity
    u32(avih, 0x10L) // dwFlags: AVIF_HASINDEX
    u32(avih, frames.length.toLong) // dwTotalFrames
    u32(avih, 0L) // dwInitialFrames
    u32(avih, 1L) // dwStreams
    u32(avih, maxFrame.toLong) // dwSuggestedBufferSize
    u32(avih, width.toLong); u32(avih, height.toLong)
    for (_ <- 0 until 4) u32(avih, 0L) // dwReserved

    val strh = new ByteArrayOutputStream(56)
    fourcc(strh, "vids"); fourcc(strh, "MJPG")
    u32(strh, 0L); u16(strh, 0); u16(strh, 0) // flags, priority, language
    u32(strh, 0L) // dwInitialFrames
    u32(strh, 1L); u32(strh, fps.toLong) // dwScale / dwRate = fps
    u32(strh, 0L); u32(strh, frames.length.toLong) // start, length
    u32(strh, maxFrame.toLong); u32(strh, -1L & 0xffffffffL) // bufSize, quality
    u32(strh, 0L) // dwSampleSize
    u16(strh, 0); u16(strh, 0); u16(strh, width); u16(strh, height) // rcFrame

    val strf = new ByteArrayOutputStream(40) // BITMAPINFOHEADER
    u32(strf, 40L); u32(strf, width.toLong); u32(strf, height.toLong)
    u16(strf, 1); u16(strf, 24) // planes, bit count
    fourcc(strf, "MJPG") // biCompression
    u32(strf, width.toLong * height * 3) // biSizeImage
    for (_ <- 0 until 4) u32(strf, 0L)

    val strl = list("strl", chunk("strh", strh.toByteArray) ++
      chunk("strf", strf.toByteArray))
    val hdrl = list("hdrl", chunk("avih", avih.toByteArray) ++ strl)

    val moviBody = new ByteArrayOutputStream()
    val offsets = IndexedSeq.newBuilder[(Long, Int)]
    frames.foreach { f =>
      offsets += ((moviBody.size().toLong + 4L, f.length)) // rel. to 'movi' 4cc
      moviBody.write(chunk("00dc", f))
    }
    val movi = list("movi", moviBody.toByteArray)

    val idx1 = new ByteArrayOutputStream(frames.length * 16)
    offsets.result().foreach { case (off, len) =>
      fourcc(idx1, "00dc"); u32(idx1, 0x10L) // AVIIF_KEYFRAME
      u32(idx1, off); u32(idx1, len.toLong)
    }

    val body = hdrl ++ movi ++ chunk("idx1", idx1.toByteArray)
    val out = new ByteArrayOutputStream(body.length + 12)
    fourcc(out, "RIFF"); u32(out, body.length + 4L); fourcc(out, "AVI ")
    out.write(body)
    out.toByteArray
  }

  // ---- decode ---------------------------------------------------------

  private def readU32(b: Array[Byte], p: Int): Long =
    (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
      ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
  private def tag(b: Array[Byte], p: Int): String =
    new String(Array(b(p), b(p + 1), b(p + 2), b(p + 3)), "US-ASCII")

  /** Parse an AVI byte blob; None on anything that isn't a well-formed
    * single-video-stream AVI with at least one frame chunk. */
  def decode(bytes: Array[Byte]): Option[Video] = {
    try {
      if (bytes.length < 24 || tag(bytes, 0) != "RIFF" ||
        tag(bytes, 8) != "AVI ") return None
      var width = 0
      var height = 0
      var uspf = 0L
      var videoStreams = 0
      val frames = IndexedSeq.newBuilder[Array[Byte]]

      def walk(from: Int, to: Int, inMovi: Boolean): Unit = {
        var p = from
        while (p + 8 <= to) {
          val id = tag(bytes, p)
          val size = readU32(bytes, p + 4) // unsigned: readU32 ∈ [0, 2^32)
          val dataStart = p + 8
          val dataEnd = dataStart + size
          if (dataEnd > to) return // truncated/oversized: keep what we have
          if (id == "LIST" && size >= 4) {
            val kind = tag(bytes, dataStart)
            // only descend where frame/header chunks can live
            if (kind == "hdrl" || kind == "strl" || kind == "movi" ||
              kind == "rec ")
              walk(dataStart + 4, dataEnd.toInt,
                inMovi || kind == "movi" || kind == "rec ")
          } else if (id == "avih" && size >= 56) {
            uspf = readU32(bytes, dataStart)
            width = readU32(bytes, dataStart + 32).toInt
            height = readU32(bytes, dataStart + 36).toInt
          } else if (id == "strh" && size >= 4 &&
            tag(bytes, dataStart) == "vids") {
            videoStreams += 1
          } else if (inMovi && id.startsWith("00") &&
            (id.endsWith("dc") || id.endsWith("db")) && size > 0) {
            // stream 0 ONLY: a second stream's '01dc' frames interleaved
            // into one sequence would silently corrupt frame count,
            // duration, and the sampled-frame features
            frames += java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd.toInt)
          }
          p = dataEnd.toInt + (size.toInt & 1) // skip pad byte
        }
      }

      walk(12, math.min(bytes.length.toLong, 8L + readU32(bytes, 4)).toInt,
        inMovi = false)
      val fs = frames.result()
      // enforce the documented contract: exactly one video stream — a
      // multi-stream container degrades to the caller's stub path rather
      // than decoding as if it were stream 0 alone
      if (fs.isEmpty || width <= 0 || height <= 0 || videoStreams != 1) None
      else Some(Video(width, height, uspf, fs))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic JPEG frame for synthesis: raster keyed by (id, frame). */
  def synthFrameJpeg(id: Long, frame: Int, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 31 + y * 17 + id + frame * 41).toInt & 0xff
        val g = (x * 7 + y * 13 + id * 3 + frame * 11).toInt & 0xff
        val b = (x * 3 + y * 29 + id * 7 + frame * 5).toInt & 0xff
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    Multimodal.writeImage(img, "jpg")
  }
}
