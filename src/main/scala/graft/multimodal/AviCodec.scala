package graft.multimodal

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII

/** Pure-JVM RIFF/AVI container codec carrying MJPEG video — the first REAL
  * video container in the decode family: where the animated-GIF path
  * ([[GifCodec.decodeFrames]]) stands in for video with palette frames,
  * this is the camera-adjacent layout an actual capture pipeline emits —
  * an AVI whose `00dc` chunks each hold one complete baseline JPEG, decoded
  * frame-by-frame through the existing entropy coder ([[JpegCodec]]). The
  * container walk is the same discipline as [[WavCodec]] (RIFF is one
  * spec): fourcc + little-endian size, odd-size pad bytes, nested LIST
  * forms (`hdrl` → `avih`/`strl`, `movi` → frame chunks, trailing `idx1`).
  *
  * Scale note: decode is pure task-side CPU with zero shuffle, and MJPEG
  * is the one mainstream video coding where frames are INDEPENDENT — no
  * inter-frame prediction state — so one huge file's frames split across
  * tasks: [[frameOffsets]] walks the container once (no entropy decode)
  * and [[decodeFrameAt]] decodes any single chunk independently
  * ([[Multimodal.splitAviFrameFeatures]] is the range-parallel op;
  * MultimodalSpec pins balance + whole-file equality). The decoder
  * deliberately
  * IGNORES the `idx1` index and walks `movi` sequentially: an index is an
  * untrusted seek accelerator, not ground truth, and a decode that trusts
  * it silently skips frames on the (common) files whose index is stale.
  *
  * Format is public (Microsoft "AVI RIFF File Reference" / OpenDML AVI
  * 1.02: MainAVIHeader, AVIStreamHeader, BITMAPINFOHEADER layouts and the
  * `##dc`/`##db` stream-chunk naming; JPEG per ITU-T T.81 via
  * [[JpegCodec]]). Reference-behavior shape: the reference pipeline
  * treats binary media as opaque payloads — this codec is the
  * beyond-reference decode surface SURVEY.md §2's training-data section
  * calls for.
  */
object AviCodec {

  /** Parsed container facts (header-only — no entropy decode): the sniff
    * a media pipeline filters on before paying for frame decode.
    */
  final case class Info(
      width: Int,
      height: Int,
      usPerFrame: Int,
      totalFrames: Int)

  private val AvifHasIndex = 0x00000010
  private val AviifKeyframe = 0x00000010

  /** A single-video-stream MJPEG AVI: `frames` are complete baseline JPEG
    * payloads (one per frame, all `width`×`height` — [[JpegCodec.encode]]
    * output), written as `00dc` chunks with a standard `idx1` index.
    */
  def encodeMjpeg(
      width: Int,
      height: Int,
      fps: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    require(fps > 0, s"fps=$fps must be positive")
    require(frames.nonEmpty, "AVI needs at least one frame")
    frames.foreach(f => require(f != null && f.nonEmpty, "null/empty frame payload"))

    val maxFrame = frames.map(_.length).max
    val usPerFrame = 1000000 / fps

    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = body.length % 2
      val bb = ByteBuffer.allocate(8 + body.length + pad).order(ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes(US_ASCII)).putInt(body.length).put(body)
      if (pad == 1) bb.put(0.toByte)
      bb.array()
    }
    def list(form: String, bodies: Array[Byte]*): Array[Byte] = {
      val inner = bodies.map(_.length).sum
      val bb = ByteBuffer.allocate(12 + inner).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("LIST".getBytes(US_ASCII)).putInt(4 + inner).put(form.getBytes(US_ASCII))
      bodies.foreach(bb.put)
      bb.array()
    }

    // MainAVIHeader — 14 dwords
    val avih = {
      val bb = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(usPerFrame)
      bb.putInt(maxFrame.toLong.toInt * fps) // dwMaxBytesPerSec (advisory)
      bb.putInt(0) // dwPaddingGranularity
      bb.putInt(AvifHasIndex)
      bb.putInt(frames.length) // dwTotalFrames
      bb.putInt(0) // dwInitialFrames
      bb.putInt(1) // dwStreams
      bb.putInt(maxFrame) // dwSuggestedBufferSize
      bb.putInt(width).putInt(height)
      bb.putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved
      chunk("avih", bb.array())
    }

    // AVIStreamHeader — 'vids'/'MJPG', rate/scale = fps/1
    val strh = {
      val bb = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("vids".getBytes(US_ASCII)).put("MJPG".getBytes(US_ASCII))
      bb.putInt(0) // dwFlags
      bb.putShort(0).putShort(0) // wPriority, wLanguage
      bb.putInt(0) // dwInitialFrames
      bb.putInt(1).putInt(fps) // dwScale, dwRate → fps frames/sec
      bb.putInt(0) // dwStart
      bb.putInt(frames.length) // dwLength (in frames)
      bb.putInt(maxFrame) // dwSuggestedBufferSize
      bb.putInt(-1) // dwQuality (default)
      bb.putInt(0) // dwSampleSize (0 = variable, one sample per chunk)
      bb.putShort(0).putShort(0) // rcFrame left, top
      bb.putShort(width.toShort).putShort(height.toShort)
      chunk("strh", bb.array())
    }

    // BITMAPINFOHEADER with biCompression = 'MJPG'
    val strf = {
      val bb = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(40) // biSize
      bb.putInt(width).putInt(height)
      bb.putShort(1).putShort(24) // biPlanes, biBitCount
      bb.put("MJPG".getBytes(US_ASCII)) // biCompression
      bb.putInt(width * height * 3) // biSizeImage (advisory for MJPG)
      bb.putInt(0).putInt(0).putInt(0).putInt(0) // ppm/clr fields
      chunk("strf", bb.array())
    }

    val hdrl = list("hdrl", avih, list("strl", strh, strf))

    val frameChunks = frames.map(f => chunk("00dc", f))
    val movi = list("movi", frameChunks: _*)

    // idx1 — offsets are relative to the position of the 'movi' fourcc
    // (the common convention): first chunk id sits at offset 4
    val idx1 = {
      val bb = ByteBuffer.allocate(16 * frames.length).order(ByteOrder.LITTLE_ENDIAN)
      var off = 4
      frames.foreach { f =>
        bb.put("00dc".getBytes(US_ASCII)).putInt(AviifKeyframe)
        bb.putInt(off).putInt(f.length)
        off += 8 + f.length + (f.length % 2)
      }
      chunk("idx1", bb.array())
    }

    val body = new ByteArrayOutputStream()
    body.write("AVI ".getBytes(US_ASCII))
    body.write(hdrl)
    body.write(movi)
    body.write(idx1)
    val payload = body.toByteArray
    val out = ByteBuffer.allocate(8 + payload.length).order(ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes(US_ASCII)).putInt(payload.length).put(payload)
    out.array()
  }

  /** Header-only sniff: RIFF walk that STOPS once the `hdrl` list is
    * parsed — `movi` (and every frame's entropy data) is never visited, so
    * the cost is truly O(header) per row vs O(pixels) for a decode. The
    * flip side of stopping early: the sniff reports the DECLARED frame
    * count and does not cross-validate it against the movi chunk list —
    * that stale-header check belongs to [[decodeFrames]], which walks
    * everything. A file whose frame data is truncated but whose header
    * parses clean sniffs fine (by design: the sniff is the cheap filter,
    * the decode is the arbiter).
    */
  def info(bytes: Array[Byte]): Info =
    try {
      val (inf, _) = walk(bytes, decodeFramesToo = false)
      inf
    } catch {
      case _: ArrayIndexOutOfBoundsException | _: java.nio.BufferUnderflowException =>
        throw new IllegalArgumentException("truncated AVI: chunk walk past end")
    }

  /** The frame chunk map: container info plus (offset, size) of every
    * stream-0 video chunk's payload, in movi order — the FULL container
    * walk (dwTotalFrames cross-checked) with zero entropy decode. This is
    * the split map for range-parallel decode of one huge capture file:
    * MJPEG frames are independent, so each (offset, size) decodes in any
    * task — see [[Multimodal.splitAviFrameFeatures]].
    */
  def frameOffsets(bytes: Array[Byte]): (Info, Array[(Int, Int)]) =
    try walk(bytes, decodeFramesToo = true)
    catch {
      case _: ArrayIndexOutOfBoundsException | _: java.nio.BufferUnderflowException =>
        throw new IllegalArgumentException("truncated AVI: chunk walk past end")
    }

  /** Decode ONE frame chunk independently (the range-parallel unit),
    * validating its dims against the container header.
    */
  def decodeFrameAt(bytes: Array[Byte], offset: Int, size: Int, inf: Info, frame: Long): BmpCodec.Bmp = {
    require(offset >= 0 && size >= 0 && offset.toLong + size <= bytes.length,
      s"frame chunk ($offset, $size) overruns ${bytes.length}-byte payload")
    val img = JpegCodec.decode(java.util.Arrays.copyOfRange(bytes, offset, offset + size))
    require(img.width == inf.width && img.height == inf.height,
      s"corrupt AVI: frame $frame is ${img.width}x${img.height}, " +
        s"header says ${inf.width}x${inf.height}")
    img
  }

  /** Decode every MJPEG frame in stream 0 (`00dc`/`00db` chunks, in movi
    * order) into the shared pixel frame. Loud on anything structurally
    * wrong: bad magic, truncated chunks, missing headers, a non-MJPEG
    * video stream, frame dims disagreeing with the container header, or a
    * frame count disagreeing with `dwTotalFrames`.
    */
  def decodeFrames(bytes: Array[Byte]): Seq[BmpCodec.Bmp] = {
    val (inf, offs) = frameOffsets(bytes)
    offs.iterator.zipWithIndex.map { case ((o, s), f) =>
      decodeFrameAt(bytes, o, s, inf, f.toLong)
    }.toSeq
  }

  private def walk(
      bytes: Array[Byte],
      decodeFramesToo: Boolean): (Info, Array[(Int, Int)]) = {
    require(bytes != null && bytes.length >= 12, "not an AVI: too short")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, US_ASCII)
    }
    require(fourcc() == "RIFF", "not an AVI: missing RIFF magic")
    val riffSize = bb.getInt
    require(riffSize >= 4 && riffSize <= bytes.length - 8,
      s"corrupt AVI: RIFF size $riffSize")
    require(fourcc() == "AVI ", "not an AVI: missing 'AVI ' form type")
    val riffEnd = 8 + riffSize

    var inf: Info = null
    var handlerOk = false
    val offsets = Array.newBuilder[(Int, Int)]
    var nFrames = 0

    // parse the hdrl LIST body: avih + nested strl(strh, strf)
    def parseHdrl(end: Int): Unit = {
      while (bb.position() + 8 <= end) {
        val id = fourcc()
        val size = bb.getInt
        // Long arithmetic: a crafted size near Int.MaxValue overflows
        // `position + size` negative and would slip past an Int check
        require(size >= 0 && bb.position().toLong + size <= end,
          s"truncated AVI: '$id' chunk overruns hdrl")
        val next = bb.position() + size + (size % 2)
        id match {
          case "avih" =>
            require(size >= 56, s"corrupt AVI: avih size $size")
            val usPerFrame = bb.getInt
            bb.getInt; bb.getInt; bb.getInt // maxBytesPerSec, padding, flags
            val total = bb.getInt
            bb.getInt // initialFrames
            val streams = bb.getInt
            bb.getInt // suggestedBufferSize
            val w = bb.getInt
            val h = bb.getInt
            require(w > 0 && h > 0, s"corrupt AVI: dimensions ${w}x$h")
            require(total >= 0, s"corrupt AVI: total frames $total")
            require(streams >= 1, s"corrupt AVI: $streams streams")
            inf = Info(w, h, usPerFrame, total)
          case "LIST" =>
            val form = fourcc()
            if (form == "strl") parseStrl(next) // other lists (odml) skipped
          case _ => // skip unknown header chunks
        }
        bb.position(next)
      }
    }
    def parseStrl(end: Int): Unit = {
      // only the FIRST stream's header matters for stream 0; a file with
      // extra streams (audio) keeps its video contract as long as stream 0
      // is vids/MJPG — strh order defines stream numbering per the spec
      while (bb.position() + 8 <= end) {
        val id = fourcc()
        val size = bb.getInt
        require(size >= 0 && bb.position().toLong + size <= end,
          s"truncated AVI: '$id' chunk overruns strl")
        val next = bb.position() + size + (size % 2)
        if (id == "strh" && !handlerOk) {
          require(size >= 8, s"corrupt AVI: strh size $size")
          val fccType = fourcc()
          val fccHandler = fourcc()
          if (fccType == "vids") {
            require(fccHandler == "MJPG" || fccHandler == "mjpg" ||
              fccHandler == "dmb1",
              s"unsupported AVI video codec '$fccHandler' (MJPEG only)")
            handlerOk = true
          }
        }
        bb.position(next)
      }
    }
    def parseMovi(end: Int): Unit = {
      require(inf != null, "corrupt AVI: movi before hdrl/avih")
      require(handlerOk, "corrupt AVI: movi before a vids/MJPG stream header")
      while (bb.position() + 8 <= end) {
        val id = fourcc()
        val size = bb.getInt
        require(size >= 0 && bb.position().toLong + size <= end,
          s"truncated AVI: '$id' chunk overruns movi")
        val next = bb.position() + size + (size % 2)
        // stream-0 video data: compressed '00dc' (or '00db' from sloppy
        // muxers); 'rec ' grouping lists recurse so their members count.
        // Only the (offset, size) is recorded — decode happens per chunk
        // in [[decodeFrameAt]], which is what lets one file's frames
        // split across tasks.
        if (id == "00dc" || id == "00db") {
          nFrames += 1
          offsets += ((bb.position(), size))
        } else if (id == "LIST") {
          fourcc() // form tag ('rec ' grouping); members are plain chunks
          parseMovi(next)
        }
        bb.position(next)
      }
    }

    var done = false
    while (!done && bb.position() + 8 <= riffEnd.min(bytes.length)) {
      val id = fourcc()
      val size = bb.getInt
      require(size >= 0 && bb.position().toLong + size <= bytes.length,
        s"truncated AVI: '$id' chunk size $size overruns file")
      val next = bb.position() + size + (size % 2)
      if (id == "LIST") {
        val form = fourcc()
        form match {
          case "hdrl" =>
            parseHdrl(next)
            // header-only sniff: never visit movi (true O(header) cost)
            if (!decodeFramesToo && inf != null) done = true
          case "movi" => parseMovi(next)
          case _ => // INFO etc.
        }
      }
      // idx1 and unknown chunks: skipped (index is untrusted by design)
      bb.position(next.min(bytes.length))
    }

    require(inf != null, "not an AVI: no avih header")
    if (decodeFramesToo) {
      // the full walk is the arbiter: a stale header must not silently pass
      require(nFrames > 0, "corrupt AVI: no video frames in movi")
      require(inf.totalFrames == nFrames,
        s"corrupt AVI: header declares ${inf.totalFrames} frames, movi holds $nFrames")
    }
    (inf, offsets.result())
  }
}
