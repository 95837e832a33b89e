package graft.functions

/** Container-level VIDEO: a dependency-free RIFF-AVI/MJPEG codec — the
  * video member of the multimodal decode family (BMP walked raw bytes,
  * GIF decompressed LZW, JPEG decoded the entropy layer, WAV parsed
  * PCM; AVI composes the RIFF chunk grammar WAV introduced with the
  * JPEG content codec: each '00dc' chunk in the 'movi' list is a
  * complete baseline JPEG that [[JpegCodec]] decodes).
  *
  * The encoder exists for the fixture side (the test tables carry no
  * media); the decoder is the operator side and earns the frames by
  * walking the real container grammar: RIFF size header, the 'hdrl'
  * LIST with the 56-byte 'avih' main header (micro-sec/frame, total
  * frames, geometry), the 'strl' LIST whose 'strh' declares the
  * 'vids'/'MJPG' stream and whose 'strf' is a BITMAPINFOHEADER, the
  * 'movi' LIST of word-aligned '00dc' frame chunks, and the 'idx1'
  * index whose entries are offsets relative to the 'movi' list data.
  *
  * Scope (honest): single video stream, MJPG handler, full-frame
  * '00dc' chunks. Streams outside the subset (audio streams, 'rec '
  * groupings, OpenDML extensions) quarantine as Left — the
  * datum-not-exception contract of the family.
  */
object AviCodec {

  /** One parsed AVI: geometry + timing from the headers and every
    * frame's still-encoded JPEG payload in stream order. Frame decode
    * is the caller's choice — sampling strategies drop payloads
    * BEFORE paying the JPEG decode, which is the point of the split.
    */
  final case class AviVideo(width: Int, height: Int, usecPerFrame: Int,
      nFrames: Int, frames: Array[Array[Byte]])

  /** The zero-copy form: frame payloads as (offset, length) SPANS into
    * the original container bytes, materialized per frame only on
    * [[AviSpans.frame]]. The 100× probe forced this split: the
    * materializing walk copied every '00dc' payload including the
    * frames the sampler then dropped — at 500k docs the dead copies
    * were pure allocation pressure. A sampler over spans copies
    * NOTHING for unsampled frames.
    */
  final case class AviSpans(width: Int, height: Int, usecPerFrame: Int,
      nFrames: Int, payload: Array[Byte], offsets: Array[Int],
      lengths: Array[Int]) {
    def frame(i: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(payload, offsets(i), offsets(i) + lengths(i))
  }

  // ---------------------------------------------------------- encoder

  /** Build a real AVI around already-encoded MJPEG frames. Chunk
    * sizes, word alignment, header field layout and the idx1 index all
    * follow the classic (pre-OpenDML) AVI RIFF form.
    */
  def aviWrapMjpeg(width: Int, height: Int, usecPerFrame: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.nonEmpty, "an AVI needs at least one frame")
    require(width > 0 && height > 0 && usecPerFrame > 0)
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    def fcc(s: String): Unit = {
      require(s.length == 4); s.foreach(c => out.write(c.toInt & 0xff))
    }
    val maxFrame = frames.map(_.length).max

    // ---- hdrl payload (built first so LIST sizes are exact)
    // avih: 56-byte main header
    val hdrl = new java.io.ByteArrayOutputStream()
    def h16(v: Int): Unit = { hdrl.write(v & 0xff); hdrl.write((v >> 8) & 0xff) }
    def h32(v: Int): Unit = { h16(v & 0xffff); h16((v >>> 16) & 0xffff) }
    def hfcc(s: String): Unit = s.foreach(c => hdrl.write(c.toInt & 0xff))
    hfcc("avih"); h32(56)
    h32(usecPerFrame)            // dwMicroSecPerFrame
    h32(0)                       // dwMaxBytesPerSec (advisory)
    h32(0)                       // dwPaddingGranularity
    h32(0x10)                    // dwFlags: AVIF_HASINDEX
    h32(frames.length)           // dwTotalFrames
    h32(0)                       // dwInitialFrames
    h32(1)                       // dwStreams
    h32(maxFrame)                // dwSuggestedBufferSize
    h32(width); h32(height)
    h32(0); h32(0); h32(0); h32(0) // dwReserved[4]
    // strl LIST: strh + strf
    val strl = new java.io.ByteArrayOutputStream()
    def s16(v: Int): Unit = { strl.write(v & 0xff); strl.write((v >> 8) & 0xff) }
    def s32(v: Int): Unit = { s16(v & 0xffff); s16((v >>> 16) & 0xffff) }
    def sfcc(s: String): Unit = s.foreach(c => strl.write(c.toInt & 0xff))
    sfcc("strh"); s32(56)
    sfcc("vids"); sfcc("MJPG")
    s32(0)                       // dwFlags
    s16(0); s16(0)               // wPriority, wLanguage
    s32(0)                       // dwInitialFrames
    s32(usecPerFrame)            // dwScale
    s32(1000000)                 // dwRate: rate/scale = fps
    s32(0)                       // dwStart
    s32(frames.length)           // dwLength (in frames)
    s32(maxFrame)                // dwSuggestedBufferSize
    s32(-1)                      // dwQuality (default)
    s32(0)                       // dwSampleSize (0 = varying)
    s16(0); s16(0); s16(width); s16(height) // rcFrame
    sfcc("strf"); s32(40)        // BITMAPINFOHEADER
    s32(40); s32(width); s32(height)
    s16(1); s16(24)              // biPlanes, biBitCount
    sfcc("MJPG")                 // biCompression
    s32(width * height * 3)      // biSizeImage (nominal)
    s32(0); s32(0); s32(0); s32(0) // ppm x/y, clrUsed, clrImportant
    hfcc("LIST"); h32(4 + strl.size()); hfcc("strl")
    hdrl.write(strl.toByteArray)

    // ---- movi payload: word-aligned 00dc chunks (+ idx1 offsets,
    // conventionally relative to the start of the movi list DATA,
    // i.e. the 'movi' fourcc sits at offset 0)
    val movi = new java.io.ByteArrayOutputStream()
    def m16(v: Int): Unit = { movi.write(v & 0xff); movi.write((v >> 8) & 0xff) }
    def m32(v: Int): Unit = { m16(v & 0xffff); m16((v >>> 16) & 0xffff) }
    def mfcc(s: String): Unit = s.foreach(c => movi.write(c.toInt & 0xff))
    mfcc("movi")
    val offsets = frames.map { f =>
      val off = movi.size() - 4 // relative to just after 'movi'... see idx1
      mfcc("00dc"); m32(f.length)
      movi.write(f, 0, f.length)
      if (f.length % 2 == 1) movi.write(0) // pad to word boundary
      off
    }

    // ---- assemble RIFF (sizes computed from the finished buffers)
    val idx1Size = 16 * frames.length
    val hdrlBytes = hdrl.toByteArray
    val moviBytes = movi.toByteArray // starts with 'movi'
    val total = 4 + (8 + 4 + hdrlBytes.length) + (8 + moviBytes.length) +
      (8 + idx1Size)
    fcc("RIFF"); le32(total); fcc("AVI ")
    fcc("LIST"); le32(4 + hdrlBytes.length); fcc("hdrl")
    out.write(hdrlBytes)
    fcc("LIST"); le32(moviBytes.length) // includes the 'movi' fourcc
    out.write(moviBytes)
    fcc("idx1"); le32(idx1Size)
    frames.zip(offsets).foreach { case (f, off) =>
      fcc("00dc")
      le32(0x10)          // AVIIF_KEYFRAME
      le32(off + 4)       // offset of the '00dc' fourcc from 'movi' start
      le32(f.length)
    }
    out.toByteArray
  }

  // ---------------------------------------------------------- decoder

  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** Parse an AVI back to headers + MATERIALIZED frame payloads — the
    * convenience form for specs and full-decode callers; samplers
    * should use [[aviSpans]] and copy only what they keep.
    */
  def aviFrames(b: Array[Byte]): Either[String, AviVideo] =
    aviSpans(b).map(s => AviVideo(s.width, s.height, s.usecPerFrame,
      s.nFrames, Array.tabulate(s.nFrames)(s.frame)))

  /** Parse an AVI back to its headers + still-encoded frame SPANS.
    * Left(reason) for anything outside the documented subset or any
    * malformed stream — quarantine data, never task failures.
    */
  def aviSpans(b: Array[Byte]): Either[String, AviSpans] = {
    if (b == null || b.length < 24) return Left("AVI truncated before RIFF header")
    if (fourcc(b, 0) != "RIFF") return Left("not a RIFF stream")
    val riffSize = Bytes.le32(b, 4)
    if (riffSize < 4 || 8L + riffSize > b.length)
      return Left("RIFF size overruns the payload")
    if (fourcc(b, 8) != "AVI ") return Left("RIFF form is not AVI")

    var width = 0
    var height = 0
    var usec = 0
    var declaredFrames = -1
    var strhFrames = -1
    var sawMjpg = false
    var vidStreams = 0
    val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val lens = scala.collection.mutable.ArrayBuffer.empty[Int]

    /** Walk the chunks of [off, end); LIST payloads recurse. */
    def walk(off0: Int, end: Int, inMovi: Boolean): Option[String] = {
      var off = off0
      while (off < end) {
        if (off + 8 > end) return Some("chunk header overruns its parent")
        val id = fourcc(b, off)
        val len = Bytes.le32(b, off + 4)
        if (len < 0 || off + 8 + len.toLong > end)
          return Some(s"chunk '$id' overruns its parent")
        val data = off + 8
        id match {
          case "LIST" =>
            if (len < 4) return Some("LIST too small for a type fourcc")
            val kind = fourcc(b, data)
            val err = walk(data + 4, data + len, inMovi = kind == "movi")
            if (err.isDefined) return err
          case "avih" =>
            if (len < 56) return Some("avih shorter than 56 bytes")
            usec = Bytes.le32(b, data)
            declaredFrames = Bytes.le32(b, data + 16)
            if (Bytes.le32(b, data + 24) != 1)
              return Some("multi-stream AVIs are outside the subset")
            width = Bytes.le32(b, data + 32)
            height = Bytes.le32(b, data + 36)
          case "strh" =>
            if (len < 56) return Some("strh shorter than 56 bytes")
            val fccType = fourcc(b, data)
            if (fccType == "vids") {
              vidStreams += 1
              sawMjpg = fourcc(b, data + 4) == "MJPG"
              strhFrames = Bytes.le32(b, data + 32)
            } else return Some(s"non-video stream '$fccType' outside the subset")
          case "00dc" if inMovi =>
            if (len == 0) return Some("empty frame chunk")
            offs += data
            lens += len
          case _ => () // strf/idx1/JUNK/unknown: sizes already validated
        }
        off = data + len + (len & 1) // word alignment
      }
      None
    }

    walk(12, 8 + riffSize, inMovi = false) match {
      case Some(err) => Left(err)
      case None =>
        if (width <= 0 || height <= 0) Left("missing or empty avih geometry")
        else if (usec <= 0) Left("missing frame timing")
        else if (vidStreams != 1) Left("need exactly one video stream")
        else if (!sawMjpg) Left("video stream is not MJPG")
        else if (offs.isEmpty) Left("no frame chunks in movi")
        else if (declaredFrames != offs.length)
          Left(s"avih declares $declaredFrames frames, movi has ${offs.length}")
        else if (strhFrames != offs.length)
          Left(s"strh declares $strhFrames frames, movi has ${offs.length}")
        else Right(AviSpans(width, height, usec, offs.length, b,
          offs.toArray, lens.toArray))
    }
  }
}
