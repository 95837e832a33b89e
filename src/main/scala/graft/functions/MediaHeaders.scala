package graft.functions

/** Dependency-free, header-level media decoding — the real (non-stub)
  * core of the multimodal operators. No codec library exists on the
  * offline classpath, but container HEADERS are pure byte arithmetic:
  * this object sniffs magic bytes and parses the two formats whose
  * headers are self-describing without entropy decoding — BMP
  * (BITMAPFILEHEADER + BITMAPINFOHEADER, little-endian) and RIFF/WAVE
  * (chunk walk to `fmt ` / `data`). `probe` on any real .bmp or .wav
  * file yields its true dimensions / sample geometry; pixel and sample
  * CONTENT is never touched, which is exactly the contract a
  * 100 TB metadata-extraction pass wants (header reads are O(1) per
  * object; full decode is the expensive step you defer to the GPU
  * stage).
  *
  * Pure functions over byte arrays — driver-testable, and serializable
  * into `mapPartitions` closures with no per-row setup cost.
  */
object MediaHeaders {
  import Bytes.{be16, be32, le16, le32}


  sealed trait Probe extends Product with Serializable

  /** A parsed image header. `dataBytes` = the pixel-array byte count the
    * header declares (biSizeImage, or file size minus the pixel-array
    * offset when biSizeImage is left 0 as BI_RGB allows).
    */
  final case class ImageInfo(format: String, width: Int, height: Int,
      dataBytes: Int) extends Probe

  /** A parsed audio header. `nSamples` = frames in the `data` chunk per
    * the declared block alignment (channels × bits/8).
    */
  final case class AudioInfo(format: String, sampleRate: Int, channels: Int,
      bitsPerSample: Int, nSamples: Long) extends Probe

  /** Unrecognized or malformed payload — a DATUM, not an exception:
    * a 100 TB ingest must quarantine poison objects, not die on them.
    */
  final case class Unsupported(reason: String) extends Probe

  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  private val PngMagic: Array[Byte] =
    Array(0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  /** Sniff the magic bytes and dispatch to the right header parser. */
  def probe(payload: Array[Byte]): Probe =
    if (payload == null || payload.length < 12)
      Unsupported("payload shorter than any supported header")
    else if (payload(0) == 'B' && payload(1) == 'M') parseBmp(payload)
    else if (tag(payload, 0) == "RIFF" && tag(payload, 8) == "WAVE")
      parseWav(payload)
    else if (payload.length >= 8 &&
      (0 until 8).forall(i => payload(i) == PngMagic(i))) parsePng(payload)
    else if (payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F')
      parseGif(payload)
    else if ((payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8)
      parseJpeg(payload)
    else Unsupported("unrecognized magic bytes")

  /** SOF0–SOF15 minus the three non-frame C-row markers (DHT C4,
    * JPG C8, DAC CC) — any of these carries the frame geometry.
    */
  private def isSofMarker(m: Int): Boolean =
    m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

  /** EXIF probe: the JPEG marker walk composed with the TIFF
    * container — APP1 carries `Exif` + two NUL bytes followed by a
    * complete TIFF stream whose byte order is SELF-DECLARED and
    * independent of JPEG's big-endian segment framing (the one place
    * two endianness regimes nest in the same file). Returns the TIFF
    * slice plus the SOF geometry; malformed streams (no APP1, wrong
    * Exif tag, walk failures) quarantine as Left.
    */
  def exifProbe(b: Array[Byte])
      : Either[String, (Array[Byte], Int, Int)] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return Left("not a JPEG stream")
    var off = 2
    var exif: Array[Byte] = null
    while (off + 4 <= b.length) {
      if ((b(off) & 0xff) != 0xff)
        return Left(s"JPEG marker sync lost at offset $off")
      val marker = b(off + 1) & 0xff
      if (marker == 0xd9) return Left("JPEG reached EOI before any scan")
      val len = be16(b, off + 2)
      if (len < 2 || off + 2 + len > b.length)
        return Left(s"JPEG segment $marker overruns payload")
      if (marker == 0xe1 && exif == null) {
        // APP1 is a shared container: real camera JPEGs commonly carry
        // an XMP (or other) APP1 before or instead of Exif, so a
        // non-Exif APP1 is SKIPPED and the marker walk continues — only
        // "no Exif anywhere before SOF" quarantines (below)
        val tag = if (len >= 8) new String(b, off + 4, 4, "US-ASCII") else ""
        if (tag == "Exif" && b(off + 8) == 0 && b(off + 9) == 0)
          exif = java.util.Arrays.copyOfRange(b, off + 10, off + 2 + len)
      } else if (isSofMarker(marker)) {
        if (len < 8) return Left("JPEG SOF shorter than its geometry")
        val height = be16(b, off + 5)
        val width = be16(b, off + 7)
        if (exif == null) return Left("no Exif APP1 before the frame")
        return Right((exif, width, height))
      } else if (marker == 0xda) {
        return Left("JPEG SOS before any usable SOF")
      }
      off += 2 + len
    }
    Left("JPEG ended before SOF")
  }

  /** JPEG/JFIF: unlike every other format in this family the geometry
    * sits at NO fixed offset — segments (APP0, COM, DQT, …) carry
    * big-endian self-declared lengths and the Start-Of-Frame marker
    * lands wherever the preceding segments end, so decoding requires a
    * genuine marker WALK: sync on 0xFF, hop `length` bytes per
    * segment, read height/width from the first SOFn, and stop at SOS
    * (after which entropy-coded data runs to the trailing EOI;
    * `dataBytes` = that span). Standalone markers (RST/TEM) never
    * precede SOS in a baseline stream, so every hop has a length
    * field. Malformed streams — lost marker sync, a segment overruning
    * the payload, SOS before any SOF — quarantine as [[Unsupported]]
    * rows, never task failures.
    */
  private def parseJpeg(b: Array[Byte]): Probe = {
    var off = 2
    var width = -1
    var height = -1
    while (off + 4 <= b.length) {
      if ((b(off) & 0xff) != 0xff)
        return Unsupported(s"JPEG marker sync lost at offset $off")
      val marker = b(off + 1) & 0xff
      if (marker == 0xd9)
        return Unsupported("JPEG reached EOI before any scan")
      val len = be16(b, off + 2)
      if (len < 2 || off + 2 + len > b.length)
        return Unsupported(s"JPEG segment $marker at $off overruns payload (len=$len)")
      if (isSofMarker(marker)) {
        if (len < 8) return Unsupported("JPEG SOF shorter than its geometry fields")
        height = be16(b, off + 5)
        width = be16(b, off + 7)
      } else if (marker == 0xda) {
        if (width <= 0 || height <= 0)
          return Unsupported("JPEG SOS before any usable SOF")
        val dataStart = off + 2 + len
        val dataBytes = b.length - dataStart - 2 // entropy stream, minus EOI
        // dataBytes assumes a trailing EOI — verify it, else the count is
        // silently wrong (stream cut mid-scan, or trailing garbage).
        val hasEoi = b.length >= 2 &&
          (b(b.length - 2) & 0xff) == 0xff && (b(b.length - 1) & 0xff) == 0xd9
        return if (dataBytes < 0) Unsupported("JPEG truncated inside the scan header")
          else if (!hasEoi) Unsupported("JPEG scan does not end with EOI")
          else ImageInfo("jpeg", width, height, dataBytes)
      }
      off += 2 + len
    }
    Unsupported("JPEG ended before SOS")
  }

  /** GIF: 6-byte version magic (`GIF87a`/`GIF89a`), then the Logical
    * Screen Descriptor — canvas width and height as LITTLE-endian
    * uint16 at fixed offsets 6-7 and 8-9 (GIF is the one mainstream
    * big-name format that is little-endian throughout), then packed
    * flags / background index / aspect byte. Fixed-offset arithmetic,
    * no chunk walk needed for geometry — the simplest header in the
    * family. `dataBytes` = everything after the 13-byte header (global
    * color table + blocks; separating those would require walking the
    * block stream, which a geometry pass doesn't need).
    */
  private def parseGif(b: Array[Byte]): Probe = {
    if (b.length < 13) return Unsupported("GIF truncated before screen descriptor")
    val ver = new String(b, 0, 6, "US-ASCII")
    if (ver != "GIF87a" && ver != "GIF89a")
      return Unsupported(s"unknown GIF version '$ver'")
    val width = le16(b, 6)
    val height = le16(b, 8)
    if (width <= 0 || height <= 0)
      Unsupported(s"implausible GIF geometry w=$width h=$height")
    else ImageInfo("gif", width, height, b.length - 13)
  }

  /** PNG: 8-byte magic, then big-endian chunks (`length type data crc`).
    * IHDR (must come first per spec) carries width/height; the reported
    * data size is the total of the IDAT chunk lengths — the compressed
    * pixel stream, the only size a PNG header layer declares (the
    * decompressed size requires inflating, which a header pass never
    * does). CRCs are not validated — integrity is the storage layer's
    * job; a metadata scan wants geometry.
    */
  private def parsePng(b: Array[Byte]): Probe = {
    var off = 8
    var width = -1; var height = -1; var bitDepth = -1; var colorType = -1
    var idatBytes = 0L
    var sawIhdr = false
    while (off + 8 <= b.length) {
      val clen = be32(b, off)
      if (clen < 0 || off + 8 + clen.toLong + 4 > b.length)
        return Unsupported(s"PNG chunk at $off overruns payload (len=$clen)")
      val ctype = tag(b, off + 4)
      if (ctype == "IHDR") {
        if (clen < 13) return Unsupported("PNG IHDR shorter than 13 bytes")
        width = be32(b, off + 8)
        height = be32(b, off + 12)
        bitDepth = b(off + 16) & 0xff
        colorType = b(off + 17) & 0xff
        sawIhdr = true
      } else if (ctype == "IDAT") idatBytes += clen
      off += 8 + clen + 4 // skip data + CRC
    }
    if (!sawIhdr) Unsupported("PNG has no IHDR chunk")
    else if (width <= 0 || height <= 0)
      Unsupported(s"implausible PNG geometry w=$width h=$height")
    else ImageInfo("png", width, height,
      if (idatBytes <= Int.MaxValue) idatBytes.toInt else Int.MaxValue)
  }

  /** BMP: 14-byte BITMAPFILEHEADER then a DIB header (≥40-byte
    * BITMAPINFOHEADER assumed — every header revision since Windows 3.0
    * extends it compatibly). Negative biHeight means a top-down row
    * order; the image height is its magnitude.
    */
  private def parseBmp(b: Array[Byte]): Probe = {
    if (b.length < 54) return Unsupported("BMP truncated before DIB header")
    val dibSize = le32(b, 14)
    if (dibSize < 40)
      return Unsupported(s"unsupported DIB header size $dibSize (BITMAPCOREHEADER era)")
    val width = le32(b, 18)
    val heightRaw = le32(b, 22)
    val planes = le16(b, 26)
    if (width <= 0 || heightRaw == 0 || planes != 1)
      return Unsupported(s"implausible BMP geometry w=$width h=$heightRaw planes=$planes")
    val biSizeImage = le32(b, 34)
    val dataBytes =
      if (biSizeImage > 0) biSizeImage
      else le32(b, 2) - le32(b, 10) // fileSize − pixel-array offset (BI_RGB may leave biSizeImage 0)
    ImageInfo("bmp", width, math.abs(heightRaw), dataBytes)
  }

  /** RIFF/WAVE: walk the chunk list for `fmt ` (sample geometry) and
    * `data` (payload size). Chunks are (4-byte id, 4-byte LE size,
    * size bytes, pad-to-even); unknown chunks are skipped — real .wav
    * files routinely carry LIST/INFO/fact chunks before data.
    */
  private def parseWav(b: Array[Byte]): Probe = {
    var off = 12
    var sampleRate, channels, bits = -1
    var dataSize = -1L
    while (off + 8 <= b.length && (sampleRate < 0 || dataSize < 0)) {
      val id = tag(b, off)
      val size = le32(b, off + 4)
      // strict content bound: the even-length PAD byte is not chunk
      // content, so a final unpadded chunk ends exactly at b.length and
      // still passes — but content past the end (e.g. a fmt chunk
      // truncated mid-field) must quarantine, not throw on a field read
      if (size < 0 || off + 8 + size.toLong > b.length)
        return Unsupported(s"WAV chunk '$id' overruns payload")
      if (id == "fmt " && size >= 16) {
        channels = le16(b, off + 10)
        sampleRate = le32(b, off + 12)
        bits = le16(b, off + 22)
      } else if (id == "data") {
        dataSize = size.toLong
      }
      off += 8 + size + (size & 1) // chunks pad to even length
    }
    if (sampleRate <= 0 || channels <= 0 || bits <= 0)
      Unsupported("WAV has no usable fmt chunk")
    else if (dataSize < 0) Unsupported("WAV has no data chunk")
    else {
      val blockAlign = channels.toLong * (bits / 8)
      val n = if (blockAlign > 0) dataSize / blockAlign else 0L
      AudioInfo("wav", sampleRate, channels, bits, n)
    }
  }

  /** Build a real BMP container around an arbitrary pixel-byte payload:
    * a spec-faithful 54-byte header (24-bit BI_RGB, biSizeImage = the
    * payload length) followed by the bytes. The FIXTURE side of the
    * decode round-trip — the test tables carry no real media, so the
    * operators wrap document bytes into genuine containers and the
    * decoder parses them exactly as it would a camera's output. The
    * pixel array is content-synthetic (not width×height×3 padded rows),
    * which header-level decoding never inspects.
    */
  def bmpWrap(pixels: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(54 + pixels.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
    bb.putInt(54 + pixels.length) // bfSize
    bb.putInt(0)                  // bfReserved1/2
    bb.putInt(54)                 // bfOffBits: pixel array right after headers
    bb.putInt(40)                 // biSize: BITMAPINFOHEADER
    bb.putInt(width)
    bb.putInt(height)
    bb.putShort(1)                // biPlanes
    bb.putShort(24)               // biBitCount: 24-bit, no palette
    bb.putInt(0)                  // biCompression: BI_RGB
    bb.putInt(pixels.length)      // biSizeImage
    bb.putInt(2835)               // biXPelsPerMeter (72 DPI)
    bb.putInt(2835)               // biYPelsPerMeter
    bb.putInt(0)                  // biClrUsed
    bb.putInt(0)                  // biClrImportant
    bb.put(pixels)
    bb.array()
  }

  /** A fully decoded 24-bit raster: `content` is the pixel bytes in
    * LOGICAL order — top row first, row-major, BGR per pixel (the BMP
    * channel order) — with the file's bottom-up storage and row padding
    * already undone. length == width*height*3 by construction.
    */
  final case class Raster(width: Int, height: Int, content: Array[Byte])

  /** Row stride of a 24-bit BMP: pixel rows are padded to a 4-byte
    * boundary on disk — the arithmetic both the writer and parser share.
    */
  def bmpStride(width: Int): Int = ((3 * width + 3) / 4) * 4

  /** Build a real 24-bit BMP whose pixel ARRAY is spec-faithful too —
    * unlike [[bmpWrap]] (an arbitrary byte payload behind an honest
    * header, enough for header-level decode), this writes a true
    * raster: `content` (logical top-down row-major BGR, length must be
    * width*height*3) is stored BOTTOM-UP with each row padded to a
    * 4-byte stride, as positive-height BI_RGB requires. Padding bytes
    * are 0xAA, NOT zero — a parser that leaks padding into pixel stats
    * gets loudly wrong sums instead of silently plausible ones.
    */
  def bmpWrapRaster(width: Int, height: Int,
      content: Array[Byte]): Array[Byte] = {
    require(content.length == width * height * 3,
      s"raster content must be w*h*3 = ${width * height * 3}, got ${content.length}")
    val stride = bmpStride(width)
    val pixels = Array.fill[Byte](stride * height)(0xaa.toByte)
    var r = 0
    while (r < height) {
      // logical row r (0 = top) lands at storage row (height-1-r)
      System.arraycopy(content, r * width * 3,
        pixels, (height - 1 - r) * stride, width * 3)
      r += 1
    }
    bmpWrap(pixels, width, height)
  }

  /** CONTENT-level BMP decode: parse the headers, then walk the pixel
    * array with the stride/padding/bottom-up arithmetic and return the
    * raster in logical order. Strict where content arithmetic demands
    * it — 24-bit BI_RGB only (palette or compressed forms would need a
    * codec), the declared geometry must fit inside the payload, and
    * both storage orders are honored (negative height = top-down, the
    * spec's opt-out of the bottom-up default). Malformed streams return
    * Left(reason) — quarantine data, never task failures.
    */
  def bmpRaster(b: Array[Byte]): Either[String, Raster] = {
    if (b == null || b.length < 54) return Left("BMP truncated before DIB header")
    if (b(0) != 'B' || b(1) != 'M') return Left("not a BMP magic")
    val dibSize = le32(b, 14)
    if (dibSize < 40) return Left(s"unsupported DIB header size $dibSize")
    val width = le32(b, 18)
    val heightRaw = le32(b, 22)
    val bits = le16(b, 28)
    val compression = le32(b, 30)
    if (width <= 0 || heightRaw == 0)
      return Left(s"implausible BMP geometry w=$width h=$heightRaw")
    if (bits != 24 || compression != 0)
      return Left(s"content decode needs 24-bit BI_RGB, got bits=$bits comp=$compression")
    val height = math.abs(heightRaw)
    val bottomUp = heightRaw > 0
    val off = le32(b, 10)
    val stride = bmpStride(width)
    if (off < 54 || off.toLong + stride.toLong * height > b.length)
      return Left(s"pixel array overruns payload (off=$off stride=$stride h=$height len=${b.length})")
    if (width.toLong * height * 3 > Int.MaxValue)
      return Left(s"raster too large to materialize (w=$width h=$height)")
    val content = new Array[Byte](width * height * 3)
    var r = 0
    while (r < height) {
      val storageRow = if (bottomUp) height - 1 - r else r
      System.arraycopy(b, off + storageRow * stride,
        content, r * width * 3, width * 3)
      r += 1
    }
    Right(Raster(width, height, content))
  }

  /** Build a real PNG container around arbitrary bytes: magic, a
    * spec-faithful IHDR (8-bit truecolor), ONE IDAT chunk holding the
    * payload, and IEND — the PNG twin of [[bmpWrap]]. Chunk CRCs are
    * written as zero (the parser, like any geometry pass, skips them);
    * the IDAT content is content-synthetic, not a real zlib stream.
    */
  def pngWrap(data: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 25 + 12 + data.length + 12)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(PngMagic)
    bb.putInt(13)                          // IHDR length
    bb.put("IHDR".getBytes("US-ASCII"))
    bb.putInt(width).putInt(height)
    bb.put(8.toByte)                       // bit depth
    bb.put(2.toByte)                       // color type: truecolor
    bb.put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
    bb.putInt(0)                           // IHDR CRC (unvalidated)
    bb.putInt(data.length)
    bb.put("IDAT".getBytes("US-ASCII"))
    bb.put(data)
    bb.putInt(0)                           // IDAT CRC
    bb.putInt(0)
    bb.put("IEND".getBytes("US-ASCII"))
    bb.putInt(0)                           // IEND CRC
    bb.array()
  }

  /** Build a real GIF89a container around arbitrary bytes: version
    * magic + Logical Screen Descriptor (LE uint16 dims, no global color
    * table, background 0, default aspect) followed by the payload —
    * the GIF twin of [[bmpWrap]]. Block structure inside the payload is
    * content-synthetic, which header-level decoding never inspects.
    */
  def gifWrap(data: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(13 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("GIF89a".getBytes("US-ASCII"))
    bb.putShort(width.toShort)
    bb.putShort(height.toShort)
    bb.put(0.toByte)  // packed: no global color table
    bb.put(0.toByte)  // background color index
    bb.put(0.toByte)  // pixel aspect ratio: default
    bb.put(data)
    bb.array()
  }

  /** Build a real baseline JPEG/JFIF stream around arbitrary bytes:
    * SOI, a spec-faithful APP0/JFIF segment, a COM segment of caller-
    * chosen length (this is what makes the fixture honest — the SOF
    * offset varies per row, so a fixed-offset read cannot fake the
    * marker walk), a DQT, the SOF0 carrying the declared geometry,
    * SOS, the payload as the "entropy-coded" stream, and EOI. The
    * stream is content-synthetic (no real Huffman data), which a
    * header-level walk never inspects.
    */
  def jpegWrap(data: Array[Byte], width: Int, height: Int,
      commentLen: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer
      .allocate(2 + 18 + 4 + commentLen + 69 + 19 + 14 + data.length + 2)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    def marker(m: Int): Unit = { bb.put(0xff.toByte); bb.put(m.toByte) }
    marker(0xd8)                               // SOI
    marker(0xe0); bb.putShort(16)              // APP0, len 16
    bb.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    bb.put(1.toByte).put(1.toByte)             // version 1.1
    bb.put(0.toByte)                           // density units: none
    bb.putShort(1).putShort(1)                 // x/y density
    bb.put(0.toByte).put(0.toByte)             // no thumbnail
    marker(0xfe); bb.putShort((2 + commentLen).toShort) // COM
    var i = 0
    while (i < commentLen) { bb.put('x'.toByte); i += 1 }
    marker(0xdb); bb.putShort(67)              // DQT: pq/tq + 64 entries
    bb.put(0.toByte)
    i = 0
    while (i < 64) { bb.put(1.toByte); i += 1 }
    marker(0xc0); bb.putShort(17)              // SOF0
    bb.put(8.toByte)                           // precision
    bb.putShort(height.toShort).putShort(width.toShort)
    bb.put(3.toByte)                           // 3 components
    (1 to 3).foreach { c =>
      bb.put(c.toByte).put(0x11.toByte).put(0.toByte)
    }
    marker(0xda); bb.putShort(12)              // SOS
    bb.put(3.toByte)
    (1 to 3).foreach { c => bb.put(c.toByte).put(0.toByte) }
    bb.put(0.toByte).put(63.toByte).put(0.toByte) // ss/se/ah-al
    bb.put(data)                               // "entropy-coded" stream
    marker(0xd9)                               // EOI
    bb.array()
  }

  /** CONTENT-level WAV decode: walk the RIFF chunks to `fmt ` and
    * `data` (same strict bounds as the header probe), then parse the
    * data chunk as little-endian 16-bit PCM samples. 16-bit PCM only —
    * the one format whose samples are plain int16 arithmetic; 8/24/32
    * bit and compressed codecs quarantine as Left, the family's
    * datum-not-exception contract. Returns (sampleRate, channels,
    * samples) with samples interleaved exactly as stored.
    */
  def wavSamples(b: Array[Byte])
      : Either[String, (Int, Int, Array[Short])] = {
    if (b == null || b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE")
      return Left("not a RIFF/WAVE payload")
    var off = 12
    var sampleRate, channels, bits = -1
    var dataOff = -1
    var dataSize = -1
    while (off + 8 <= b.length && (sampleRate < 0 || dataOff < 0)) {
      val id = tag(b, off)
      val size = le32(b, off + 4)
      if (size < 0 || off + 8 + size.toLong > b.length)
        return Left(s"WAV chunk '$id' overruns payload")
      if (id == "fmt " && size >= 16) {
        channels = le16(b, off + 10)
        sampleRate = le32(b, off + 12)
        bits = le16(b, off + 22)
      } else if (id == "data") {
        dataOff = off + 8
        dataSize = size
      }
      off += 8 + size + (size & 1)
    }
    if (sampleRate <= 0 || channels <= 0) return Left("WAV has no usable fmt chunk")
    if (dataOff < 0) return Left("WAV has no data chunk")
    if (bits != 16) return Left(s"sample decode needs 16-bit PCM, got $bits-bit")
    if (dataSize % 2 != 0) return Left("odd data-chunk size for 16-bit PCM")
    val samples = new Array[Short](dataSize / 2)
    var i = 0
    while (i < samples.length) {
      samples(i) = ((b(dataOff + 2 * i) & 0xff) |
        (b(dataOff + 2 * i + 1) << 8)).toShort
      i += 1
    }
    Right((sampleRate, channels, samples))
  }

  /** Build a real RIFF/WAVE container around arbitrary sample bytes
    * (PCM fmt chunk + data chunk) — the audio twin of [[bmpWrap]].
    */
  def wavWrap(samples: Array[Byte], sampleRate: Int, channels: Int,
      bitsPerSample: Int): Array[Byte] = {
    val dataLen = samples.length
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen + (dataLen & 1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val blockAlign = channels * (bitsPerSample / 8)
    bb.put("RIFF".getBytes("US-ASCII"))
    bb.putInt(36 + dataLen + (dataLen & 1))
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII"))
    bb.putInt(16)                        // PCM fmt chunk size
    bb.putShort(1)                       // audioFormat: PCM
    bb.putShort(channels.toShort)
    bb.putInt(sampleRate)
    bb.putInt(sampleRate * blockAlign)   // byteRate
    bb.putShort(blockAlign.toShort)
    bb.putShort(bitsPerSample.toShort)
    bb.put("data".getBytes("US-ASCII"))
    bb.putInt(dataLen)
    bb.put(samples)
    if ((dataLen & 1) == 1) bb.put(0.toByte) // RIFF even-length pad
    bb.array()
  }
}
