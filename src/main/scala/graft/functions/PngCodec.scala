package graft.functions

/** Content-level PNG: the DEFLATE member of the decode family. Decode
  * walks the PNG chunk structure (CRC-32 verified), unwraps the zlib
  * stream (RFC 1950, Adler-32 verified), inflates its raw DEFLATE body
  * through [[Bytes.inflate]] (the JDK's `Inflater`) and UNFILTERS each
  * scanline (all five PNG filter types: None/Sub/Up/Average/Paeth).
  * BMP walked raw bytes, GIF decompressed LZW, JPEG entropy-decoded
  * Huffman+IDCT; PNG completes the arc with the dictionary-coder
  * format every real crawl corpus actually carries.
  *
  * The FIXTURE side compresses with `java.util.zip.Deflater`, which
  * emits dynamic-Huffman blocks. The encoder applies a DIFFERENT filter
  * type per scanline (row % 5) so one decode touches every unfilter
  * branch.
  *
  * Scope (documented): 8-bit grayscale (color type 0), no interlace,
  * single IDAT handled plus multi-IDAT concatenation per spec. Streams
  * outside the subset — or failing either checksum — quarantine as
  * Left, the family's datum-not-exception contract.
  */
object PngCodec {

  final case class PngRaster(width: Int, height: Int, pixels: Array[Byte])

  private val Signature: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  // ---------------------------------------------------------- encoder

  private def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(12 + body.length)
    out.putInt(body.length)
    val tb = tag.getBytes("US-ASCII")
    out.put(tb).put(body)
    val crc = new java.util.zip.CRC32()
    crc.update(tb)
    crc.update(body)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  private def filterRow(ftype: Int, row: Array[Byte], prev: Array[Byte])
      : Array[Byte] = {
    val w = row.length
    val out = new Array[Byte](w)
    var x = 0
    while (x < w) {
      val raw = row(x) & 0xff
      val a = if (x > 0) row(x - 1) & 0xff else 0          // left
      val b = if (prev != null) prev(x) & 0xff else 0      // up
      val c = if (x > 0 && prev != null) prev(x - 1) & 0xff else 0 // up-left
      val v = ftype match {
        case 0 => raw
        case 1 => raw - a
        case 2 => raw - b
        case 3 => raw - (a + b) / 2
        case 4 =>
          val p = a + b - c
          val pa = math.abs(p - a); val pb = math.abs(p - b)
          val pc = math.abs(p - c)
          val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          raw - pred
      }
      out(x) = (v & 0xff).toByte
      x += 1
    }
    out
  }

  /** Build a real 8-bit grayscale PNG: per-row filter type = row % 5
    * (every unfilter branch runs on every image taller than 4 rows),
    * zlib-compressed via the JVM's Deflater (dynamic-Huffman blocks).
    */
  def pngWrapGray(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height,
      s"need w*h=${width * height} pixels, got ${pixels.length}")
    val raw = new java.io.ByteArrayOutputStream()
    var prev: Array[Byte] = null
    var y = 0
    while (y < height) {
      val row = java.util.Arrays.copyOfRange(pixels, y * width, (y + 1) * width)
      val f = y % 5
      raw.write(f)
      raw.write(filterRow(f, row, prev), 0, width)
      prev = row
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw.toByteArray)
    deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!deflater.finished()) {
      val n = deflater.deflate(tmp)
      zbuf.write(tmp, 0, n)
    }
    deflater.end()

    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(width).putInt(height)
    ihdr.put(8.toByte)  // bit depth
    ihdr.put(0.toByte)  // color type: grayscale
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature, 0, Signature.length)
    out.write(chunk("IHDR", ihdr.array()), 0, 12 + 13)
    val idat = chunk("IDAT", zbuf.toByteArray)
    out.write(idat, 0, idat.length)
    out.write(chunk("IEND", Array.empty[Byte]), 0, 12)
    out.toByteArray
  }

  // ----------------------------------------------------------- decoder

  private def unfilterRow(ftype: Int, cur: Array[Byte], prev: Array[Byte])
      : Either[String, Unit] = {
    val w = cur.length
    var x = 0
    ftype match {
      case 0 => ()
      case 1 =>
        x = 1
        while (x < w) { cur(x) = ((cur(x) & 0xff) + (cur(x - 1) & 0xff)).toByte; x += 1 }
      case 2 =>
        if (prev != null) {
          while (x < w) { cur(x) = ((cur(x) & 0xff) + (prev(x) & 0xff)).toByte; x += 1 }
        }
      case 3 =>
        while (x < w) {
          val a = if (x > 0) cur(x - 1) & 0xff else 0
          val b = if (prev != null) prev(x) & 0xff else 0
          cur(x) = ((cur(x) & 0xff) + (a + b) / 2).toByte
          x += 1
        }
      case 4 =>
        while (x < w) {
          val a = if (x > 0) cur(x - 1) & 0xff else 0
          val b = if (prev != null) prev(x) & 0xff else 0
          val c = if (x > 0 && prev != null) prev(x - 1) & 0xff else 0
          val p = a + b - c
          val pa = math.abs(p - a); val pb = math.abs(p - b)
          val pc = math.abs(p - c)
          val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          cur(x) = ((cur(x) & 0xff) + pred).toByte
          x += 1
        }
      case _ => return Left(s"invalid filter type $ftype")
    }
    Right(())
  }

  /** Decode an 8-bit grayscale PNG back to pixels: chunk walk with
    * CRC-32 verification, multi-IDAT concatenation, zlib unwrap with
    * Adler-32 verification, [[Bytes.inflate]], and per-row
    * unfiltering. Left(reason) outside the subset or on corruption.
    */
  def pngRaster(b: Array[Byte]): Either[String, PngRaster] = {
    if (b == null || b.length < 8 + 25) return Left("PNG truncated before IHDR")
    var i = 0
    while (i < 8) {
      if (b(i) != Signature(i)) return Left("not a PNG")
      i += 1
    }
    var off = 8
    var width = 0
    var height = 0
    var seenIhdr = false
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      if (off + 12 > b.length) return Left("chunk header overruns payload")
      val len = Bytes.be32(b, off)
      // Long arithmetic: a hostile 0x7FFFFFF0-ish length field would
      // wrap an Int sum negative and pass the bounds check, then crash
      // in crc.update — the wavSamples guard, ported
      if (len < 0 || off + 12 + len.toLong > b.length)
        return Left("chunk overruns payload")
      val tag = new String(b, off + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(b, off + 4, 4 + len)
      if (crc.getValue.toInt != Bytes.be32(b, off + 8 + len))
        return Left(s"CRC mismatch in $tag")
      tag match {
        case "IHDR" =>
          width = Bytes.be32(b, off + 8)
          height = Bytes.be32(b, off + 12)
          if (width <= 0 || height <= 0) return Left("empty PNG geometry")
          // cap the pixel count BEFORE any allocation: IHDR dims are
          // 32-bit, and (width+1)*height in Int wraps for hostile
          // values — either a NegativeArraySizeException or a tiny
          // wrapped 'expected' misreported as truncation
          if ((width.toLong + 1) * height > (1L << 28))
            return Left("implausible PNG geometry for the content subset")
          if ((b(off + 16) & 0xff) != 8) return Left("non-8-bit depth unsupported")
          if ((b(off + 17) & 0xff) != 0) return Left("non-grayscale color type unsupported")
          if ((b(off + 20) & 0xff) != 0) return Left("interlace unsupported")
          seenIhdr = true
        case "IDAT" => idat.write(b, off + 8, len)
        case "IEND" => done = true
        case _ => () // ancillary chunks: skip
      }
      off += 12 + len
    }
    if (!seenIhdr) return Left("no IHDR")
    val z = idat.toByteArray
    if (z.length < 6) return Left("zlib stream truncated")
    val cmf = z(0) & 0xff
    val flg = z(1) & 0xff
    if ((cmf & 0x0f) != 8) return Left("non-deflate zlib method")
    if ((cmf * 256 + flg) % 31 != 0) return Left("zlib header check failed")
    if ((flg & 0x20) != 0) return Left("preset dictionary unsupported")
    val expected = (width + 1) * height // +1 filter byte per row
    Bytes.inflate(z, 2, z.length - 4, expected, expected) match {
      case Left(err) => Left(err)
      case Right((raw, _)) =>
        val adler = new java.util.zip.Adler32()
        adler.update(raw)
        val stored = Bytes.be32(z, z.length - 4)
        if (adler.getValue.toInt != stored) return Left("Adler-32 mismatch")
        val pixels = new Array[Byte](width * height)
        var prev: Array[Byte] = null
        var y = 0
        while (y < height) {
          val f = raw(y * (width + 1)) & 0xff
          val row = java.util.Arrays.copyOfRange(raw,
            y * (width + 1) + 1, (y + 1) * (width + 1))
          unfilterRow(f, row, prev) match {
            case Left(e) => return Left(e)
            case Right(_) => ()
          }
          System.arraycopy(row, 0, pixels, y * width, width)
          prev = row
          y += 1
        }
        Right(PngRaster(width, height, pixels))
    }
  }
}
