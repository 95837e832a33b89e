package graft.functions

/** Content-level PNG: the DEFLATE member of the decode family — a
  * dependency-free INFLATE (RFC 1951: stored, fixed-Huffman and
  * dynamic-Huffman blocks, LZ77 length/distance back-references,
  * LSB-first bit packing) inside a zlib wrapper (RFC 1950, Adler-32
  * verified) inside PNG chunk structure (CRC-32 verified), followed by
  * scanline UNFILTERING (all five PNG filter types: None/Sub/Up/
  * Average/Paeth). BMP walked raw bytes, GIF decompressed LZW, JPEG
  * entropy-decoded Huffman+IDCT; PNG completes the arc with the
  * dictionary-coder format every real crawl corpus actually carries.
  *
  * The FIXTURE side compresses with `java.util.zip.Deflater` — the
  * JVM's own zlib, no new dependency — which emits dynamic-Huffman
  * blocks, so the decoder's full RFC 1951 path (code-length codes,
  * 16/17/18 repeats, canonical table building) is genuinely exercised
  * by every payload, and the codec spec cross-checks the hand-written
  * inflate against `java.util.zip.Inflater` on arbitrary data. The
  * encoder applies a DIFFERENT filter type per scanline (row % 5) so
  * one decode touches every unfilter branch.
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

  // ---------------------------------------------------------- inflate

  /** LSB-first bit reader over the zlib-stripped deflate stream. */
  private final class BitReader(b: Array[Byte], var off: Int, val end: Int) {
    private var cur = 0L
    private var n = 0
    /** -1 on exhaustion. */
    def bits(k: Int): Int = {
      while (n < k) {
        if (off >= end) return -1
        cur |= (b(off) & 0xffL) << n
        n += 8
        off += 1
      }
      val v = (cur & ((1L << k) - 1)).toInt
      cur >>>= k
      n -= k
      v
    }
    def alignByte(): Unit = { cur = 0; n = 0 }
  }

  /** Canonical Huffman decode table from code lengths (RFC 1951 3.2.2):
    * same mincode/maxcode walk as the JPEG tables, but deflate packs
    * each code MSB-first while the byte stream is LSB-first — so the
    * decoder pulls one bit at a time and shifts it in from the right.
    */
  private final class HuffTable(lengths: Array[Int]) {
    private val maxLen = if (lengths.isEmpty) 0 else lengths.max
    val minCode = new Array[Int](maxLen + 1)
    val maxCode = new Array[Int](maxLen + 1)
    val valPtr = new Array[Int](maxLen + 1)
    val sorted: Array[Int] = {
      // symbols ordered by (length, symbol) — canonical order
      val bySym = lengths.zipWithIndex.filter(_._1 > 0)
      bySym.sortBy { case (l, s) => (l, s) }.map(_._2)
    }
    locally {
      val counts = new Array[Int](maxLen + 1)
      lengths.foreach(l => if (l > 0) counts(l) += 1)
      var code = 0
      var k = 0
      var l = 1
      while (l <= maxLen) {
        if (counts(l) == 0) maxCode(l) = -1
        else {
          valPtr(l) = k
          minCode(l) = code
          code += counts(l)
          k += counts(l)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    /** -1 on malformed stream. */
    def decode(br: BitReader): Int = {
      var code = 0
      var l = 1
      while (l <= maxLen) {
        val b = br.bits(1)
        if (b < 0) return -1
        code = (code << 1) | b
        if (maxCode(l) >= 0 && code <= maxCode(l) && code >= minCode(l))
          return sorted(valPtr(l) + code - minCode(l))
        l += 1
      }
      -1
    }
  }

  private val LengthBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17,
    19, 23, 27, 31, 35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val LengthExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2,
    2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val DistBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65,
    97, 129, 193, 257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145,
    8193, 12289, 16385, 24577)
  private val DistExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5,
    6, 6, 7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)
  private val ClOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12,
    3, 13, 2, 14, 1, 15)

  private lazy val FixedLit: HuffTable = {
    val l = new Array[Int](288)
    (0 until 144).foreach(l(_) = 8)
    (144 until 256).foreach(l(_) = 9)
    (256 until 280).foreach(l(_) = 7)
    (280 until 288).foreach(l(_) = 8)
    new HuffTable(l)
  }
  private lazy val FixedDist: HuffTable = new HuffTable(Array.fill(30)(5))

  /** RFC 1951 inflate over `b[off, end)`, expecting exactly `expected`
    * output bytes. Left(reason) on any malformed structure.
    */
  private[graft] def inflate(b: Array[Byte], off: Int, end: Int,
      expected: Int): Either[String, Array[Byte]] =
    inflateEx(b, off, end, expected, expected).map(_._1)

  /** Inflate with optionally UNKNOWN output size: `expected >= 0` keeps
    * the PNG path's exact-size contract (same checks, same messages);
    * `expected = -1` grows the output geometrically up to `cap` bytes.
    * Returns the bytes AND the consumed end offset — the first byte
    * past the deflate stream after its final-block bit padding — which
    * is where a gzip member's CRC32/ISIZE trailer begins. (The offset
    * is exact because [[BitReader.bits]] loads one byte at a time, so
    * at most 7 padding bits of the last loaded byte are ever
    * unconsumed and `br.off` never runs past the stream.)
    */
  private[graft] def inflateEx(b: Array[Byte], off: Int, end: Int,
      expected: Int, cap: Int): Either[String, (Array[Byte], Int)] = {
    val fixed = expected >= 0
    var out = new Array[Byte](
      if (fixed) expected else math.min(math.max(cap, 0), 64 << 10))
    var w = 0
    // true iff `need` more output bytes fit (growing in dynamic mode)
    def ensure(need: Int): Boolean = {
      if (need >= 0 && w + need >= 0 && w + need <= out.length) true
      else if (fixed || need < 0 || w + need < 0 || w + need > cap) false
      else {
        var nl = math.max(out.length, 64)
        while (nl < w + need) nl = math.min(cap.toLong, nl * 2L).toInt
        out = java.util.Arrays.copyOf(out, nl)
        true
      }
    }
    val br = new BitReader(b, off, end)
    var fin = false
    while (!fin) {
      val bfinal = br.bits(1)
      val btype = br.bits(2)
      if (bfinal < 0 || btype < 0) return Left("deflate header truncated")
      fin = bfinal == 1
      btype match {
        case 0 => // stored
          br.alignByte()
          if (br.off + 4 > end) return Left("stored block header truncated")
          val len = Bytes.le16(b, br.off)
          val nlen = Bytes.le16(b, br.off + 2)
          if ((len ^ 0xffff) != nlen) return Left("stored LEN/NLEN mismatch")
          br.off += 4
          if (br.off + len > end) return Left("stored block overruns payload")
          if (!ensure(len)) return Left("inflate output overrun (stored)")
          System.arraycopy(b, br.off, out, w, len)
          br.off += len
          w += len
        case 1 | 2 =>
          val (lit, dist) =
            if (btype == 1) (FixedLit, FixedDist)
            else {
              val hlit = br.bits(5); val hdist = br.bits(5); val hclen = br.bits(4)
              if (hlit < 0 || hdist < 0 || hclen < 0)
                return Left("dynamic header truncated")
              val clLens = new Array[Int](19)
              var i = 0
              while (i < hclen + 4) {
                val v = br.bits(3)
                if (v < 0) return Left("code-length lengths truncated")
                clLens(ClOrder(i)) = v
                i += 1
              }
              val clTab = new HuffTable(clLens)
              val lens = new Array[Int](hlit + 257 + hdist + 1)
              var k = 0
              while (k < lens.length) {
                val sym = clTab.decode(br)
                if (sym < 0) return Left("malformed code-length symbol")
                sym match {
                  case s if s < 16 => lens(k) = s; k += 1
                  case 16 =>
                    if (k == 0) return Left("repeat with no previous length")
                    val r = br.bits(2)
                    if (r < 0) return Left("repeat bits truncated")
                    val v = lens(k - 1)
                    var j = 0
                    while (j < r + 3) {
                      if (k >= lens.length) return Left("repeat overruns lengths")
                      lens(k) = v; k += 1; j += 1
                    }
                  case 17 =>
                    val r = br.bits(3)
                    if (r < 0) return Left("repeat bits truncated")
                    k += r + 3
                    if (k > lens.length) return Left("zero-run overruns lengths")
                  case _ => // 18
                    val r = br.bits(7)
                    if (r < 0) return Left("repeat bits truncated")
                    k += r + 11
                    if (k > lens.length) return Left("zero-run overruns lengths")
                }
              }
              (new HuffTable(lens.take(hlit + 257)),
                new HuffTable(lens.drop(hlit + 257)))
            }
          var endOfBlock = false
          while (!endOfBlock) {
            val sym = lit.decode(br)
            if (sym < 0) return Left("malformed literal/length symbol")
            if (sym < 256) {
              if (!ensure(1)) return Left("inflate output overrun (literal)")
              out(w) = sym.toByte
              w += 1
            } else if (sym == 256) endOfBlock = true
            else {
              if (sym > 285) return Left(s"invalid length symbol $sym")
              val li = sym - 257
              val eb = br.bits(LengthExtra(li))
              if (eb < 0) return Left("length extra bits truncated")
              val len = LengthBase(li) + eb
              val dsym = dist.decode(br)
              if (dsym < 0 || dsym > 29) return Left("malformed distance symbol")
              val db = br.bits(DistExtra(dsym))
              if (db < 0) return Left("distance extra bits truncated")
              val d = DistBase(dsym) + db
              if (d > w) return Left("back-reference before stream start")
              if (!ensure(len)) return Left("inflate output overrun (match)")
              var j = 0
              while (j < len) { // overlapping copies are the RLE idiom
                out(w) = out(w - d)
                w += 1
                j += 1
              }
            }
          }
        case _ => return Left("reserved deflate block type")
      }
    }
    if (fixed && w != expected) Left(s"inflated $w bytes, expected $expected")
    else Right((if (w == out.length) out
      else java.util.Arrays.copyOf(out, w), br.off))
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
    * Adler-32 verification, the hand-written [[inflate]], and per-row
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
    inflate(z, 2, z.length - 4, expected) match {
      case Left(err) => Left(err)
      case Right(raw) =>
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
