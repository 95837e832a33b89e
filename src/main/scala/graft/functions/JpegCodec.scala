package graft.functions

/** Content-level JPEG: a dependency-free BASELINE-SEQUENTIAL grayscale
  * codec — the ENTROPY-CODED member of the decode family (BMP walked
  * raw bytes, GIF decompressed LZW; JPEG adds Huffman coding, DC
  * prediction, zigzag ordering, dequantization, and the IDCT). The
  * encoder exists for the fixture side (the test tables carry no
  * media); the decoder is the operator side and earns every pixel by
  * parsing DQT/DHT tables out of the stream, canonical-Huffman-decoding
  * the entropy segment (with 0xFF00 byte unstuffing), undoing zigzag +
  * quantization, and running the integer IDCT below.
  *
  * EXACTNESS CONTRACT: real JPEG is lossy and floating-point IDCTs are
  * implementation-defined, so this codec pins a deterministic
  * FIXED-POINT IDCT — cosine factors pre-scaled to integers
  * ([[CosTable]], c(u)·cos((2x+1)uπ/16)·2^13 rounded once, hard
  * constants shared with the oracle) and a pure-integer accumulate /
  * round / shift. Encode(coefficients) → decode is then bit-exact by
  * construction, and a SQL oracle can replay pixel values with integer
  * arithmetic only. The fixture synthesizes QUANTIZED COEFFICIENTS by
  * formula (not pixels): what the codec genuinely earns is everything
  * between the coefficients and the stream — the lossy part of JPEG
  * (forward DCT + quantization of a natural image) has no exact twin
  * and is documented out of scope.
  *
  * Scope (honest): baseline DCT, 8-bit, single grayscale component,
  * 1×1 sampling, dimensions multiples of 8, one DQT + the two Annex K
  * luminance Huffman tables. Streams outside the subset quarantine as
  * Left — the datum-not-exception contract of the family.
  */
object JpegCodec {

  /** One decoded grayscale baseline JPEG: geometry and the pixel array
    * in row-major top-down order (values 0..255 as bytes).
    */
  final case class JpegRaster(width: Int, height: Int, pixels: Array[Byte])

  // ------------------------------------------------------------ tables

  /** Standard zigzag order: ZigZag(z) = raster position (u*8 + v) of
    * the z-th coefficient in transmission order (ITU T.81 figure 5).
    */
  val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Fixed-point IDCT basis: CosTable(u)(x) =
    * round(c(u)·cos((2x+1)·u·π/16)·2^13) with c(0) = 1/√2, c(u>0) = 1.
    * Computed once here; the oracle receives the SAME integers by
    * string interpolation, so both engines run identical arithmetic.
    */
  val CosScaleBits = 13
  val CosTable: Array[Array[Long]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    math.round(c * math.cos((2 * x + 1) * u * math.Pi / 16.0) * (1L << CosScaleBits))
  }

  /** Integer IDCT + level shift + clamp for one raster-ordered
    * dequantized coefficient block: the accumulator is scaled by
    * 2^(2·13), the true transform divides by 4, so the total shift is
    * 2^28; the `Bias` constant (divisible by 2^28) keeps the rounded
    * numerator positive so truncating division equals floor division —
    * the SQL twin's `//` truncates toward zero while an arithmetic
    * shift floors, and the two diverge on negatives.
    */
  val IdctShiftDiv = 1L << (2 * CosScaleBits + 2)
  val IdctHalf = IdctShiftDiv / 2
  val IdctBias = 1L << 50
  val IdctBiasQ = IdctBias / IdctShiftDiv

  def idct(coef: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0L
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            val f = coef(u * 8 + v)
            if (f != 0) s += f * CosTable(u)(y) * CosTable(v)(x)
            v += 1
          }
          u += 1
        }
        val px0 = (s + IdctHalf + IdctBias) / IdctShiftDiv - IdctBiasQ + 128
        val px = if (px0 < 0) 0L else if (px0 > 255) 255L else px0
        out(y * 8 + x) = px.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Annex K.3.1 luminance DC table (BITS then HUFFVAL) — public spec
    * constants; the encoder derives its codes from these and writes
    * them into DHT segments the decoder parses back.
    */
  private val DcBits =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = Array.tabulate(12)(identity)

  /** Annex K.3.2 luminance AC table. */
  private val AcBits =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** Canonical Huffman code assignment (T.81 C.2): symbol → (code,
    * length). Both encoder and decoder derive from the same BITS +
    * HUFFVAL, so the only source of truth is the DHT bytes in the file.
    */
  private def canonicalCodes(bits: Array[Int],
      vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out += vals(k) -> (code, len)
        code += 1
        k += 1
        i += 1
      }
      code <<= 1
      len += 1
    }
    out.result()
  }

  // ----------------------------------------------------------- encoder

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        cur = (cur << 1) | ((code >> i) & 1)
        n += 1
        if (n == 8) {
          out.write(cur)
          if (cur == 0xff) out.write(0x00) // byte stuffing
          cur = 0; n = 0
        }
        i -= 1
      }
    }
    def finish(): Array[Byte] = {
      if (n > 0) {
        cur = (cur << (8 - n)) | ((1 << (8 - n)) - 1) // pad with 1s
        out.write(cur)
        if (cur == 0xff) out.write(0x00)
        cur = 0; n = 0
      }
      out.toByteArray
    }
  }

  private def bitLength(v: Int): Int = 32 - Integer.numberOfLeadingZeros(v)

  /** Build a real baseline grayscale JPEG from QUANTIZED coefficient
    * blocks (zigzag order, raster MCU order, (w/8)·(h/8) blocks) and a
    * zigzag-ordered quant table. DC prediction, run-length AC coding
    * (ZRL/EOB), Annex K Huffman tables written as DHT segments.
    */
  def jpegWrapBaseline(width: Int, height: Int, quant: Array[Int],
      blocks: Array[Array[Int]]): Array[Byte] = {
    require(width % 8 == 0 && height % 8 == 0, "dims must be multiples of 8")
    require(blocks.length == (width / 8) * (height / 8),
      s"need ${(width / 8) * (height / 8)} blocks, got ${blocks.length}")
    require(quant.length == 64 && quant.forall(q => q >= 1 && q <= 255))
    val dcCodes = canonicalCodes(DcBits, DcVals)
    val acCodes = canonicalCodes(AcBits, AcVals)
    val bw = new BitWriter
    var prevDc = 0
    blocks.foreach { blk =>
      require(blk.length == 64)
      // DC: category + amplitude of the prediction diff
      val diff = blk(0) - prevDc
      prevDc = blk(0)
      val s = bitLength(math.abs(diff))
      val (c, l) = dcCodes(s)
      bw.put(c, l)
      if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
      // AC: (run, size) symbols with ZRL and EOB
      var z = 1
      while (z < 64) {
        var run = 0
        while (z < 64 && blk(z) == 0) { run += 1; z += 1 }
        if (z == 64) {
          val (ec, el) = acCodes(0x00) // EOB
          bw.put(ec, el)
        } else {
          while (run >= 16) {
            val (zc, zl) = acCodes(0xf0) // ZRL
            bw.put(zc, zl)
            run -= 16
          }
          val v = blk(z)
          val sz = bitLength(math.abs(v))
          require(sz <= 10, s"AC amplitude $v outside Annex K range")
          val (ac, al) = acCodes((run << 4) | sz)
          bw.put(ac, al)
          bw.put(if (v >= 0) v else v + (1 << sz) - 1, sz)
          z += 1
        }
      }
    }
    val entropy = bw.finish()

    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    marker(0xd8) // SOI
    marker(0xdb) // DQT
    be16(2 + 1 + 64)
    out.write(0x00) // 8-bit precision, table id 0
    quant.foreach(out.write)
    def dht(clazz: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4)
      be16(2 + 1 + 16 + vals.length)
      out.write((clazz << 4) | 0) // class (0=DC, 1=AC), table id 0
      bits.foreach(out.write)
      vals.foreach(out.write)
    }
    dht(0, DcBits, DcVals)
    dht(1, AcBits, AcVals)
    marker(0xc0) // SOF0: baseline DCT
    be16(2 + 6 + 3)
    out.write(8) // precision
    be16(height); be16(width)
    out.write(1)    // one component
    out.write(1)    // component id
    out.write(0x11) // 1x1 sampling
    out.write(0)    // quant table 0
    marker(0xda) // SOS
    be16(2 + 1 + 2 + 3)
    out.write(1)    // one component in scan
    out.write(1)    // component id
    out.write(0x00) // DC table 0, AC table 0
    out.write(0)    // spectral start
    out.write(63)   // spectral end
    out.write(0)    // Ah/Al
    out.write(entropy, 0, entropy.length)
    marker(0xd9) // EOI
    out.toByteArray
  }

  // ----------------------------------------------------------- decoder

  private final class BitReader(b: Array[Byte], var off: Int) {
    private var cur = 0
    private var n = 0
    /** -1 on exhausted/marker-interrupted stream. */
    def bit(): Int = {
      if (n == 0) {
        if (off >= b.length) return -1
        var v = b(off) & 0xff
        off += 1
        if (v == 0xff) {
          if (off >= b.length) return -1
          val next = b(off) & 0xff
          if (next == 0x00) off += 1 // unstuff
          else return -1             // a real marker ends the scan
          v = 0xff
        }
        cur = v; n = 8
      }
      n -= 1
      (cur >> n) & 1
    }
    def bits(k: Int): Int = {
      var v = 0
      var i = 0
      while (i < k) {
        val b1 = bit()
        if (b1 < 0) return -1
        v = (v << 1) | b1
        i += 1
      }
      v
    }
  }

  /** Canonical decode tables (T.81 F.2.2.3): per code length, the
    * smallest/largest code and the HUFFVAL offset.
    */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l - 1) == 0) { maxCode(l) = -1 }
        else {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1)
          k += bits(l - 1)
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
      while (l <= 16) {
        val b = br.bit()
        if (b < 0) return -1
        code = (code << 1) | b
        if (maxCode(l) >= 0 && code <= maxCode(l) && code >= minCode(l))
          return vals(valPtr(l) + code - minCode(l))
        l += 1
      }
      -1
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Decode a baseline grayscale JPEG back to pixels. Left(reason) for
    * anything outside the documented subset or any malformed stream.
    */
  def jpegRaster(b: Array[Byte]): Either[String, JpegRaster] = {
    if (b == null || b.length < 4) return Left("JPEG truncated before SOI")
    if ((b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return Left("not a JPEG")
    var off = 2
    var quant: Array[Int] = null
    var dcTab: HuffTable = null
    var acTab: HuffTable = null
    var width = 0
    var height = 0
    while (off + 4 <= b.length) {
      if ((b(off) & 0xff) != 0xff) return Left(f"lost marker sync at $off")
      val m = b(off + 1) & 0xff
      if (m == 0xd9) return Left("EOI before SOS")
      val len = Bytes.be16(b, off + 2)
      if (off + 2 + len > b.length) return Left("segment overruns payload")
      val seg = off + 4
      m match {
        case 0xdb => // DQT
          if ((b(seg) & 0xf0) != 0) return Left("16-bit quant tables unsupported")
          if (len != 2 + 1 + 64) return Left("multi-table DQT unsupported")
          quant = Array.tabulate(64)(i => b(seg + 1 + i) & 0xff)
        case 0xc4 => // DHT
          val tc = (b(seg) & 0xf0) >> 4
          val bits = Array.tabulate(16)(i => b(seg + 1 + i) & 0xff)
          val nv = bits.sum
          if (len != 2 + 1 + 16 + nv) return Left("multi-table DHT unsupported")
          val vals = Array.tabulate(nv)(i => b(seg + 17 + i) & 0xff)
          val t = new HuffTable(bits, vals)
          if (tc == 0) dcTab = t else acTab = t
        case 0xc0 => // SOF0 baseline
          if ((b(seg) & 0xff) != 8) return Left("non-8-bit precision")
          height = Bytes.be16(b, seg + 1)
          width = Bytes.be16(b, seg + 3)
          if ((b(seg + 5) & 0xff) != 1) return Left("multi-component unsupported")
          if ((b(seg + 7) & 0xff) != 0x11) return Left("subsampling unsupported")
          if (width % 8 != 0 || height % 8 != 0)
            return Left("partial MCUs unsupported")
          // 65528×65528 passes every check above but wraps width*height
          // in Int — cap the pixel count before the allocation so a
          // hostile SOF quarantines instead of throwing
          if (width.toLong * height > (1L << 28))
            return Left("implausible JPEG geometry for the content subset")
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
             0xcd | 0xce | 0xcf =>
          return Left(f"non-baseline SOF 0x$m%02x unsupported")
        case 0xda => // SOS: entropy-coded data follows
          if (quant == null || dcTab == null || acTab == null ||
              width == 0 || height == 0)
            return Left("SOS before DQT/DHT/SOF")
          val br = new BitReader(b, off + 2 + len)
          val nBlocks = (width / 8) * (height / 8)
          val pixels = new Array[Byte](width * height)
          var prevDc = 0
          var blk = 0
          while (blk < nBlocks) {
            val coef = new Array[Long](64)
            // DC
            val s = dcTab.decode(br)
            if (s < 0 || s > 11) return Left("malformed DC symbol")
            val dbits = if (s == 0) 0 else br.bits(s)
            if (dbits < 0) return Left("entropy stream truncated in DC")
            prevDc += extend(dbits, s)
            coef(ZigZag(0)) = prevDc.toLong * quant(0)
            // AC
            var z = 1
            var eob = false
            while (z < 64 && !eob) {
              val sym = acTab.decode(br)
              if (sym < 0) return Left("malformed AC symbol")
              if (sym == 0x00) eob = true
              else if (sym == 0xf0) z += 16
              else {
                val run = sym >> 4
                val sz = sym & 0x0f
                z += run
                if (z > 63) return Left("AC run overruns the block")
                val abits = br.bits(sz)
                if (abits < 0) return Left("entropy stream truncated in AC")
                coef(ZigZag(z)) = extend(abits, sz).toLong * quant(z)
                z += 1
              }
            }
            val px = idct(coef)
            val bw = width / 8
            val by = blk / bw
            val bx = blk % bw
            var y = 0
            while (y < 8) {
              System.arraycopy(px, y * 8, pixels,
                (by * 8 + y) * width + bx * 8, 8)
              y += 1
            }
            blk += 1
          }
          return Right(JpegRaster(width, height, pixels))
        case _ => () // APPn/COM: skip
      }
      off += 2 + len
    }
    Left("no SOS segment")
  }
}
