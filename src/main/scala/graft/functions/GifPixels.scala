package graft.functions

/** Content-level GIF: a complete, dependency-free GIF89a pixel codec —
  * a REAL LZW implementation (variable-width codes, dictionary growth
  * to 12 bits, CLEAR/EOI handling, LSB-first bit packing, 255-byte
  * sub-blocking), not a header fake. The encoder exists for the
  * fixture side (the test tables carry no media, so the operators
  * synthesize genuine single-frame GIFs); the decoder is the operator
  * side and decompresses actual LZW bytes back to palette indices —
  * any disagreement between the two, or any bit-packing / width-bump /
  * cScSc-case mistake, shows up as a hash mismatch against the
  * formula-replaying oracle, which never touches LZW at all.
  *
  * Scope (documented, honest): single frame, global color table, no
  * interlace, no transparency/extensions — the subset the fixture
  * writes. Real-world GIFs outside that subset quarantine as Left,
  * the same datum-not-exception contract as the rest of the family.
  *
  * Pure byte/int arithmetic — driver-testable and serializable into
  * `mapPartitions` closures.
  */
object GifPixels {

  /** One decoded single-frame GIF: geometry, the global palette as
    * packed 0xRRGGBB ints, and each pixel's palette index in row-major
    * top-down order (GIF's native order — no BMP-style flip).
    */
  final case class GifRaster(width: Int, height: Int,
      palette: Array[Int], indices: Array[Byte])

  private val MaxCodeWidth = 12

  // ---------------------------------------------------------- encoder

  /** LZW-compress palette indices at the given minimum code size.
    * Standard GIF flavor: emit CLEAR first, grow the dictionary to
    * 4096 entries, emit CLEAR and reset when full, terminate with EOI.
    * Returns the raw code stream packed LSB-first (no sub-blocking).
    */
  private def lzwEncode(indices: Array[Byte], minCodeSize: Int): Array[Byte] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L
    var nbits = 0
    var codeWidth = minCodeSize + 1
    def emit(code: Int): Unit = {
      cur |= code.toLong << nbits
      nbits += codeWidth
      while (nbits >= 8) {
        out.write((cur & 0xff).toInt)
        cur >>>= 8
        nbits -= 8
      }
    }
    // dictionary: (prefixCode << 8 | symbol) -> code. Indices are < 256
    // so the packing is collision-free.
    var dict = new java.util.HashMap[Int, Int]()
    var nextCode = eoi + 1
    def resetDict(): Unit = {
      dict = new java.util.HashMap[Int, Int]()
      nextCode = eoi + 1
      codeWidth = minCodeSize + 1
    }
    emit(clear)
    if (indices.nonEmpty) {
      var w = indices(0) & 0xff
      var i = 1
      while (i < indices.length) {
        val k = indices(i) & 0xff
        val key = (w << 8) | k
        if (dict.containsKey(key)) {
          w = dict.get(key)
        } else {
          emit(w)
          dict.put(key, nextCode)
          nextCode += 1
          // The encoder runs ONE dictionary entry ahead of the decoder
          // (it adds the entry for a code the decoder will only add
          // after reading the NEXT code), so the width-bump conditions
          // must differ by exactly one: decoder bumps when its
          // nextCode == 1<<w, encoder when its nextCode == (1<<w)+1 —
          // that is the same moment on the wire. A symmetric rule
          // desyncs the bit stream at every width boundary.
          if (nextCode == (1 << codeWidth) + 1 && codeWidth < MaxCodeWidth)
            codeWidth += 1
          if (nextCode == (1 << MaxCodeWidth)) {
            emit(clear)
            resetDict()
          }
          w = k
        }
        i += 1
      }
      emit(w)
    }
    emit(eoi)
    if (nbits > 0) out.write((cur & 0xff).toInt)
    out.toByteArray
  }

  /** Split a raw byte stream into GIF data sub-blocks (≤255 bytes each,
    * length-prefixed, zero-terminated).
    */
  private def subBlocks(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < raw.length) {
      val n = math.min(255, raw.length - off)
      out.write(n)
      out.write(raw, off, n)
      off += n
    }
    out.write(0)
    out.toByteArray
  }

  /** Build a real single-frame GIF89a: logical screen descriptor with a
    * global color table, image descriptor, LZW-compressed pixel data.
    * `palette` is 0xRRGGBB ints; its length must be a power of two in
    * [2, 256]; every index must be < palette.length.
    */
  def gifWrapPixels(width: Int, height: Int, palette: Array[Int],
      indices: Array[Byte]): Array[Byte] = {
    require(indices.length == width * height,
      s"need w*h=${width * height} indices, got ${indices.length}")
    val bits = {
      var b = 1
      while ((1 << b) < palette.length) b += 1
      require((1 << b) == palette.length && b >= 1 && b <= 8,
        s"palette size ${palette.length} not a power of two in [2,256]")
      b
    }
    val minCodeSize = math.max(2, bits)
    val lzw = subBlocks(lzwEncode(indices, minCodeSize))
    val bb = java.nio.ByteBuffer
      .allocate(13 + 3 * palette.length + 10 + 1 + lzw.length + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("GIF89a".getBytes("US-ASCII"))
    bb.putShort(width.toShort).putShort(height.toShort)
    // packed: GCT present | color resolution 7 | size = bits-1
    bb.put((0x80 | 0x70 | (bits - 1)).toByte)
    bb.put(0.toByte)                       // background color index
    bb.put(0.toByte)                       // aspect ratio
    palette.foreach { c =>
      bb.put(((c >> 16) & 0xff).toByte)
      bb.put(((c >> 8) & 0xff).toByte)
      bb.put((c & 0xff).toByte)
    }
    bb.put(0x2c.toByte)                    // image descriptor
    bb.putShort(0).putShort(0)             // left, top
    bb.putShort(width.toShort).putShort(height.toShort)
    bb.put(0.toByte)                       // no local table, no interlace
    bb.put(minCodeSize.toByte)
    bb.put(lzw)
    bb.put(0x3b.toByte)                    // trailer
    bb.array()
  }

  /** Build a real ANIMATED GIF89a: one logical screen + global color
    * table, then per frame a Graphic Control Extension (delay in
    * centiseconds) and a full-frame image descriptor with its own
    * independently LZW-compressed pixel data — the standard
    * multi-image layout a video-ish GIF uses. Every frame must be
    * full-screen (w×h indices); sub-rectangle delta frames are outside
    * the documented subset, same as the single-frame codec.
    */
  def gifWrapFrames(width: Int, height: Int, palette: Array[Int],
      frames: Seq[Array[Byte]], delayCs: Int = 10): Array[Byte] = {
    require(frames.nonEmpty, "an animation needs at least one frame")
    frames.foreach(f => require(f.length == width * height,
      s"need w*h=${width * height} indices per frame, got ${f.length}"))
    val bits = {
      var b = 1
      while ((1 << b) < palette.length) b += 1
      require((1 << b) == palette.length && b >= 1 && b <= 8,
        s"palette size ${palette.length} not a power of two in [2,256]")
      b
    }
    val minCodeSize = math.max(2, bits)
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(width); le16(height)
    out.write(0x80 | 0x70 | (bits - 1))    // GCT present | color res 7 | size
    out.write(0)                           // background color index
    out.write(0)                           // aspect ratio
    palette.foreach { c =>
      out.write((c >> 16) & 0xff); out.write((c >> 8) & 0xff); out.write(c & 0xff)
    }
    frames.foreach { f =>
      out.write(0x21); out.write(0xf9); out.write(4)  // GCE
      out.write(0)                         // no disposal, no transparency
      le16(delayCs)
      out.write(0)                         // transparent index (unused)
      out.write(0)                         // GCE terminator
      out.write(0x2c)                      // image descriptor
      le16(0); le16(0); le16(width); le16(height)
      out.write(0)                         // no local table, no interlace
      out.write(minCodeSize)
      out.write(subBlocks(lzwEncode(f, minCodeSize)))
    }
    out.write(0x3b)                        // trailer
    out.toByteArray
  }

  // ---------------------------------------------------------- decoder

  /** One decoded animation: geometry, global palette, and every
    * frame's palette indices (row-major top-down, full-frame).
    */
  final case class GifAnimation(width: Int, height: Int,
      palette: Array[Int], frames: Array[Array[Byte]])

  /** Decode EVERY frame of a (possibly animated) GCT GIF: skip
    * extensions (GCE/comment/application blocks), decompress each image
    * descriptor's LZW stream independently, stop at the trailer.
    * Documented subset: full-frame images, global table only, no
    * interlace. Left(reason) for anything outside it or any
    * malformed/truncated LZW stream.
    */
  def gifFrames(b: Array[Byte]): Either[String, GifAnimation] = walk(b, firstOnly = false)

  /** Decode the first frame of a GCT GIF back to its palette + indices:
    * the same walk as [[gifFrames]], stopped after the first image, so
    * no trailer is needed after it.
    */
  def gifRaster(b: Array[Byte]): Either[String, GifRaster] =
    walk(b, firstOnly = true).map(a => GifRaster(a.width, a.height, a.palette, a.frames(0)))

  private def walk(b: Array[Byte], firstOnly: Boolean): Either[String, GifAnimation] = {
    if (b == null || b.length < 14) return Left("GIF truncated before descriptor")
    val ver = new String(b, 0, 6, "US-ASCII")
    if (ver != "GIF87a" && ver != "GIF89a") return Left(s"not a GIF: '$ver'")
    val width = Bytes.le16(b, 6)
    val height = Bytes.le16(b, 8)
    if (width <= 0 || height <= 0) return Left("empty GIF geometry")
    val packed = b(10) & 0xff
    if ((packed & 0x80) == 0) return Left("content decode needs a global color table")
    val gctSize = 1 << ((packed & 0x07) + 1)
    var off = 13
    if (off + 3 * gctSize > b.length) return Left("GCT overruns payload")
    val palette = Array.tabulate(gctSize) { i =>
      ((b(off + 3 * i) & 0xff) << 16) | ((b(off + 3 * i + 1) & 0xff) << 8) |
        (b(off + 3 * i + 2) & 0xff)
    }
    off += 3 * gctSize
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (true) {
      if (off >= b.length) return Left("GIF ended without trailer")
      (b(off) & 0xff) match {
        case 0x3b =>
          return if (frames.isEmpty) Left("no image descriptor")
            else Right(GifAnimation(width, height, palette, frames.toArray))
        case 0x21 =>
          off += 2 // introducer + label
          while (off < b.length && b(off) != 0) off += 1 + (b(off) & 0xff)
          off += 1
        case 0x2c =>
          if (off + 10 > b.length) return Left("image descriptor truncated")
          val iw = Bytes.le16(b, off + 5)
          val ih = Bytes.le16(b, off + 7)
          val ipacked = b(off + 9) & 0xff
          if (iw != width || ih != height ||
              Bytes.le16(b, off + 1) != 0 || Bytes.le16(b, off + 3) != 0)
            return Left("sub-rectangle frames unsupported")
          if ((ipacked & 0x80) != 0) return Left("local color tables unsupported")
          if ((ipacked & 0x40) != 0) return Left("interlaced frames unsupported")
          off += 10
          if (off >= b.length) return Left("missing LZW minimum code size")
          val minCodeSize = b(off) & 0xff
          if (minCodeSize < 2 || minCodeSize > 11)
            return Left(s"implausible LZW min code size $minCodeSize")
          off += 1
          val raw = new java.io.ByteArrayOutputStream()
          var done = false
          while (!done) {
            if (off >= b.length) return Left("LZW stream truncated mid-sub-blocks")
            val n = b(off) & 0xff
            off += 1
            if (n == 0) done = true
            else {
              if (off + n > b.length) return Left("LZW sub-block overruns payload")
              raw.write(b, off, n)
              off += n
            }
          }
          lzwDecode(raw.toByteArray, minCodeSize, width * height) match {
            case Left(err) => return Left(err)
            case Right(indices) =>
              if (indices.exists(i => (i & 0xff) >= gctSize))
                return Left("pixel index outside the color table")
              frames += indices
              if (firstOnly) return Right(GifAnimation(width, height, palette, frames.toArray))
          }
        case other =>
          return Left(f"unexpected GIF block 0x$other%02x")
      }
    }
    Left("unreachable")
  }

  /** Standard GIF LZW decode: variable-width LSB-first codes, CLEAR
    * resets, the cScSc special case (code == next free entry), width
    * bumps mirroring the encoder, hard stop at `expected` pixels.
    */
  private def lzwDecode(raw: Array[Byte], minCodeSize: Int,
      expected: Int): Either[String, Array[Byte]] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream(expected)
    // dictionary as (prefix pointer, last byte) arrays — O(1) append,
    // sequences materialized by walking prefixes
    val prefix = new Array[Int](1 << MaxCodeWidth)
    val last = new Array[Byte](1 << MaxCodeWidth)
    var i = 0
    while (i < clear) {
      prefix(i) = -1; last(i) = i.toByte; i += 1
    }
    var nextCode = eoi + 1
    var codeWidth = minCodeSize + 1
    var cur = 0L
    var nbits = 0
    var off = 0
    var prev = -1
    val seq = new Array[Byte](1 << MaxCodeWidth)
    def emitSeq(code: Int, extra: Int): Int = {
      // walk the prefix chain into seq (reversed), then write forward;
      // returns the first byte of the sequence
      var n = 0
      var c = code
      while (c >= 0) { seq(n) = last(c); n += 1; c = prefix(c) }
      val first = seq(n - 1) & 0xff
      var j = n - 1
      while (j >= 0) { out.write(seq(j)); j -= 1 }
      if (extra >= 0) out.write(extra)
      first
    }
    while (true) {
      while (nbits < codeWidth) {
        if (off >= raw.length) return Left("LZW stream ended before EOI")
        cur |= (raw(off) & 0xffL) << nbits
        nbits += 8
        off += 1
      }
      val code = (cur & ((1L << codeWidth) - 1)).toInt
      cur >>>= codeWidth
      nbits -= codeWidth
      if (code == eoi) {
        val res = out.toByteArray
        return if (res.length == expected) Right(res)
          else Left(s"LZW decoded ${res.length} pixels, expected $expected")
      } else if (code == clear) {
        nextCode = eoi + 1
        codeWidth = minCodeSize + 1
        prev = -1
      } else if (prev == -1) {
        if (code >= clear) return Left(s"first code $code not a literal")
        out.write(code)
        prev = code
      } else {
        if (code > nextCode || code == nextCode && nextCode >= (1 << MaxCodeWidth))
          return Left(s"LZW code $code beyond dictionary $nextCode")
        val firstByte =
          if (code == nextCode) {
            // cScSc: sequence = prev's sequence + its own first byte
            var n = 0
            var c = prev
            while (c >= 0) { seq(n) = last(c); n += 1; c = prefix(c) }
            val fb = seq(n - 1) & 0xff
            var j = n - 1
            while (j >= 0) { out.write(seq(j)); j -= 1 }
            out.write(fb)
            fb
          } else emitSeq(code, -1)
        if (nextCode < (1 << MaxCodeWidth)) {
          prefix(nextCode) = prev
          last(nextCode) = firstByte.toByte
          nextCode += 1
          if (nextCode == (1 << codeWidth) && codeWidth < MaxCodeWidth)
            codeWidth += 1
        }
        prev = code
        if (out.size > expected)
          return Left(s"LZW overran the pixel count (${out.size} > $expected)")
      }
    }
    Left("unreachable")
  }
}
