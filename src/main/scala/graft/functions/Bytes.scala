package graft.functions

/** The codecs' shared byte helpers: the fixed-width integer readers
  * (the 16- or 32-bit value at offset `o` of `b`, little- or big-endian;
  * a 16-bit value comes back unsigned, a 32-bit one as the Int with
  * those bits) and the one DEFLATE decoder.
  */
private[graft] object Bytes {
  def le16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  def le32(b: Array[Byte], o: Int): Int = le16(b, o) | (le16(b, o + 2) << 16)
  def be16(b: Array[Byte], o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  def be32(b: Array[Byte], o: Int): Int = (be16(b, o) << 16) | be16(b, o + 2)

  /** Raw DEFLATE (RFC 1951, no zlib or gzip wrapper) over `b[off, end)`,
    * decoded by the JDK's `Inflater`. `expected >= 0` asks for exactly
    * that many bytes (PNG, ZIP); `expected = -1` grows the output in
    * chunks and never allocates past `cap` (gzip). Returns the bytes and
    * the offset just past the stream, where a gzip trailer begins. A
    * malformed or truncated stream, or one that inflates past its
    * bound, is Left with the reason.
    */
  def inflate(b: Array[Byte], off: Int, end: Int, expected: Int, cap: Int)
      : Either[String, (Array[Byte], Int)] = {
    val limit = if (expected >= 0) expected else math.max(cap, 0)
    var out = new Array[Byte](if (expected >= 0) expected else math.min(limit, 64 << 10))
    var w = 0
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, off, end - off)
      while (!inf.finished()) {
        if (w == out.length && w < limit)
          out = java.util.Arrays.copyOf(out, math.min(limit, math.max(64 << 10, 2L * w)).toInt)
        // a full buffer takes one probe byte: it finds a stream's end
        // that yields no more output, and any byte past the bound
        val full = w == out.length
        val n = if (full) inf.inflate(new Array[Byte](1)) else inf.inflate(out, w, out.length - w)
        if (full && n > 0) return Left(s"deflate stream inflates past $limit bytes")
        // all input is set, so a call with no output on an unfinished
        // stream means it is cut short (or asks for a preset dictionary)
        if (n == 0 && !inf.finished()) return Left("deflate stream truncated")
        w += n
      }
      if (w < expected) Left(s"inflated $w bytes, expected $expected")
      else Right((if (w == out.length) out else java.util.Arrays.copyOf(out, w),
        end - inf.getRemaining))
    } catch {
      case e: java.util.zip.DataFormatException =>
        Left(s"malformed deflate stream: ${e.getMessage}")
    } finally inf.end()
  }
}
