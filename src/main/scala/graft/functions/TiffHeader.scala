package graft.functions

/** TIFF header walk — the SELF-DECLARED-BYTE-ORDER member of the
  * container family: BMP/WAV are little-endian by spec, PNG/JPEG
  * big-endian by spec, but TIFF's first two bytes ('II' or 'MM')
  * choose the byte order for EVERYTHING that follows, so one parser
  * must run both interpretations correctly. Classic baseline TIFF:
  * magic 42, a single IFD of ascending 12-byte tag entries, SHORT
  * values packed into the low half of the 4-byte value field in the
  * declared order. Header-level only (geometry + sample format) —
  * the content tiers live in the BMP/GIF/JPEG/PNG codecs; TIFF's
  * contribution to the family is the endianness dispatch.
  */
object TiffHeader {

  /** Parsed header: byte order ("II"/"MM"), geometry, bits per
    * sample, compression tag, and the IFD entry count.
    */
  final case class TiffInfo(byteOrder: String, width: Int, height: Int,
      bits: Int, compression: Int, nEntries: Int)

  private val TagWidth = 256
  private val TagHeight = 257
  private val TagBits = 258
  private val TagCompression = 259

  // ---------------------------------------------------------- encoder

  /** Build a minimal single-IFD TIFF around an opaque payload. The
    * same four baseline tags in both byte orders — the fixture
    * alternates orders so a parser with a hard-coded endianness fails
    * half the corpus.
    */
  def tiffWrap(littleEndian: Boolean, width: Int, height: Int,
      bits: Int, payload: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && bits > 0 && bits <= 16)
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit =
      if (littleEndian) { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      else { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def u32(v: Int): Unit =
      if (littleEndian) { u16(v & 0xffff); u16((v >>> 16) & 0xffff) }
      else { u16((v >>> 16) & 0xffff); u16(v & 0xffff) }
    out.write(if (littleEndian) 'I' else 'M')
    out.write(if (littleEndian) 'I' else 'M')
    u16(42)
    u32(8) // IFD offset
    // IFD: 4 entries, ascending tag order as the spec requires
    u16(4)
    def entry(tag: Int, typ: Int, value: Int): Unit = {
      u16(tag); u16(typ); u32(1)
      if (typ == 3) { u16(value); u16(0) } // SHORT packs into the low half
      else u32(value)
    }
    entry(TagWidth, 4, width)       // LONG
    entry(TagHeight, 4, height)     // LONG
    entry(TagBits, 3, bits)         // SHORT
    entry(TagCompression, 3, 1)     // SHORT: uncompressed
    u32(0) // next IFD: none
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  // ---------------------------------------------------------- decoder

  /** Walk the header in whichever byte order the stream declares.
    * Left(reason) for malformed or out-of-subset streams — the
    * family's quarantine contract.
    */
  def tiffInfo(b: Array[Byte]): Either[String, TiffInfo] = {
    if (b == null || b.length < 8) return Left("TIFF truncated before header")
    val le =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return Left("not a TIFF byte-order mark")
    def u16(o: Int): Int =
      if (le) Bytes.le16(b, o) else Bytes.be16(b, o)
    def u32(o: Int): Long =
      if (le) (u16(o).toLong) | (u16(o + 2).toLong << 16)
      else (u16(o).toLong << 16) | u16(o + 2).toLong
    if (u16(2) != 42) return Left("bad TIFF magic")
    val ifd = u32(4)
    if (ifd < 8 || ifd + 2 > b.length) return Left("IFD offset overruns payload")
    val n = u16(ifd.toInt)
    if (n == 0) return Left("empty IFD")
    if (ifd + 2 + 12L * n + 4 > b.length) return Left("IFD overruns payload")
    var width = -1
    var height = -1
    var bits = -1
    var comp = -1
    var prevTag = -1
    var i = 0
    while (i < n) {
      val e = ifd.toInt + 2 + 12 * i
      val tag = u16(e)
      if (tag <= prevTag) return Left("IFD tags not strictly ascending")
      prevTag = tag
      val typ = u16(e + 2)
      val count = u32(e + 4)
      // inline values only: SHORT (packed low half) and LONG, count 1 —
      // offset-valued tags are outside the header-walk subset
      val value: Long = typ match {
        case 3 => u16(e + 8).toLong
        case 4 => u32(e + 8)
        case _ => -1L
      }
      if (count == 1) tag match {
        case TagWidth => width = value.toInt
        case TagHeight => height = value.toInt
        case TagBits => bits = value.toInt
        case TagCompression => comp = value.toInt
        case _ => () // unknown tags: skipped, as a tag walk must
      }
      i += 1
    }
    if (width <= 0 || height <= 0) Left("missing geometry tags")
    else if (bits <= 0) Left("missing BitsPerSample")
    else if (comp < 0) Left("missing Compression")
    else Right(TiffInfo(if (le) "II" else "MM", width, height, bits, comp, n))
  }
}
