package graft.functions

/** The codecs' one set of fixed-width integer readers: the 16- or 32-bit
  * value at offset `o` of `b`, little- or big-endian. A 16-bit value
  * comes back unsigned; a 32-bit one as the Int with those bits.
  */
private[graft] object Bytes {
  def le16(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  def le32(b: Array[Byte], o: Int): Int = le16(b, o) | (le16(b, o + 2) << 16)
  def be16(b: Array[Byte], o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  def be32(b: Array[Byte], o: Int): Int = (be16(b, o) << 16) | be16(b, o + 2)
}
