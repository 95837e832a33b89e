package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.zip.{CRC32, Deflater}

/** ZIP codec — the RANDOM-ACCESS member of the archive family. Unlike
  * tar (sequential block walk) and multi-member gzip (boundaries only
  * discoverable by inflating), ZIP's central directory lets a reader
  * seek straight to any entry: the container shape for SAMPLED
  * inspection at scale, where unsampled entries must never be read at
  * all (the mm_video_frames posture, applied to archives).
  *
  * Decode: EOCD located by scanning back from the end for its
  * signature (comment-tolerant), central-directory walk (signatures,
  * name/extra/comment hops, local-header offsets), then
  * per-SELECTED-entry random access — local-header name cross-checked
  * against the directory, payload inflated by [[Bytes.inflate]] in its
  * exact-size mode (the directory declares usize), CRC-32 verified.
  * Encode (fixture side) uses the JVM's own Deflater; the codec spec
  * cross-checks the archives against java.util.zip.ZipInputStream as an
  * independent reader.
  */
object ZipCodec {
  import Bytes.{le16, le32}


  final case class ZipDirEntry(name: String, method: Int, crc: Int,
      csize: Int, usize: Int, offset: Int)

  /** Per-entry inflated size cap (hostile-stream guard — the
    * WarcCodec.MaxMember discipline: a directory declaring a 2 GB
    * usize must quarantine, not allocate).
    */
  val MaxEntry: Int = 1 << 26

  private val LocalSig = 0x04034b50
  private val CentralSig = 0x02014b50
  private val EocdSig = 0x06054b50

  private def w16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
  }
  private def w32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }

  /** Deflate-compressed ZIP writer (fixture side). */
  def zipWrap(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val dir = Vector.newBuilder[(String, Int, Int, Int, Int)]
    entries.foreach { case (name, data) =>
      val offset = out.size()
      val crc = new CRC32()
      crc.update(data)
      val c = crc.getValue.toInt
      val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(data); d.finish()
      val comp = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
      d.end()
      val cb = comp.toByteArray
      val nb = name.getBytes(US_ASCII)
      w32(out, LocalSig)
      w16(out, 20); w16(out, 0); w16(out, 8) // version, flags, deflate
      w16(out, 0); w16(out, 0)               // mod time/date pinned 0
      w32(out, c); w32(out, cb.length); w32(out, data.length)
      w16(out, nb.length); w16(out, 0)       // name len, extra len
      out.write(nb, 0, nb.length)
      out.write(cb, 0, cb.length)
      dir += ((name, c, cb.length, data.length, offset))
    }
    val cdStart = out.size()
    dir.result().foreach { case (name, c, cs, us, off) =>
      val nb = name.getBytes(US_ASCII)
      w32(out, CentralSig)
      w16(out, 20); w16(out, 20); w16(out, 0); w16(out, 8)
      w16(out, 0); w16(out, 0)
      w32(out, c); w32(out, cs); w32(out, us)
      w16(out, nb.length); w16(out, 0); w16(out, 0) // name/extra/comment
      w16(out, 0); w16(out, 0)                      // disk, int attrs
      w32(out, 0)                                   // ext attrs
      w32(out, off)
      out.write(nb, 0, nb.length)
    }
    val cdSize = out.size() - cdStart
    w32(out, EocdSig)
    w16(out, 0); w16(out, 0)
    w16(out, entries.length); w16(out, entries.length)
    w32(out, cdSize); w32(out, cdStart)
    w16(out, 0) // comment length
    out.toByteArray
  }

  /** Locate the EOCD (scan back for the signature, tolerating a
    * trailing comment) and walk the central directory.
    */
  def centralDirectory(b: Array[Byte])
      : Either[String, Vector[ZipDirEntry]] = {
    var e = b.length - 22
    while (e >= 0 && le32(b, e) != EocdSig) e -= 1
    if (e < 0) return Left("no EOCD signature")
    val n = le16(b, e + 10)
    val cdOff = le32(b, e + 16)
    if (cdOff < 0 || cdOff > e) // hostile EOCD: offset must land in-stream
      return Left("central-directory offset out of bounds")
    val acc = Vector.newBuilder[ZipDirEntry]
    var p = cdOff
    var i = 0
    while (i < n) {
      if (p + 46 > b.length) return Left("central directory truncated")
      if (le32(b, p) != CentralSig)
        return Left("bad central-directory signature")
      val method = le16(b, p + 10)
      val crc = le32(b, p + 16)
      val csize = le32(b, p + 20)
      val usize = le32(b, p + 24)
      val nameLen = le16(b, p + 28)
      val extraLen = le16(b, p + 30)
      val commentLen = le16(b, p + 32)
      val offset = le32(b, p + 42)
      if (csize < 0 || usize < 0 || offset < 0)
        return Left("negative field in central directory")
      if (p + 46 + nameLen > b.length)
        return Left("central-directory name truncated")
      val name = new String(b, p + 46, nameLen, US_ASCII)
      acc += ZipDirEntry(name, method, crc, csize, usize, offset)
      p += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    // the directory must END exactly where the EOCD begins — a
    // truncated or padded directory would otherwise misparse silently
    // (record fields are self-describing, so a cut shifts the reads
    // into the EOCD bytes without tripping a signature check)
    if (p != e) Left("central directory does not abut the EOCD")
    else Right(acc.result())
  }

  /** Random-access read of ONE entry via its directory record: seek to
    * the local header, cross-check the name, inflate (or copy, for
    * stored entries) exactly usize bytes, verify CRC-32. Bytes of
    * other entries are never touched — the whole point.
    */
  def readEntry(b: Array[Byte],
      e: ZipDirEntry): Either[String, Array[Byte]] = {
    val p = e.offset
    if (p + 30 > b.length) return Left("local header truncated")
    if (le32(b, p) != LocalSig) return Left("bad local-header signature")
    val nameLen = le16(b, p + 26)
    val extraLen = le16(b, p + 28)
    if (p + 30 + nameLen > b.length) return Left("local name truncated")
    val name = new String(b, p + 30, nameLen, US_ASCII)
    if (name != e.name)
      return Left(s"local/central name mismatch: '$name' vs '${e.name}'")
    val dataStart = p + 30 + nameLen + extraLen
    if (dataStart.toLong + e.csize > b.length) // Long: hostile csize
      return Left("entry data truncated")
    if (e.usize > MaxEntry)
      return Left("entry usize exceeds the decode cap")
    val raw = e.method match {
      case 0 =>
        if (e.csize != e.usize) return Left("stored entry size mismatch")
        Right(java.util.Arrays.copyOfRange(b, dataStart, dataStart + e.usize))
      case 8 =>
        Bytes.inflate(b, dataStart, dataStart + e.csize, e.usize, e.usize)
          .map(_._1)
      case m => Left(s"unsupported compression method $m")
    }
    raw.flatMap { data =>
      val crc = new CRC32()
      crc.update(data)
      if (crc.getValue.toInt != e.crc) Left("entry CRC mismatch")
      else Right(data)
    }
  }
}
