package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.zip.{CRC32, Deflater}

/** WARC/1.0 + multi-member gzip (RFC 1952) codec — the web-archive
  * ingestion layer a crawl-derived training corpus arrives in (the
  * Common Crawl `.warc.gz` layout: ONE gzip member per WARC record, so
  * a reader can resume at any member boundary — the property that makes
  * the format splittable at scale).
  *
  * Decode: the member walk parses RFC 1952 headers (incl. the
  * FEXTRA/FNAME/FCOMMENT/FHCRC optional fields), inflates the deflate
  * body with [[Bytes.inflate]] in its growing mode (a gzip header does
  * not declare the output size; [[MaxMember]] bounds it), and verifies
  * the CRC-32 + ISIZE trailer that starts at the inflater's consumed
  * offset. The WARC parse walks the version line, the named-field
  * block, the `Content-Length`-delimited payload, and the HTTP response
  * inside it.
  *
  * Encode (`gzipWrap`, fixture-side only) uses the JVM's own
  * `Deflater`, as the PNG fixture does.
  */
object WarcCodec {
  import Bytes.{le16, le32}


  /** Per-member inflated size cap (hostile-stream guard). */
  val MaxMember: Int = 1 << 26

  // ------------------------------------------------------ fixture side

  /** Multi-member gzip: one member per record. */
  def gzipWrap(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { r =>
      // ID1 ID2 CM=deflate FLG=0 MTIME=0 XFL=0 OS=unknown
      out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0,
        0xff.toByte), 0, 10)
      val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(r)
      d.finish()
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val n = d.deflate(buf)
        out.write(buf, 0, n)
      }
      d.end()
      val crc = new CRC32()
      crc.update(r)
      writeLe32(out, crc.getValue.toInt)
      writeLe32(out, r.length)
    }
    out.toByteArray
  }

  private def writeLe32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff)
    out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff)
    out.write((v >>> 24) & 0xff)
  }

  // ------------------------------------------------------- decode side

  private val FHCRC = 2
  private val FEXTRA = 4
  private val FNAME = 8
  private val FCOMMENT = 16

  /** First index past the NUL terminator's position, or -1. */
  private def zeroEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length) {
      if (b(i) == 0) return i
      i += 1
    }
    -1
  }

  /** Walk every member of a (possibly multi-member) gzip stream,
    * verifying each member's CRC-32 and ISIZE. Left on the first
    * malformed structure — a corrupt archive shard quarantines whole
    * (its members past the corruption point are unreachable anyway:
    * member boundaries are only discoverable by inflating).
    */
  def gzipMembers(b: Array[Byte],
      maxOut: Int = MaxMember): Either[String, Vector[Array[Byte]]] = {
    var p = 0
    val acc = Vector.newBuilder[Array[Byte]]
    while (p < b.length) {
      val memberStart = p
      if (p + 10 > b.length) return Left("gzip header truncated")
      if ((b(p) & 0xff) != 0x1f || (b(p + 1) & 0xff) != 0x8b)
        return Left("bad gzip magic")
      if (b(p + 2) != 8) return Left("unsupported gzip method")
      val flg = b(p + 3) & 0xff
      if ((flg & 0xe0) != 0) return Left("reserved gzip FLG bits set")
      p += 10
      if ((flg & FEXTRA) != 0) {
        if (p + 2 > b.length) return Left("FEXTRA length truncated")
        val xlen = le16(b, p)
        p += 2 + xlen
        if (p > b.length) return Left("FEXTRA field overruns stream")
      }
      if ((flg & FNAME) != 0) {
        val z = zeroEnd(b, p)
        if (z < 0) return Left("FNAME unterminated")
        p = z + 1
      }
      if ((flg & FCOMMENT) != 0) {
        val z = zeroEnd(b, p)
        if (z < 0) return Left("FCOMMENT unterminated")
        p = z + 1
      }
      if ((flg & FHCRC) != 0) {
        if (p + 2 > b.length) return Left("FHCRC truncated")
        // RFC 1952 §2.3.1: the field is the low 16 bits of the CRC-32
        // over all header bytes so far (member start up to, excluding,
        // the field itself) — verified, not skipped, so a corrupted
        // optional header can't ride in on a payload that still
        // inflates (payload integrity stays covered by CRC-32/ISIZE)
        val hcrc = new CRC32()
        hcrc.update(b, memberStart, p - memberStart)
        val stored = le16(b, p)
        if ((hcrc.getValue & 0xffffL) != stored)
          return Left("gzip FHCRC header CRC mismatch")
        p += 2
      }
      Bytes.inflate(b, p, b.length, -1, maxOut) match {
        case Left(e) => return Left(s"member deflate: $e")
        case Right((data, dEnd)) =>
          if (dEnd + 8 > b.length) return Left("gzip trailer truncated")
          val crc = new CRC32()
          crc.update(data)
          if (crc.getValue.toInt != le32(b, dEnd))
            return Left("gzip CRC mismatch")
          if (data.length != le32(b, dEnd + 4))
            return Left("gzip ISIZE mismatch")
          acc += data
          p = dEnd + 8
      }
    }
    Right(acc.result())
  }

  // -------------------------------------------------------- WARC parse

  /** A parsed WARC response record (the fields the ingestion lane
    * emits). `warcLen` is the record's own Content-Length — the HTTP
    * block's byte count.
    */
  final case class WarcRecord(
      warcType: String,
      recordId: String,
      targetUri: String,
      warcDate: String,
      warcLen: Int,
      httpStatus: Int,
      contentType: String,
      html: String)

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' &&
        b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** `Name: value` lines → lowercase-keyed map (WARC and HTTP header
    * names are case-insensitive).
    */
  private def parseHeaders(
      lines: Array[String]): Either[String, Map[String, String]] = {
    var m = Map.empty[String, String]
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      val c = l.indexOf(':')
      if (c <= 0) return Left(s"malformed header line: $l")
      // Locale.ROOT: header names must fold the same on every JVM
      // locale (Turkish dotless-i would break "WARC-Record-ID")
      m += (l.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT) ->
        l.substring(c + 1).trim)
      i += 1
    }
    Right(m)
  }

  private def intHeader(h: Map[String, String],
      name: String): Either[String, Int] =
    h.get(name) match {
      case None => Left(s"missing $name header")
      case Some(v) =>
        try {
          val n = v.toInt
          if (n < 0) Left(s"negative $name") else Right(n)
        } catch {
          case _: NumberFormatException => Left(s"non-numeric $name")
        }
    }

  /** Parse one WARC/1.0 record: version line, named fields, the
    * Content-Length-delimited block, the trailing CRLF CRLF — and for
    * `WARC-Type: response`, the HTTP status line / headers / HTML body
    * inside the block.
    */
  def parseWarc(rec: Array[Byte]): Either[String, WarcRecord] = {
    val hEnd = indexOfCrlfCrlf(rec, 0)
    if (hEnd < 0) return Left("WARC header block unterminated")
    val head = new String(rec, 0, hEnd, ISO_8859_1)
    val lines = head.split("\r\n", -1)
    if (lines.isEmpty || lines(0) != "WARC/1.0")
      return Left("missing WARC/1.0 version line")
    parseHeaders(lines.drop(1)).flatMap { h =>
      intHeader(h, "content-length").flatMap { cl =>
        val bodyStart = hEnd + 4
        if (bodyStart + cl + 4 > rec.length)
          Left("WARC body overruns record")
        else if (rec.length != bodyStart + cl + 4 ||
          indexOfCrlfCrlf(rec, bodyStart + cl) != bodyStart + cl)
          Left("missing WARC record trailer")
        else {
          val wt = h.getOrElse("warc-type", "")
          if (wt != "response") Left(s"unsupported WARC-Type '$wt'")
          else
            parseHttp(rec, bodyStart, bodyStart + cl).map {
              case (status, ctype, html) =>
                WarcRecord(wt,
                  h.getOrElse("warc-record-id", ""),
                  h.getOrElse("warc-target-uri", ""),
                  h.getOrElse("warc-date", ""),
                  cl, status, ctype, html)
            }
        }
      }
    }
  }

  /** HTTP response inside `rec[from, to)`: status line, headers, body
    * (returned as UTF-8 text; Content-Length verified against the
    * remaining bytes).
    */
  private def parseHttp(rec: Array[Byte], from: Int,
      to: Int): Either[String, (Int, String, String)] = {
    val hEnd = indexOfCrlfCrlf(rec, from)
    if (hEnd < 0 || hEnd >= to) return Left("HTTP header block unterminated")
    val head = new String(rec, from, hEnd - from, ISO_8859_1)
    val lines = head.split("\r\n", -1)
    val status = lines(0).split(" ", 3)
    if (status.length < 3 || !status(0).startsWith("HTTP/"))
      return Left("malformed HTTP status line")
    val code =
      try status(1).toInt
      catch { case _: NumberFormatException => return Left("bad HTTP status") }
    parseHeaders(lines.drop(1)).flatMap { h =>
      intHeader(h, "content-length").flatMap { cl =>
        val bodyStart = hEnd + 4
        if (bodyStart + cl != to) Left("HTTP Content-Length mismatch")
        else Right((code, h.getOrElse("content-type", ""),
          new String(rec, bodyStart, cl, UTF_8)))
      }
    }
  }
}
