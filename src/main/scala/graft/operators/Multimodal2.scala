package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.{AviCodec, JpegCodec}

/** Multimodal tier 2: VIDEO — the container-of-containers member of
  * the decode family. An MJPEG AVI is the RIFF chunk grammar (which
  * WAV introduced to the family) wrapped around per-frame baseline
  * JPEGs (which mm_jpeg_pixels decodes), so the video lane composes
  * two already-verified codecs and adds what video genuinely adds:
  * the stream headers (frame count, frame timing) and FRAME SAMPLING —
  * at 100 TB nobody decodes every frame; the container walk returns
  * still-encoded payloads so the sampler drops frames BEFORE paying
  * the JPEG decode, and only sampled frames reach the IDCT.
  *
  * Same 100 TB posture as the rest of the family: one narrow
  * mapPartitions over (id, payload) — embarrassingly parallel, no
  * shuffle until the final tiny ORDER BY, dependency-free parsers in
  * the closure, malformed streams quarantine as rows.
  */
object Multimodal2 {

  /** Video fixture synthesis: a genuine MJPEG AVI whose per-frame
    * quantized coefficient blocks follow a fixed formula of
    * (doc_id, frame, block, zigzag position) — the mm_jpeg_pixels
    * formula plus a frame term, so consecutive frames differ and a
    * sampler that decodes the wrong frame index hash-fails. Geometry
    * and timing vary per doc so fixed-offset container reads can't
    * fake the chunk walk.
    */
  private[operators] def synthAvi(docId: Long, nBytes: Int): Array[Byte] = {
    val w = 8 * (1 + nBytes % 2)
    val h = 8
    val nf = (4 + docId % 5).toInt
    val usec = 33333 + nBytes % 1000
    val quant = Array.tabulate(64)(z => 1 + z % 8)
    val zmax = (5 + docId % 5).toInt
    val frames = Seq.tabulate(nf) { f =>
      val blocks = Array.tabulate(w / 8) { bIdx =>
        Array.tabulate(64) { z =>
          if (z <= zmax)
            (((z * 7 + bIdx * 5 + f * 11 + docId * 3) % 21) - 10).toInt
          else 0
        }
      }
      JpegCodec.jpegWrapBaseline(w, h, quant, blocks)
    }
    AviCodec.aviWrapMjpeg(w, h, usec, frames)
  }

  private val aviContainer = udf { (docId: Long, bytes: Array[Byte]) =>
    synthAvi(docId, bytes.length)
  }

  /** Frames with index % SampleEvery == 0 are decoded; the rest are
    * dropped still-encoded. */
  val SampleEvery = 2

  /** Content-level VIDEO decode with frame sampling: parse the AVI
    * container (headers verified against the movi chunk walk), keep
    * every [[SampleEvery]]-th frame, JPEG-decode ONLY those, and emit
    * one row per sampled frame with exact-integer pixel stats plus the
    * container-level fields (n_frames, usec_per_frame) that prove the
    * header parse. Quarantined docs emit a single all-zero row with
    * frame_idx = -1 — data, never task failures.
    */
  def mmVideoFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        aviContainer(col("doc_id"), col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          // span walk: unsampled frames are never copied, let alone
          // decoded (the 100× probe caught the dead copies)
          AviCodec.aviSpans(payload) match {
            case Right(v) =>
              (0 until v.nFrames).filter(_ % SampleEvery == 0).map { f =>
                JpegCodec.jpegRaster(v.frame(f)) match {
                  case Right(r) if r.width == v.width && r.height == v.height =>
                    val p = r.pixels
                    var sum = 0L
                    var i = 0
                    while (i < p.length) { sum += (p(i) & 0xff); i += 1 }
                    (id, f.toLong, v.nFrames.toLong, v.usecPerFrame.toLong,
                      r.width.toLong, r.height.toLong, sum,
                      (p(0) & 0xff).toLong,
                      (p(r.width - 1) & 0xff).toLong,
                      (p(p.length - 1) & 0xff).toLong)
                  case _ => // frame-level quarantine
                    (id, f.toLong, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
                }
              }
            case Left(_) => // container-level quarantine
              Seq((id, -1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
          }
        }
      }
      .toDF("doc_id", "frame_idx", "n_frames", "usec_per_frame", "width",
        "height", "px_sum", "first_px", "top_right_px", "last_px")
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** The oracle replays the coefficient formula + the SAME fixed-point
    * IDCT constants as mm_jpeg_pixels (interpolated from JpegCodec —
    * one source of truth) for exactly the SAMPLED frame indices, and
    * regenerates n_frames/usec_per_frame from the synthesis formulas.
    * It never touches RIFF or Huffman bytes: Spark earns those values
    * only by a correct container walk + entropy decode.
    */
  private def videoOracle: String = {
    val zigRows = JpegCodec.ZigZag.zipWithIndex
      .map { case (p, z) => s"($z,${p / 8},${p % 8})" }.mkString(",")
    val cosRows = (for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u,$x,${JpegCodec.CosTable(u)(x)})").mkString(",")
    s"""WITH d AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
      |dims AS (
      |  SELECT doc_id, 8 * (1 + n % 2) AS w, 8 AS h,
      |    5 + doc_id % 5 AS zmax, doc_id * 3 AS s0,
      |    4 + doc_id % 5 AS nf, 33333 + n % 1000 AS usec FROM d),
      |fr AS (
      |  SELECT doc_id, w, h, zmax, s0, nf, usec, ff.f AS f
      |  FROM dims, LATERAL unnest(generate_series(0, nf - 1)) AS ff(f)
      |  WHERE ff.f % ${SampleEvery} = 0),
      |zig AS (SELECT * FROM (VALUES $zigRows) AS t(z, u, v)),
      |ct AS (SELECT * FROM (VALUES $cosRows) AS t(u, x, cz)),
      |blocks AS (
      |  SELECT doc_id, w, h, nf, usec, f, zmax, s0, bb.b AS b
      |  FROM fr, LATERAL unnest(generate_series(0, w//8 - 1)) AS bb(b)),
      |coefs AS (
      |  SELECT doc_id, w, h, nf, usec, f, b, z.u AS u, z.v AS v,
      |    (CASE WHEN z.z <= zmax
      |       THEN ((z.z*7 + b*5 + f*11 + s0) % 21) - 10 ELSE 0 END)
      |      * (1 + z.z % 8) AS coef
      |  FROM blocks, zig z),
      |px AS (
      |  SELECT cf.doc_id, cf.w, cf.h, cf.nf, cf.usec, cf.f, cf.b,
      |    yy.y AS y, xx.x AS x,
      |    least(255, greatest(0,
      |      (sum(cf.coef * cu.cz * cv.cz)
      |        + ${JpegCodec.IdctHalf} + ${JpegCodec.IdctBias})
      |        // ${JpegCodec.IdctShiftDiv} - ${JpegCodec.IdctBiasQ} + 128)) AS px
      |  FROM coefs cf,
      |    LATERAL unnest(generate_series(0, 7)) AS yy(y),
      |    LATERAL unnest(generate_series(0, 7)) AS xx(x)
      |  JOIN ct cu ON cu.u = cf.u AND cu.x = yy.y
      |  JOIN ct cv ON cv.u = cf.v AND cv.x = xx.x
      |  GROUP BY cf.doc_id, cf.w, cf.h, cf.nf, cf.usec, cf.f, cf.b, yy.y, xx.x),
      |placed AS (
      |  SELECT doc_id, w, h, nf, usec, f, px,
      |    y AS gy, b * 8 + x AS gx
      |  FROM px)
      |SELECT doc_id, cast(f AS BIGINT) AS frame_idx,
      |  cast(nf AS BIGINT) AS n_frames,
      |  cast(usec AS BIGINT) AS usec_per_frame,
      |  cast(w AS BIGINT) AS width, cast(h AS BIGINT) AS height,
      |  cast(sum(px) AS BIGINT) AS px_sum,
      |  cast(min(CASE WHEN gy = 0 AND gx = 0 THEN px END) AS BIGINT) AS first_px,
      |  cast(min(CASE WHEN gy = 0 AND gx = w - 1 THEN px END) AS BIGINT) AS top_right_px,
      |  cast(min(CASE WHEN gy = h - 1 AND gx = w - 1 THEN px END) AS BIGINT) AS last_px
      |FROM placed GROUP BY doc_id, w, h, nf, usec, f
      |ORDER BY doc_id, frame_idx""".stripMargin
  }

  // --------------------------------------------------- audio resample

  /** Decimation factor for [[mmAudioResample]]. */
  val ResampleBy = 4

  /** AUDIO resampling on decoded content — the transform member of the
    * audio family (decode: mm_wav_samples, features: mm_audio_features):
    * boxcar-average-and-decimate by [[ResampleBy]] — output sample j is
    * the truncating integer mean of input window [4j, 4j+4) (the tail
    * window keeps its true length), the standard anti-aliased integer
    * decimator. The output rate is the PARSED container rate divided by
    * the factor, so a lane that fakes the header walk fails on rate_out.
    * Per-doc exact-integer stats over the resampled signal (sum, min,
    * max, first, last) — DuckDB's `//` and Scala's `/` both truncate
    * toward zero, so the mean needs no float and no bias trick. Same
    * narrow mapPartitions shape as the rest of the family.
    */
  def mmAudioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        Multimodal.wavPcmContainer(col("doc_id"), col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          graft.functions.MediaHeaders.wavSamples(payload) match {
            case Right((rate, _, s)) if s.nonEmpty =>
              val nOut = (s.length + ResampleBy - 1) / ResampleBy
              var sum = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
              var first = 0L; var last = 0L
              var j = 0
              while (j < nOut) {
                val from = j * ResampleBy
                val until = math.min(from + ResampleBy, s.length)
                var w = 0L
                var i = from
                while (i < until) { w += s(i); i += 1 }
                val v = w / (until - from) // truncating mean
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                if (j == 0) first = v
                last = v
                j += 1
              }
              (id, s.length.toLong, nOut.toLong,
                (rate / ResampleBy).toLong, sum, mn, mx, first, last)
            case _ => (id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("doc_id", "n_in", "n_out", "rate_out", "rs_sum", "rs_min",
        "rs_max", "first_rs", "last_rs")
      .orderBy(col("doc_id"))
  }

  private val ResampleOracle: String =
    s"""WITH d AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
      |dims AS (
      |  SELECT doc_id, 64 + n % 193 AS ns, doc_id * 13 AS s FROM d),
      |sm AS (
      |  SELECT doc_id, ns, t.i // $ResampleBy AS j,
      |    (t.i * 37 + s) % 2001 - 1000 AS v
      |  FROM dims, LATERAL unnest(generate_series(0, ns - 1)) AS t(i)),
      |rs AS (
      |  SELECT doc_id, ns, j, sum(v) // count(*) AS v
      |  FROM sm GROUP BY doc_id, ns, j)
      |SELECT doc_id, cast(ns AS BIGINT) AS n_in,
      |  cast(count(*) AS BIGINT) AS n_out,
      |  cast(16000 // $ResampleBy AS BIGINT) AS rate_out,
      |  cast(sum(v) AS BIGINT) AS rs_sum,
      |  cast(min(v) AS BIGINT) AS rs_min,
      |  cast(max(v) AS BIGINT) AS rs_max,
      |  cast(min(CASE WHEN j = 0 THEN v END) AS BIGINT) AS first_rs,
      |  cast(min(CASE WHEN j = (ns - 1) // $ResampleBy THEN v END) AS BIGINT)
      |    AS last_rs
      |FROM rs GROUP BY doc_id, ns ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ TIFF header

  /** TIFF fixture synthesis: geometry from the byte length, BYTE ORDER
    * from doc parity — half the corpus is 'II', half 'MM', so a parser
    * with a hard-coded endianness fails exactly half the rows.
    */
  private val tiffContainer = udf { (docId: Long, bytes: Array[Byte]) =>
    val n = bytes.length
    graft.functions.TiffHeader.tiffWrap(
      littleEndian = docId % 2 == 0,
      width = 16 + n % 509,
      height = 16 + (n * 13) % 257,
      bits = 8 + (docId % 2).toInt * 8,
      payload = bytes)
  }

  /** Header decode of the SELF-DECLARED-byte-order container: TIFF's
    * 'II'/'MM' mark chooses the endianness of every field that
    * follows, so the one parser must run both interpretations — the
    * family member BMP/WAV (LE by spec) and PNG/JPEG (BE by spec)
    * cannot exercise. The walk parses the IFD's ascending tag entries
    * (SHORT values packed in the declared order's low half) and emits
    * byte order + geometry + sample format; the oracle replays the
    * synthesis formulas including the parity-chosen order. Same narrow
    * shape as the rest of the decode family.
    */
  def mmDecodeTiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        tiffContainer(col("doc_id"), col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          graft.functions.TiffHeader.tiffInfo(payload) match {
            case Right(t) =>
              (id, t.byteOrder, t.width.toLong, t.height.toLong,
                t.bits.toLong, t.compression.toLong, t.nEntries.toLong)
            case Left(_) => (id, "unsupported", 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("doc_id", "byte_order", "width", "height", "bits",
        "compression", "n_entries")
      .orderBy(col("doc_id"))
  }

  private val TiffOracle: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
      |  cast(16 + octet_length(encode(text)) % 509 AS BIGINT) AS width,
      |  cast(16 + (octet_length(encode(text)) * 13) % 257 AS BIGINT) AS height,
      |  cast(8 + (doc_id % 2) * 8 AS BIGINT) AS bits,
      |  cast(1 AS BIGINT) AS compression,
      |  cast(4 AS BIGINT) AS n_entries
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- EXIF

  /** Splice a real Exif APP1 segment (TIFF stream behind `Exif` + two NUL bytes)
    * into a JFIF stream right after its APP0 — the layout cameras
    * write. The TIFF's byte order flips by doc parity while JPEG's
    * segment framing stays big-endian: the fixture nests two
    * endianness regimes in one file.
    */
  private[graft] def exifContainer(docId: Long,
      bytes: Array[Byte]): Array[Byte] = {
    val n = bytes.length
    val jpeg = graft.functions.MediaHeaders.jpegWrap(bytes,
      20 + n % 800, 20 + (n * 3) % 600, n % 23)
    val tiff = graft.functions.TiffHeader.tiffWrap(
      docId % 2 == 0,
      32 + (docId % 100).toInt, 24 + (docId % 50).toInt,
      8 + (docId % 2).toInt * 8, Array.emptyByteArray)
    val seg = new Array[Byte](4 + 6 + tiff.length)
    seg(0) = 0xff.toByte
    seg(1) = 0xe1.toByte
    val len = 2 + 6 + tiff.length
    seg(2) = (len >>> 8).toByte
    seg(3) = len.toByte
    System.arraycopy("Exif".getBytes("US-ASCII"), 0, seg, 4, 4)
    // seg(8) = seg(9) = 0 already
    System.arraycopy(tiff, 0, seg, 10, tiff.length)
    val spliceAt = 20 // SOI (2) + APP0 (18)
    val out = new Array[Byte](jpeg.length + seg.length)
    System.arraycopy(jpeg, 0, out, 0, spliceAt)
    System.arraycopy(seg, 0, out, spliceAt, seg.length)
    System.arraycopy(jpeg, spliceAt, out, spliceAt + seg.length,
      jpeg.length - spliceAt)
    out
  }

  private val exifContainerUdf = udf { (id: Long, bytes: Array[Byte]) =>
    exifContainer(id, bytes)
  }

  /** EXIF metadata extraction — the two-container composition: the
    * JPEG marker walk finds the Exif APP1 (whose offset varies per row
    * with the COM length, so fixed-offset reads cannot fake it), and
    * the embedded TIFF is parsed in whichever byte order IT declares —
    * independent of JPEG's big-endian framing, flipped by doc parity
    * so a parser inheriting the outer endianness fails half the
    * corpus. Same narrow decode shape as the rest of the family.
    */
  def mmExifMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        exifContainerUdf(col("doc_id"), col("text").cast("binary"))
          .as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          graft.functions.MediaHeaders.exifProbe(payload) match {
            case Right((tiff, w, h)) =>
              graft.functions.TiffHeader.tiffInfo(tiff) match {
                case Right(t) =>
                  (id, w.toLong, h.toLong, t.byteOrder,
                    t.width.toLong, t.height.toLong, t.bits.toLong)
                case Left(_) => (id, 0L, 0L, "unsupported", 0L, 0L, 0L)
              }
            case Left(_) => (id, 0L, 0L, "unsupported", 0L, 0L, 0L)
          }
        }
      }
      .toDF("doc_id", "jpeg_w", "jpeg_h", "exif_order", "exif_w",
        "exif_h", "exif_bits")
      .orderBy(col("doc_id"))
  }

  private val ExifOracle: String =
    """SELECT doc_id,
      |  cast(20 + octet_length(encode(text)) % 800 AS BIGINT) AS jpeg_w,
      |  cast(20 + (octet_length(encode(text)) * 3) % 600 AS BIGINT)
      |    AS jpeg_h,
      |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS exif_order,
      |  cast(32 + doc_id % 100 AS BIGINT) AS exif_w,
      |  cast(24 + doc_id % 50 AS BIGINT) AS exif_h,
      |  cast(8 + (doc_id % 2) * 8 AS BIGINT) AS exif_bits
      |FROM documents ORDER BY doc_id""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    // EXIF: the oracle replays both containers' synthesis formulas;
    // Spark earns the values only by the marker walk + the
    // independently-endian TIFF parse
    QueryDef("mm_exif_meta", mmExifMeta _, ExifOracle),
    // CONTENT replay for the VIDEO tier: the oracle regenerates the
    // sampled frames' coefficients (the jpeg formula + a frame term)
    // and replays the shared fixed-point IDCT; container fields
    // (n_frames, usec_per_frame) regenerate from the synthesis
    // formulas. Spark earns every value by walking real RIFF chunks
    // and entropy-decoding only the sampled '00dc' payloads.
    QueryDef("mm_video_frames", mmVideoFrames _, videoOracle),
    // the oracle regenerates the int16 samples from the synthesis
    // formula and replays the truncating-mean decimator; Spark earns
    // the values by parsing LE int16 PCM out of the RIFF data chunk
    // (and rate_out by parsing the fmt chunk's sample rate)
    QueryDef("mm_audio_resample", mmAudioResample _, ResampleOracle),
    // the oracle replays the synthesis formulas incl. the
    // parity-chosen byte order; Spark earns byte_order/geometry/bits
    // only by dispatching on the 'II'/'MM' mark and walking the IFD
    // in whichever order the stream declares
    QueryDef("mm_decode_tiff", mmDecodeTiff _, TiffOracle))
}
