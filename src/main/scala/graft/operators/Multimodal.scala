package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Multimodal-column pattern: media as opaque `binary` payloads beside a
  * typed metadata struct, with decode / feature-extraction as
  * partition-mapped batch operators.
  *
  * The DECODE step is a real header-level parser
  * ([[graft.functions.MediaHeaders]]): magic-byte sniffing plus BMP /
  * RIFF-WAVE header arithmetic that yields true dimensions for any real
  * file of those formats — no codec library needed, because container
  * headers are self-describing. What stays synthetic is the test DATA:
  * the documents table carries no media, so [[asMedia]] wraps each
  * document's bytes into a genuine BMP container (spec-faithful header,
  * content-synthetic pixel array) whose declared dimensions are a fixed
  * arithmetic function of the byte length — which is what lets DuckDB
  * replay the decode as arithmetic while Spark honestly parses bytes.
  * Entropy-coded formats (JPEG/PNG) would slot in behind the same
  * `probe` seam with a codec dependency and nothing else would change.
  *
  * At 100 TB: payloads live in parquet binary columns (or pointers to
  * object storage); decode cost dominates, so the operator must be a
  * narrow per-partition map — which this is — and column pruning must
  * keep payload bytes out of queries that only touch metadata.
  */
object Multimodal {
  import graft.functions.MediaHeaders

  /** Fixture-synthesis side of the decode round-trip: wrap bytes in a
    * real BMP container whose header declares width/height by the fixed
    * formulas the oracles replay. A scalar UDF (not codegen) is fine
    * here — container synthesis exists only because the test tables have
    * no media; production data arrives already encoded.
    */
  private val bmpContainer = udf { bytes: Array[Byte] =>
    val n = bytes.length
    MediaHeaders.bmpWrap(bytes, 64 + n % 577, 64 + (n * 31) % 353)
  }

  /** The documents table dressed as a multimodal table: payload = a real
    * BMP container around the document's UTF-8 bytes.
    */
  def asMedia(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      bmpContainer(col("text").cast("binary")).as("payload"),
      struct(col("source").as("container"), col("lang").as("tag"),
        col("n_chars")).as("meta"))

  /** Header-level decode over the binary payload via mapPartitions — the
    * real batch shape: per-partition iterator in, iterator out, pure
    * byte arithmetic per element ([[MediaHeaders.probe]] sniffs the
    * format; an unrecognized payload becomes an `unsupported` ROW, never
    * a task failure). `n_bytes` is the pixel-array size the header
    * declares (biSizeImage) — for the synthesized containers, exactly
    * the wrapped document's byte length, which the oracle replays.
    */
  def mmDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asMedia(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          MediaHeaders.probe(payload) match {
            case MediaHeaders.ImageInfo(f, w, h, nb) => (id, f, w, h, nb)
            // a non-image payload in an image scan is a datum to route,
            // not an error: keep the sniffed format, zero the image dims
            case MediaHeaders.AudioInfo(f, _, _, _, _) => (id, f, 0, 0, 0)
            case MediaHeaders.Unsupported(_) => (id, "unsupported", 0, 0, 0)
          }
        }
      }
      .toDF("doc_id", "format", "width", "height", "n_bytes")
      .orderBy(col("doc_id"))
  }

  /** Frame sampling: address fixed-size 256-byte chunks of the payload
    * ("video frames"), one output row per frame with its digest —
    * explode + substring arithmetic, all codegen.
    */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .select(col("doc_id"), col("text"), col("n"),
        explode(sequence(lit(0), expr("(n - 1) div 256"))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        least(lit(256), col("n") - col("frame_idx") * 256).as("frame_len"),
        md5(substring(col("text"), lit(1) + col("frame_idx") * 256, lit(256))
          .cast("binary")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Windowed-frame length for [[mmAudioFeatures]] (samples per
    * analysis frame — the standard short-window feature-extraction
    * shape, non-overlapping hop).
    */
  private[graft] val AudioFrameLen = 32

  /** AUDIO feature extraction on DECODED CONTENT — the real-samples
    * re-base of the former ascii-stub lane: the payload's int16 PCM is
    * parsed out of a genuine RIFF/WAVE data chunk
    * ([[MediaHeaders.wavSamples]]), then reduced per non-overlapping
    * 32-sample analysis frame to the exact-integer short-window
    * features an audio-curation pass runs — energy (Σv², the VAD
    * discriminant), peak amplitude, in-frame zero crossings. One
    * output row per frame; all arithmetic exact integers, so the
    * formula-replaying oracle hash-fails every row on any byte-order,
    * sign-extension, or window-boundary mistake. Same narrow
    * mapPartitions shape (and 100 TB posture) as the rest of the
    * decode family: content bytes never shuffle, only the small
    * feature rows do.
    */
  def mmAudioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        wavPcmContainer(col("doc_id"), col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          MediaHeaders.wavSamples(payload) match {
            case Right((_, _, s)) if s.nonEmpty =>
              val nf = (s.length + AudioFrameLen - 1) / AudioFrameLen
              (0 until nf).map { f =>
                val from = f * AudioFrameLen
                val until = math.min(from + AudioFrameLen, s.length)
                var energy = 0L; var peak = 0L; var zc = 0L
                var i = from
                while (i < until) {
                  val v = s(i).toLong
                  energy += v * v
                  if (math.abs(v) > peak) peak = math.abs(v)
                  if (i > from && s(i - 1).toLong * v < 0) zc += 1
                  i += 1
                }
                (id, f.toLong, (until - from).toLong, energy, peak, zc)
              }
            case _ => Seq.empty
          }
        }
      }
      .toDF("doc_id", "frame_idx", "n_s", "energy", "peak_abs", "zc")
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Frames per scene in the [[mmSceneCuts]] fixture (scene boundaries
    * land where `frame_idx % SceneLen == 0`).
    */
  private[graft] val SceneLen = 3

  /** Animated-GIF fixture synthesis for the scene-cut lane: a genuine
    * multi-frame GIF89a — per-frame Graphic Control Extensions, one
    * full-frame image descriptor per frame, each frame's pixel data
    * independently LZW-compressed ([[graft.functions.GifPixels
    * .gifWrapFrames]]). Frame f's indices follow a fixed formula of
    * (pixel i, doc_id, scene f/3, phase f%3): within a scene
    * consecutive frames shift every pixel's palette index by +1 mod 16
    * (small visual drift), across a scene boundary by +4 mod 16 (a
    * hard content change) — so inter-frame distance genuinely
    * separates the two classes and the oracle can replay it all.
    */
  private val gifAnimContainer = udf { (docId: Long, bytes: Array[Byte]) =>
    val n = bytes.length
    val w = 8 + n % 29
    val h = 8 + (n * 7) % 19
    val nFrames = 6 + n % 7
    val frames = (0 until nFrames).map { f =>
      val base = docId * 11 + (f / SceneLen) * 6 + (f % SceneLen)
      Array.tabulate(w * h)(i => (((i * 31) + base) % 16).toByte)
    }
    graft.functions.GifPixels.gifWrapFrames(w, h, gifPalette, frames)
  }

  /** VIDEO scene-cut detection on DECODED CONTENT — the real-frames
    * re-base of the former digest-nibble stub: every frame of an
    * animated GIF comes back through the real LZW decompressor
    * ([[graft.functions.GifPixels.gifFrames]] — per-frame dictionaries,
    * GCE extension skips between image descriptors), and a cut is
    * scored the way a video pipeline scores it: per-pixel L1 distance
    * between consecutive DECODED frames, cut where the distance
    * crosses a threshold (here 3.5×n_pixels — within-scene drift
    * averages 1.875/pixel, scene boundaries 6/pixel, both exact
    * integers by the fixture's construction). One row per frame
    * transition with the exact distance and the flag; the oracle
    * replays the synthesis formulas per frame pair and NEVER touches
    * LZW — a one-bit codec bug in any frame fails that doc's rows.
    * Frames are compared inside one partition-mapped pass (a GIF's
    * frames arrive in one payload — no shuffle to align them); at
    * 100 TB the unit of parallelism is the video file, which is
    * exactly how a frame-sampled decode fleet partitions.
    */
  def mmSceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        gifAnimContainer(col("doc_id"), col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          graft.functions.GifPixels.gifFrames(payload) match {
            case Right(anim) if anim.frames.length >= 2 =>
              val np = anim.width * anim.height
              (1 until anim.frames.length).map { f =>
                val prev = anim.frames(f - 1)
                val curr = anim.frames(f)
                var l1 = 0L
                var i = 0
                while (i < np) {
                  l1 += math.abs((curr(i) & 0xff) - (prev(i) & 0xff))
                  i += 1
                }
                (id, f.toLong, l1, l1 * 2 > 7L * np)
              }
            case _ => Seq.empty
          }
        }
      }
      .toDF("doc_id", "frame_idx", "l1_dist", "is_cut")
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Resize stage chained on decode: fit each "image" into a 224×224
    * box preserving aspect ratio — integer arithmetic only, so the
    * result is exact in any engine. The chain decode → resize is the
    * real pipeline shape; only the codec inside decode is stubbed.
    */
  def mmResize(spark: SparkSession, dir: String): DataFrame =
    mmDecode(spark, dir)
      .withColumn("out_w",
        when(col("width") >= col("height"), lit(224))
          .otherwise(expr("(width * 224) div height")).cast("long"))
      .withColumn("out_h",
        when(col("width") >= col("height"), expr("(height * 224) div width"))
          .otherwise(lit(224)).cast("long"))
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("out_w"), col("out_h"))
      .orderBy(col("doc_id"))

  /** True-raster fixture synthesis for the CONTENT-level queries: a
    * spec-faithful 24-bit BMP whose pixel array is the real thing —
    * bottom-up rows, 4-byte stride padding (pad bytes 0xAA so a
    * stride bug shows up in the sums), geometry small enough
    * (8–44 × 8–30) that the oracle can regenerate every pixel with
    * generate_series. Pixel content: logical content index i (top-down
    * row-major, BGR) carries the byte ((i + 7·doc_id) mod 256) — the
    * formula the oracle replays. The DECODER never sees this formula;
    * it earns the values by undoing the storage layout byte-by-byte.
    */
  private def rasterDims(n: Int): (Int, Int) =
    (8 + n % 37, 8 + (n * 13) % 23)

  private val bmpRasterContainer = udf { (docId: Long, bytes: Array[Byte]) =>
    val n = bytes.length
    val (w, h) = rasterDims(n)
    val content = Array.tabulate(w * h * 3)(i => ((i + 7 * docId) % 256).toByte)
    MediaHeaders.bmpWrapRaster(w, h, content)
  }

  private def asRasterMedia(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      bmpRasterContainer(col("doc_id"), col("text").cast("binary")).as("payload"))

  /** Content-level image statistics — the first decoder in the family
    * to read PIXELS, not just headers: per-channel sums, global
    * min/max, and the top-row sum over the genuinely decoded raster
    * ([[MediaHeaders.bmpRaster]] undoes bottom-up storage and stride
    * padding; 0xAA pad bytes poison the sums if the walk is off by
    * even one byte, and top_row_sum is wrong unless the row-order flip
    * is honored). Same narrow batch shape as [[mmDecode]]: a
    * per-partition map, no shuffle until the output sort. At 100 TB
    * this is the honest CPU profile of a decode stage — content bytes
    * dominate, which is why the header-only queries exist beside it.
    */
  def mmPixelStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asRasterMedia(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          MediaHeaders.bmpRaster(payload) match {
            case Right(rst) =>
              val c = rst.content
              var bSum = 0L; var gSum = 0L; var rSum = 0L
              var mn = 255; var mx = 0; var topSum = 0L
              val topLen = 3 * rst.width
              var i = 0
              while (i < c.length) {
                val v = c(i) & 0xff
                (i % 3: @annotation.switch) match {
                  case 0 => bSum += v
                  case 1 => gSum += v
                  case _ => rSum += v
                }
                if (v < mn) mn = v
                if (v > mx) mx = v
                if (i < topLen) topSum += v
                i += 1
              }
              (id, rst.width.toLong, rst.height.toLong,
                rst.width.toLong * rst.height, bSum, gSum, rSum,
                mn.toLong, mx.toLong, topSum)
            case Left(_) => (id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("doc_id", "width", "height", "n_pixels", "blue_sum",
        "green_sum", "red_sum", "px_min", "px_max", "top_row_sum")
      .orderBy(col("doc_id"))
  }

  /** Content-level nearest-neighbor resize to a 4×4 thumbnail — the
    * real downsample arithmetic (source pixel (⌊ry·h/4⌋, ⌊rx·w/4⌋) per
    * target cell) over genuinely decoded pixel bytes, replacing
    * [[mmResize]]'s geometry-only aspect math for the content path.
    * One output row per thumbnail cell with its BGR sample. The
    * thumbnail is deliberately tiny: the POINT is the positional
    * mapping (any storage-layout mistake moves which byte each cell
    * samples), not the output volume.
    */
  def mmPixelResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    asRasterMedia(spark, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          MediaHeaders.bmpRaster(payload) match {
            case Right(rst) =>
              for (ry <- 0 until 4; rx <- 0 until 4) yield {
                val base = ((ry * rst.height / 4) * rst.width
                  + (rx * rst.width / 4)) * 3
                val c = rst.content
                (id, ry.toLong, rx.toLong, (c(base) & 0xff).toLong,
                  (c(base + 1) & 0xff).toLong, (c(base + 2) & 0xff).toLong)
              }
            case Left(_) => Seq.empty
          }
        }
      }
      .toDF("doc_id", "ry", "rx", "b", "g", "r")
      .orderBy(col("doc_id"), col("ry"), col("rx"))
  }

  /** GIF fixture synthesis for the COMPRESSED content tier: a genuine
    * single-frame GIF89a whose pixel data is REAL LZW (variable-width
    * codes, dictionary growth, CLEAR/EOI — [[graft.functions.GifPixels]]),
    * with a 16-color global table. Geometry, palette and indices are
    * fixed formulas of (byte length, doc_id) that the oracle replays;
    * the LZW bytes in between are earned by the codec on both ends.
    */
  private def gifPalette: Array[Int] =
    Array.tabulate(16)(p => ((p * 17) << 16) | (((p * 29) % 256) << 8) |
      ((p * 43) % 256))

  private val gifPixelContainer = udf { (docId: Long, bytes: Array[Byte]) =>
    val n = bytes.length
    val w = 8 + n % 29
    val h = 8 + (n * 7) % 19
    val idx = Array.tabulate(w * h)(i => (((i * 31) + docId * 11) % 16).toByte)
    graft.functions.GifPixels.gifWrapPixels(w, h, gifPalette, idx)
  }

  /** Content-level decode of a COMPRESSED format: the payload's pixel
    * indices come back through a real LZW decompression — bit-unpacking
    * variable-width codes, growing the dictionary, honoring CLEAR/EOI
    * and the cScSc case — then map through the parsed global color
    * table for channel sums. This is the step up from
    * [[mmPixelStats]]'s raw BMP walk: the bytes between header and
    * stats are entropy-coded, so nothing short of a working codec can
    * produce the right sums (the oracle regenerates indices from the
    * synthesis formula and never touches LZW — one bit-packing or
    * width-bump bug anywhere and every row hash-fails). first/last
    * index pin pixel ORDER, not just multiset equality.
    */
  def mmGifPixels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        gifPixelContainer(col("doc_id"), col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          graft.functions.GifPixels.gifRaster(payload) match {
            case Right(r) =>
              var idxSum = 0L; var rSum = 0L; var gSum = 0L; var bSum = 0L
              val seen = new Array[Boolean](r.palette.length)
              var i = 0
              while (i < r.indices.length) {
                val ix = r.indices(i) & 0xff
                val c = r.palette(ix)
                idxSum += ix
                rSum += (c >> 16) & 0xff
                gSum += (c >> 8) & 0xff
                bSum += c & 0xff
                seen(ix) = true
                i += 1
              }
              (id, r.width.toLong, r.height.toLong,
                r.width.toLong * r.height, idxSum, rSum, gSum, bSum,
                seen.count(identity).toLong,
                (r.indices(0) & 0xff).toLong,
                (r.indices(r.indices.length - 1) & 0xff).toLong)
            case Left(_) =>
              (id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("doc_id", "width", "height", "n_pixels", "idx_sum", "red_sum",
        "green_sum", "blue_sum", "n_distinct_idx", "first_idx", "last_idx")
      .orderBy(col("doc_id"))
  }

  /** WAV fixture synthesis for the audio CONTENT tier: a genuine
    * RIFF/WAVE container whose data chunk is REAL 16-bit PCM — sample i
    * carries ((i·37 + 13·doc_id) mod 2001) − 1000 as a little-endian
    * int16, the formula the oracle replays. Mono, 16 kHz. Shared with
    * [[Multimodal2.mmAudioResample]], so the resample lane decodes the
    * same containers the rest of the audio family does.
    */
  private[operators] val wavPcmContainer = udf { (docId: Long, bytes: Array[Byte]) =>
    val n = bytes.length
    val ns = 64 + n % 193
    val pcm = new Array[Byte](ns * 2)
    var i = 0
    while (i < ns) {
      val v = ((i * 37 + docId * 13) % 2001 - 1000).toInt
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    MediaHeaders.wavWrap(pcm, 16000, 1, 16)
  }

  /** Content-level AUDIO decode — the real-samples upgrade over
    * [[mmAudioFeatures]]'s documented stub: the payload's int16 PCM
    * samples are parsed from the data chunk
    * ([[MediaHeaders.wavSamples]] — RIFF walk, LE int16, 16-bit-only
    * with quarantine) and reduced to the exact-integer signal stats an
    * audio-curation pass runs (energy proxy, peak, zero-crossing rate —
    * the cheap voice/noise discriminators). first/last sample pin byte
    * order and sign handling: one endianness or sign-extension mistake
    * and every row hash-fails against the formula-replaying oracle.
    */
  def mmWavSamples(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        wavPcmContainer(col("doc_id"), col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          MediaHeaders.wavSamples(payload) match {
            case Right((_, _, s)) if s.nonEmpty =>
              var sum = 0L; var absSum = 0L; var peak = 0L; var zc = 0L
              var i = 0
              while (i < s.length) {
                val v = s(i).toLong
                sum += v
                absSum += math.abs(v)
                if (math.abs(v) > peak) peak = math.abs(v)
                if (i > 0 && s(i - 1).toLong * v < 0) zc += 1
                i += 1
              }
              (id, s.length.toLong, sum, absSum, peak, zc,
                s(0).toLong, s(s.length - 1).toLong)
            case _ => (id, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("doc_id", "n_samples", "sum_s", "abs_sum", "peak_abs",
        "zero_crossings", "first_s", "last_s")
      .orderBy(col("doc_id"))
  }

  /** Mixed-container synthesis for [[mmDecodeMixed]]: one quarter of
    * the corpus each as PNG / BMP / RIFF-WAVE / GIF by `doc_id % 4`,
    * with declared geometry a fixed function of the byte length — the
    * formulas the oracle replays. GIF dims stay within uint16 by
    * construction (LE uint16 fields in the Logical Screen Descriptor).
    */
  private val mixedContainer = udf { (docId: Long, bytes: Array[Byte]) =>
    val n = bytes.length
    (docId % 4).toInt match {
      case 0 => MediaHeaders.pngWrap(bytes, 32 + n % 641, 32 + (n * 17) % 409)
      case 1 => MediaHeaders.bmpWrap(bytes, 64 + n % 577, 64 + (n * 31) % 353)
      case 2 => MediaHeaders.wavWrap(bytes, 8000 + (n % 5) * 4000, 1 + n % 2, 16)
      case _ => MediaHeaders.gifWrap(bytes, 16 + n % 509, 16 + (n * 13) % 257)
    }
  }

  /** The mixed-container wrap + probe stage as a SOURCE-AGNOSTIC
    * transform over any documents-shaped frame — the same code path
    * serves the batch query below and the streaming twin
    * (`stream_mm_decode`), which is the honest claim a continuous
    * decode fleet makes: per-micro-batch work IS the batch operator,
    * not a reimplementation.
    */
  private[graft] def mixedDecodeStage(spark: SparkSession,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id"),
        mixedContainer(col("doc_id"), col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          MediaHeaders.probe(payload) match {
            case MediaHeaders.ImageInfo(f, w, h, nb) =>
              (id, f, w, h, 0, 0L, nb.toLong)
            case MediaHeaders.AudioInfo(f, sr, ch, bits, ns) =>
              (id, f, 0, 0, sr, ns, ns * ch * (bits / 8))
            case MediaHeaders.Unsupported(_) =>
              (id, "unsupported", 0, 0, 0, 0L, 0L)
          }
        }
      }
      .toDF("doc_id", "format", "width", "height", "sample_rate",
        "n_samples", "n_bytes")
  }

  /** Heterogeneous ingest — the realistic metadata-extraction shape: a
    * corpus MIXING image and audio containers flows through ONE decode
    * pass; `MediaHeaders.probe` sniffs each payload's magic and routes
    * it to the right parser (PNG big-endian chunk walk summing IDAT
    * lengths, BMP little-endian DIB header, RIFF chunk walk, GIF
    * fixed-offset LE uint16 screen descriptor), and the
    * unified schema carries zeros for the columns a format doesn't
    * declare. Every reported value is genuinely parsed from container
    * bytes; the oracle replays the synthesis formulas.
    */
  def mmDecodeMixed(spark: SparkSession, dir: String): DataFrame =
    mixedDecodeStage(spark, Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** JPEG fixture synthesis: a real JFIF stream whose COM segment
    * length varies with the byte length, so the SOF offset differs per
    * row and only a genuine marker walk can find the geometry (the
    * other containers park it at fixed offsets — JPEG is the family's
    * variable-offset member). Dims stay inside uint16 by construction.
    */
  private val jpegContainer = udf { bytes: Array[Byte] =>
    val n = bytes.length
    MediaHeaders.jpegWrap(bytes, 16 + n % 1021, 16 + (n * 7) % 739, n % 23)
  }

  /** Header-level JPEG decode — the marker-WALK member of the decode
    * family: segments carry self-declared big-endian lengths and the
    * SOF lands at no fixed offset, so [[MediaHeaders.probe]] hops
    * APP0 → COM → DQT to reach the geometry, then stops at SOS and
    * reports the entropy-stream span as `n_bytes`. Same narrow
    * mapPartitions shape (and 100 TB posture) as [[mmDecode]]; the
    * oracle replays the synthesis formulas from the byte length while
    * Spark earns the values by walking the bytes it wrapped.
    */
  def mmDecodeJpeg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        jpegContainer(col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          MediaHeaders.probe(payload) match {
            case MediaHeaders.ImageInfo(f, w, h, nb) => (id, f, w, h, nb)
            case MediaHeaders.AudioInfo(f, _, _, _, _) => (id, f, 0, 0, 0)
            case MediaHeaders.Unsupported(_) => (id, "unsupported", 0, 0, 0)
          }
        }
      }
      .toDF("doc_id", "format", "width", "height", "n_bytes")
      .orderBy(col("doc_id"))
  }

  /** JPEG fixture synthesis for the ENTROPY-CODED content tier: a
    * genuine baseline-sequential grayscale JPEG whose quantized
    * coefficient blocks follow a fixed formula of (doc_id, block,
    * zigzag position) — sparse tails so the encoder genuinely exercises
    * EOB/run coding, varying DC so the prediction chain carries state
    * across blocks. The stream between the coefficients and the pixels
    * (Huffman tables, byte stuffing, zigzag, dequant, fixed-point IDCT)
    * is earned by the codec on both ends; the oracle replays
    * coefficients + the SAME integer IDCT constants and never touches
    * the entropy coding.
    */
  private val jpegPixelContainer = udf { (docId: Long, bytes: Array[Byte]) =>
    val n = bytes.length
    val w = 8 * (1 + n % 3)
    val h = 8 * (1 + (n * 7) % 2)
    val zmax = (5 + docId % 5).toInt
    val quant = Array.tabulate(64)(z => 1 + z % 8)
    val blocks = Array.tabulate((w / 8) * (h / 8)) { b =>
      Array.tabulate(64) { z =>
        if (z <= zmax) (((z * 7 + b * 5 + docId * 3) % 21) - 10).toInt
        else 0
      }
    }
    graft.functions.JpegCodec.jpegWrapBaseline(w, h, quant, blocks)
  }

  /** Content-level decode of an ENTROPY-CODED format — the last step of
    * the family's header→content arc (BMP walked raw bytes, GIF
    * decompressed LZW): the payload's pixels come back through a real
    * baseline JPEG decode — DQT/DHT parsed from the stream, canonical
    * Huffman decoding with 0xFF00 unstuffing, DC prediction, zigzag,
    * dequantization, and the deterministic fixed-point IDCT
    * ([[graft.functions.JpegCodec]] — integer cosine constants shared
    * with the oracle, so encode(coefficients)→decode is bit-exact and
    * SQL-replayable despite JPEG being float-lossy in the wild; the
    * forward-DCT/quantization loss is documented out of scope). Stats
    * pin geometry, sums, extrema and three corner pixels —
    * top-right/bottom-right catch a transposed IDCT that the diagonal
    * corners would miss. Same narrow mapPartitions shape (and 100 TB
    * posture) as the rest of the decode family.
    */
  def mmJpegPixels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        jpegPixelContainer(col("doc_id"), col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          graft.functions.JpegCodec.jpegRaster(payload) match {
            case Right(r) =>
              val p = r.pixels
              var sum = 0L; var mn = 255L; var mx = 0L
              var i = 0
              while (i < p.length) {
                val v = (p(i) & 0xff).toLong
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                i += 1
              }
              (id, r.width.toLong, r.height.toLong,
                (r.width / 8).toLong * (r.height / 8), sum, mn, mx,
                (p(0) & 0xff).toLong,
                (p(r.width - 1) & 0xff).toLong,
                (p(p.length - 1) & 0xff).toLong)
            case Left(_) => (id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("doc_id", "width", "height", "n_blocks", "px_sum", "px_min",
        "px_max", "first_px", "top_right_px", "last_px")
      .orderBy(col("doc_id"))
  }

  /** The IDCT replay constants, interpolated into the oracle from the
    * codec's own arrays — one source of truth for both engines.
    */
  private def jpegOracle: String = {
    import graft.functions.JpegCodec
    val zigRows = JpegCodec.ZigZag.zipWithIndex
      .map { case (p, z) => s"($z,${p / 8},${p % 8})" }.mkString(",")
    val cosRows = (for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u,$x,${JpegCodec.CosTable(u)(x)})").mkString(",")
    s"""WITH d AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
      |dims AS (
      |  SELECT doc_id, 8 * (1 + n % 3) AS w, 8 * (1 + (n * 7) % 2) AS h,
      |    5 + doc_id % 5 AS zmax, doc_id * 3 AS s0 FROM d),
      |zig AS (SELECT * FROM (VALUES $zigRows) AS t(z, u, v)),
      |ct AS (SELECT * FROM (VALUES $cosRows) AS t(u, x, cz)),
      |blocks AS (
      |  SELECT doc_id, w, h, zmax, s0, bb.b AS b
      |  FROM dims, LATERAL unnest(generate_series(0, (w//8)*(h//8) - 1)) AS bb(b)),
      |coefs AS (
      |  SELECT doc_id, w, h, b, z.u AS u, z.v AS v,
      |    (CASE WHEN z.z <= zmax
      |       THEN ((z.z*7 + b*5 + s0) % 21) - 10 ELSE 0 END)
      |      * (1 + z.z % 8) AS coef
      |  FROM blocks, zig z),
      |px AS (
      |  SELECT cf.doc_id, cf.w, cf.h, cf.b, yy.y AS y, xx.x AS x,
      |    least(255, greatest(0,
      |      (sum(cf.coef * cu.cz * cv.cz)
      |        + ${JpegCodec.IdctHalf} + ${JpegCodec.IdctBias})
      |        // ${JpegCodec.IdctShiftDiv} - ${JpegCodec.IdctBiasQ} + 128)) AS px
      |  FROM coefs cf,
      |    LATERAL unnest(generate_series(0, 7)) AS yy(y),
      |    LATERAL unnest(generate_series(0, 7)) AS xx(x)
      |  JOIN ct cu ON cu.u = cf.u AND cu.x = yy.y
      |  JOIN ct cv ON cv.u = cf.v AND cv.x = xx.x
      |  GROUP BY cf.doc_id, cf.w, cf.h, cf.b, yy.y, xx.x),
      |placed AS (
      |  SELECT doc_id, w, h, px,
      |    (b // (w//8)) * 8 + y AS gy, (b % (w//8)) * 8 + x AS gx
      |  FROM px)
      |SELECT doc_id, cast(w AS BIGINT) AS width, cast(h AS BIGINT) AS height,
      |  cast((w//8)*(h//8) AS BIGINT) AS n_blocks,
      |  cast(sum(px) AS BIGINT) AS px_sum,
      |  cast(min(px) AS BIGINT) AS px_min,
      |  cast(max(px) AS BIGINT) AS px_max,
      |  cast(min(CASE WHEN gy = 0 AND gx = 0 THEN px END) AS BIGINT) AS first_px,
      |  cast(min(CASE WHEN gy = 0 AND gx = w - 1 THEN px END) AS BIGINT) AS top_right_px,
      |  cast(min(CASE WHEN gy = h - 1 AND gx = w - 1 THEN px END) AS BIGINT) AS last_px
      |FROM placed GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin
  }

  /** PNG fixture synthesis for the DEFLATE content tier: a genuine
    * 8-bit grayscale PNG whose pixels follow a fixed formula of
    * (index, doc_id); each scanline is filtered with a DIFFERENT
    * filter type (row % 5) and the zlib stream comes from the JVM's
    * own Deflater (dynamic-Huffman blocks).
    */
  private val pngPixelContainer = udf { (docId: Long, bytes: Array[Byte]) =>
    val n = bytes.length
    val w = 8 + n % 41
    val h = 8 + (n * 11) % 23
    val px = Array.tabulate(w * h)(i => ((i * 13 + docId * 29) % 256).toByte)
    graft.functions.PngCodec.pngWrapGray(w, h, px)
  }

  /** Content-level decode of the DICTIONARY-CODED format — PNG
    * completes the family's compression arc (BMP raw walk, GIF LZW,
    * JPEG Huffman+IDCT, PNG = RFC 1951 inflate + the five scanline
    * filters): chunk walk with CRC-32 checks, zlib unwrap with
    * Adler-32, the raw DEFLATE body inflated by the JDK's `Inflater`,
    * then per-row unfiltering (the fixture cycles all
    * five filter types, so None/Sub/Up/Average/Paeth all run on every
    * image). The oracle replays the pixel formula and never touches
    * DEFLATE — one wrong bit anywhere in the inflate or one wrong
    * unfilter branch corrupts downstream rows and hash-fails the doc.
    * Corner pins catch transposed layouts. Same narrow mapPartitions
    * shape (and 100 TB posture) as the rest of the decode family.
    */
  def mmPngPixels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        pngPixelContainer(col("doc_id"), col("text").cast("binary")).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          graft.functions.PngCodec.pngRaster(payload) match {
            case Right(r) =>
              val p = r.pixels
              var sum = 0L; var mn = 255L; var mx = 0L
              var i = 0
              while (i < p.length) {
                val v = (p(i) & 0xff).toLong
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                i += 1
              }
              (id, r.width.toLong, r.height.toLong,
                r.width.toLong * r.height, sum, mn, mx,
                (p(0) & 0xff).toLong,
                (p(r.width - 1) & 0xff).toLong,
                (p(p.length - 1) & 0xff).toLong)
            case Left(_) => (id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
          }
        }
      }
      .toDF("doc_id", "width", "height", "n_pixels", "px_sum", "px_min",
        "px_max", "first_px", "top_right_px", "last_px")
      .orderBy(col("doc_id"))
  }

  /** Ranking depth for [[mmPhashDedup]]. */
  private[graft] val PhashTopK = 20

  /** IMAGE near-duplicate triage via perceptual average-hash — the
    * multimodal member of the dedup family: hash every payload's PIXEL
    * ARRAY with [[graft.functions.MediaHash.AHash64]] (64 positional
    * block means vs the global mean, one codegen loop per row), then
    * reuse the text tier's ENTIRE banded-LSH blocking substrate
    * unchanged — 4×16-bit bands, capped buckets with the k-anchor star
    * ([[Dedup.cappedBucketPairs]]) — and emit the
    * [[PhashTopK]] candidate pairs with the SMALLEST Hamming distance
    * (ties broken by ids): the review queue a dedup pipeline hands to
    * its exact-verification tier, most-suspicious first. A RANKING
    * rather than a fixed gate, deliberately: on byte-aligned payloads
    * (re-encoded/resaved images — the production aHash case) true
    * duplicates land at Hamming ≤ 6 and the gate form is one `.filter`
    * away, but this fixture's payloads are edit-mutated text bytes
    * whose positional block means drift under insertion shifts, so a
    * fixed small gate would select noise and a fixture-calibrated gate
    * would be dishonest. The scale story matches dedup_simhash:
    * hashing is embarrassingly parallel over payload bytes, candidate
    * generation is a bucket-keyed shuffle (never all-pairs), the top-k
    * is TakeOrderedAndProject (k rows per partition), and only the
    * 8-byte hash ever ships — payloads never move past the scan. The
    * oracle replays the hash bit-for-bit from the wrapped bytes (exact
    * integer block arithmetic — see MediaHash's scaladoc on why there
    * are no floats), then the same banding, caps, star, and ranking.
    */
  def mmPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val sigs = asMedia(spark, dir)
      .select(col("doc_id"),
        graft.functions.MediaHash.ahash64(col("payload")).as("sig"))
      .filter(col("sig").isNotNull)
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band_idx"),
          shiftrightunsigned(col("sig"), 16 * b).bitwiseAND(lit(0xffffL))
            .as("band_key"))): _*)).as("band"))
      .select(col("doc_id"), col("sig"),
        col("band.band_idx"), col("band.band_key"))
    Dedup.cappedBucketPairs(banded, "band_key", Seq("sig"))
      .select(col("id_a"), col("id_b"),
        call_function("bit_count", col("sig_a").bitwiseXOR(col("sig_b")))
          .cast("long").as("hamming"))
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
      .limit(PhashTopK)
  }

  private val PhashOracle: String =
    s"""WITH bytes AS (
      |  SELECT doc_id,
      |    list_transform(
      |      range(1, least(octet_length(encode(text)),
      |                     ${graft.functions.MediaHash.MaxHashBytes}) + 1),
      |      i -> CAST('0x' || substring(hex(encode(text)), 2*i-1, 2)
      |                AS BIGINT)) AS bs
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, i, bs[i] AS v, len(bs) AS n
      |  FROM bytes, unnest(generate_series(1, len(bs))) AS s(i)),
      |blocks AS (
      |  SELECT doc_id, (i - 1) * 64 // n AS blk,
      |    sum(v) AS s, count(*) AS c, any_value(n) AS n
      |  FROM b GROUP BY doc_id, (i - 1) * 64 // n),
      |tot AS (SELECT doc_id, sum(v) AS t FROM b GROUP BY doc_id),
      |sigs AS (
      |  SELECT blocks.doc_id,
      |    CAST(coalesce(sum(CASE WHEN blocks.s * blocks.n > tot.t * blocks.c
      |      THEN CAST(1::UBIGINT << blocks.blk AS HUGEINT) ELSE 0 END), 0)
      |      AS UBIGINT) AS sig
      |  FROM blocks JOIN tot ON tot.doc_id = blocks.doc_id
      |  GROUP BY blocks.doc_id),
      |banded AS (
      |  SELECT doc_id, sig, b.b AS band_idx,
      |    (sig >> (16 * b.b)) & 65535 AS band_key
      |  FROM sigs, generate_series(0, 3) AS b(b)),
      |sized AS (
      |  SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS bsz
      |  FROM banded),
      |small_pairs AS (
      |  SELECT a.doc_id AS id_a, a.sig AS sig_a, b.doc_id AS id_b, b.sig AS sig_b
      |  FROM sized a JOIN sized b
      |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
      |    AND a.doc_id < b.doc_id
      |  WHERE a.bsz <= ${Dedup.MaxLshBucket} AND b.bsz <= ${Dedup.MaxLshBucket}),
      |anchors AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY band_idx, band_key
      |      ORDER BY doc_id) AS rn
      |    FROM sized WHERE bsz > ${Dedup.MaxLshBucket})
      |  WHERE rn <= ${Dedup.StarAnchors}),
      |star_pairs AS (
      |  SELECT a.doc_id AS id_a, a.sig AS sig_a, m.doc_id AS id_b, m.sig AS sig_b
      |  FROM anchors a JOIN sized m
      |    ON a.band_idx = m.band_idx AND a.band_key = m.band_key
      |    AND a.doc_id < m.doc_id
      |  WHERE m.bsz > ${Dedup.MaxLshBucket}),
      |cand AS (
      |  SELECT DISTINCT id_a, id_b, sig_a, sig_b
      |  FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM star_pairs))
      |SELECT id_a, id_b,
      |  CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
      |FROM cand
      |ORDER BY hamming, id_a, id_b LIMIT $PhashTopK""".stripMargin

  /** Synthesis-formula replay per container family: geometry is a
    * function of the UTF-8 byte length n and doc_id % 4; Spark earns
    * the same values by parsing the PNG/BMP/WAV/GIF bytes it wrapped.
    * Shared verbatim by the batch query and its streaming twin
    * (`stream_mm_decode` — the union of all micro-batches is the same
    * row set, batching-independent by statelessness).
    */
  private[graft] val MixedDecodeOracle: String =
    """WITH d AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n,
      |    doc_id % 4 AS fam FROM documents)
      |SELECT doc_id,
      |  CASE fam WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'wav'
      |    ELSE 'gif' END AS format,
      |  CASE fam WHEN 0 THEN 32 + n % 641 WHEN 1 THEN 64 + n % 577
      |    WHEN 3 THEN 16 + n % 509 ELSE 0 END AS width,
      |  CASE fam WHEN 0 THEN 32 + (n * 17) % 409 WHEN 1 THEN 64 + (n * 31) % 353
      |    WHEN 3 THEN 16 + (n * 13) % 257 ELSE 0 END AS height,
      |  CASE fam WHEN 2 THEN 8000 + (n % 5) * 4000 ELSE 0 END AS sample_rate,
      |  cast(CASE fam WHEN 2 THEN n // ((1 + n % 2) * 2) ELSE 0 END AS BIGINT) AS n_samples,
      |  cast(CASE fam WHEN 2 THEN n - n % ((1 + n % 2) * 2)
      |    ELSE n END AS BIGINT) AS n_bytes
      |FROM d ORDER BY doc_id""".stripMargin

  val registry: Seq[QueryDef] = Seq(
    QueryDef("mm_phash_dedup", mmPhashDedup _, PhashOracle),
    // CONTENT replay for the entropy-coded tier: the oracle regenerates
    // the quantized coefficients from the synthesis formula, dequantizes
    // and runs the SAME fixed-point IDCT (constants interpolated from
    // JpegCodec — one source of truth), and never touches the Huffman
    // stream; Spark earns the pixels by genuinely entropy-decoding the
    // baseline JPEG it wrapped
    QueryDef("mm_jpeg_pixels", mmJpegPixels _, jpegOracle),
    // CONTENT replay for the DEFLATE tier: the oracle regenerates every
    // pixel from the synthesis formula ((i*13 + 29*doc_id) mod 256) and
    // recomputes the stats; Spark earns them only by a correct chunk
    // walk + CRC/Adler verification + RFC 1951 inflate + all five
    // scanline unfilters (the fixture cycles filter types per row, and
    // filters are cumulative — one wrong branch corrupts every row below)
    QueryDef("mm_png_pixels", mmPngPixels _,
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |dims AS (
        |  SELECT doc_id, 8 + n % 41 AS w, 8 + (n * 11) % 23 AS h,
        |    doc_id * 29 AS s FROM d),
        |px AS (
        |  SELECT doc_id, w, h, t.i AS i, (t.i * 13 + s) % 256 AS v
        |  FROM dims, LATERAL unnest(generate_series(0, w*h - 1)) AS t(i))
        |SELECT doc_id, cast(w AS BIGINT) AS width, cast(h AS BIGINT) AS height,
        |  cast(w*h AS BIGINT) AS n_pixels,
        |  cast(sum(v) AS BIGINT) AS px_sum,
        |  cast(min(v) AS BIGINT) AS px_min,
        |  cast(max(v) AS BIGINT) AS px_max,
        |  cast(min(CASE WHEN i = 0 THEN v END) AS BIGINT) AS first_px,
        |  cast(min(CASE WHEN i = w - 1 THEN v END) AS BIGINT) AS top_right_px,
        |  cast(min(CASE WHEN i = w*h - 1 THEN v END) AS BIGINT) AS last_px
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),
    QueryDef("mm_pixel_stats", mmPixelStats _,
      // CONTENT replay: the oracle regenerates every pixel byte from
      // the synthesis formula ((i + 7*doc_id) mod 256 over logical
      // index i) and recomputes the stats; Spark earns the same values
      // by byte-walking the raster it wrapped — undoing bottom-up row
      // order and 0xAA stride padding. Any layout mistake hash-fails.
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |dims AS (
        |  SELECT doc_id, 8 + n % 37 AS w, 8 + (n * 13) % 23 AS h,
        |    doc_id * 7 AS s FROM d),
        |px AS (
        |  SELECT doc_id, w, h, t.i AS i, (t.i + s) % 256 AS v
        |  FROM dims, LATERAL unnest(generate_series(0, w*h*3 - 1)) AS t(i))
        |SELECT doc_id, cast(w AS BIGINT) AS width, cast(h AS BIGINT) AS height,
        |  cast(w*h AS BIGINT) AS n_pixels,
        |  cast(sum(CASE WHEN i % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS blue_sum,
        |  cast(sum(CASE WHEN i % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS green_sum,
        |  cast(sum(CASE WHEN i % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS red_sum,
        |  min(v) AS px_min, max(v) AS px_max,
        |  cast(sum(CASE WHEN i < 3 * w THEN v ELSE 0 END) AS BIGINT) AS top_row_sum
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),
    QueryDef("mm_wav_samples", mmWavSamples _,
      // the oracle regenerates every sample from the synthesis formula
      // and recomputes the stats with a lag window for the crossings;
      // Spark earns them by parsing real LE int16 PCM out of the chunk
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |dims AS (
        |  SELECT doc_id, 64 + n % 193 AS ns, doc_id * 13 AS s FROM d),
        |sm AS (
        |  SELECT doc_id, ns, t.i AS i, (t.i * 37 + s) % 2001 - 1000 AS v
        |  FROM dims, LATERAL unnest(generate_series(0, ns - 1)) AS t(i)),
        |lagged AS (
        |  SELECT doc_id, ns, i, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM sm)
        |SELECT doc_id, cast(max(ns) AS BIGINT) AS n_samples,
        |  cast(sum(v) AS BIGINT) AS sum_s,
        |  cast(sum(abs(v)) AS BIGINT) AS abs_sum,
        |  cast(max(abs(v)) AS BIGINT) AS peak_abs,
        |  cast(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
        |  cast(min(CASE WHEN i = 0 THEN v END) AS BIGINT) AS first_s,
        |  cast(min(CASE WHEN i = ns - 1 THEN v END) AS BIGINT) AS last_s
        |FROM lagged GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("mm_gif_pixels", mmGifPixels _,
      // the oracle regenerates the palette indices from the synthesis
      // formula ((i*31 + 11*doc_id) mod 16) and the palette channel
      // bytes from theirs — it NEVER touches LZW; Spark earns the same
      // numbers only by correctly decompressing the real LZW stream
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |dims AS (
        |  SELECT doc_id, 8 + n % 29 AS w, 8 + (n * 7) % 19 AS h,
        |    doc_id * 11 AS s FROM d),
        |px AS (
        |  SELECT doc_id, w, h, t.i AS i, (t.i * 31 + s) % 16 AS idx
        |  FROM dims, LATERAL unnest(generate_series(0, w*h - 1)) AS t(i))
        |SELECT doc_id, cast(w AS BIGINT) AS width, cast(h AS BIGINT) AS height,
        |  cast(w*h AS BIGINT) AS n_pixels,
        |  cast(sum(idx) AS BIGINT) AS idx_sum,
        |  cast(sum(idx * 17) AS BIGINT) AS red_sum,
        |  cast(sum((idx * 29) % 256) AS BIGINT) AS green_sum,
        |  cast(sum((idx * 43) % 256) AS BIGINT) AS blue_sum,
        |  cast(count(DISTINCT idx) AS BIGINT) AS n_distinct_idx,
        |  cast(min(CASE WHEN i = 0 THEN idx END) AS BIGINT) AS first_idx,
        |  cast(min(CASE WHEN i = w*h - 1 THEN idx END) AS BIGINT) AS last_idx
        |FROM px GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),
    QueryDef("mm_pixel_resize", mmPixelResize _,
      // nearest-neighbor replay: each 4x4 cell's source pixel index is
      // pure integer arithmetic over (w, h); the oracle regenerates the
      // three channel bytes at that index from the synthesis formula
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |dims AS (
        |  SELECT doc_id, 8 + n % 37 AS w, 8 + (n * 13) % 23 AS h,
        |    doc_id * 7 AS s FROM d),
        |cells AS (
        |  SELECT doc_id, w, h, s, ty.i AS ry, tx.i AS rx,
        |    ((ty.i * h) // 4 * w + (tx.i * w) // 4) * 3 AS base
        |  FROM dims, LATERAL unnest(generate_series(0, 3)) AS ty(i),
        |    LATERAL unnest(generate_series(0, 3)) AS tx(i))
        |SELECT doc_id, cast(ry AS BIGINT) AS ry, cast(rx AS BIGINT) AS rx,
        |  (base + s) % 256 AS b,
        |  (base + 1 + s) % 256 AS g,
        |  (base + 2 + s) % 256 AS r
        |FROM cells ORDER BY doc_id, ry, rx""".stripMargin),
    QueryDef("mm_decode_mixed", mmDecodeMixed _, MixedDecodeOracle),
    QueryDef("mm_resize", mmResize _,
      """WITH decoded AS (
        |  SELECT doc_id,
        |    cast(64 + octet_length(encode(text)) % 577 AS BIGINT) AS width,
        |    cast(64 + (octet_length(encode(text)) * 31) % 353 AS BIGINT) AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  CASE WHEN width >= height THEN 224
        |    ELSE (width * 224) // height END AS out_w,
        |  CASE WHEN width >= height THEN (height * 224) // width
        |    ELSE 224 END AS out_h
        |FROM decoded ORDER BY doc_id""".stripMargin),
    QueryDef("mm_scene_cuts", mmSceneCuts _,
      // CONTENT replay: the oracle regenerates BOTH frames of every
      // transition from the synthesis formula (idx(i,f) = (i*31 +
      // 11*doc_id + 6*(f/3) + f%3) mod 16) and recomputes the per-pixel
      // L1 distance + threshold flag; Spark earns the same numbers only
      // by LZW-decompressing every frame of the animated GIF it wrapped
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |dims AS (
        |  SELECT doc_id, 8 + n % 29 AS w, 8 + (n * 7) % 19 AS h,
        |    6 + n % 7 AS nf, doc_id * 11 AS s0 FROM d),
        |px AS (
        |  SELECT doc_id, w, h, f.f AS f, t.i AS i,
        |    (t.i * 31 + s0 + (f.f // 3) * 6 + (f.f % 3)) % 16 AS idx,
        |    (t.i * 31 + s0 + ((f.f - 1) // 3) * 6 + ((f.f - 1) % 3)) % 16 AS pidx
        |  FROM dims,
        |    LATERAL unnest(generate_series(1, nf - 1)) AS f(f),
        |    LATERAL unnest(generate_series(0, w * h - 1)) AS t(i))
        |SELECT doc_id, cast(f AS BIGINT) AS frame_idx,
        |  cast(sum(abs(idx - pidx)) AS BIGINT) AS l1_dist,
        |  sum(abs(idx - pidx)) * 2 > 7 * max(w) * max(h) AS is_cut
        |FROM px GROUP BY doc_id, f ORDER BY doc_id, frame_idx""".stripMargin),
    QueryDef("mm_audio_features", mmAudioFeatures _,
      // CONTENT replay over the real PCM path: the oracle regenerates
      // every int16 sample from the synthesis formula and recomputes
      // the 32-sample-frame features (energy/peak/in-frame crossings);
      // Spark earns them by parsing LE int16 PCM out of the data chunk
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |dims AS (
        |  SELECT doc_id, 64 + n % 193 AS ns, doc_id * 13 AS s FROM d),
        |sm AS (
        |  SELECT doc_id, ns, t.i AS i, t.i // 32 AS f,
        |    (t.i * 37 + s) % 2001 - 1000 AS v
        |  FROM dims, LATERAL unnest(generate_series(0, ns - 1)) AS t(i)),
        |lagged AS (
        |  SELECT doc_id, f, i, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        |  FROM sm)
        |SELECT doc_id, cast(f AS BIGINT) AS frame_idx,
        |  cast(count(*) AS BIGINT) AS n_s,
        |  cast(sum(v * v) AS BIGINT) AS energy,
        |  cast(max(abs(v)) AS BIGINT) AS peak_abs,
        |  cast(sum(CASE WHEN i % 32 <> 0 AND pv * v < 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS zc
        |FROM lagged GROUP BY doc_id, f ORDER BY doc_id, frame_idx""".stripMargin),
    QueryDef("mm_decode", mmDecode _,
      // the oracle replays the CONTAINER SYNTHESIS arithmetic (declared
      // dims are a function of byte length); Spark earns the same values
      // by genuinely parsing the BMP bytes it wrapped
      """SELECT doc_id, 'bmp' AS format,
        |  64 + octet_length(encode(text)) % 577 AS width,
        |  64 + (octet_length(encode(text)) * 31) % 353 AS height,
        |  octet_length(encode(text)) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("mm_decode_jpeg", mmDecodeJpeg _,
      // synthesis-formula replay: declared dims are fixed functions of
      // the UTF-8 byte length; Spark earns the same values by WALKING
      // the JFIF markers (variable SOF offset via the COM segment)
      """SELECT doc_id, 'jpeg' AS format,
        |  16 + octet_length(encode(text)) % 1021 AS width,
        |  16 + (octet_length(encode(text)) * 7) % 739 AS height,
        |  octet_length(encode(text)) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("mm_frame_sample", mmFrameSample _,
      """SELECT doc_id, fi AS frame_idx,
        |  least(256, length(text) - fi * 256) AS frame_len,
        |  md5(substring(text, 1 + fi * 256, 256)) AS frame_md5
        |FROM documents, generate_series(0, 63) AS t(fi)
        |WHERE fi <= (length(text) - 1) // 256
        |ORDER BY doc_id, frame_idx""".stripMargin)
  )
}
