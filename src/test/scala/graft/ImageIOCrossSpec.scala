package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import graft.functions.{GifPixels, JpegCodec, MediaHeaders, PngCodec}

/** Cross-validation of every image codec against the JDK's OWN
  * independent decoders (javax.imageio). The value over round-trip
  * tests: a symmetric bug (encoder and decoder wrong the same way)
  * survives a round trip but cannot survive an independent
  * implementation reading the same bytes.
  *
  * Directions per format:
  *  - PNG: ours→ImageIO exact, AND ImageIO's encoder→our decoder
  *    exact (the JDK writer picks its own scanline filters and IDAT
  *    chunking, so the inflate + all-unfilter paths run on streams we
  *    did not shape).
  *  - GIF: ours→ImageIO exact, single-frame and animated (palette
  *    colors compared through getRGB).
  *  - BMP: ours→ImageIO exact (stride/bottom-up arithmetic).
  *  - JPEG: ours→ImageIO within ±2/pixel — the entropy layer
  *    (Huffman, stuffing, DC prediction, zigzag, dequant) must agree
  *    EXACTLY for the JDK reader to produce anything close; only the
  *    IDCT is implementation-defined (IEEE 1180-style tolerance), so
  *    a small per-pixel band is the honest assertion. The JDK-writer
  *    reverse direction is out of scope: it emits multi-table DHT
  *    segments our documented subset quarantines.
  *
  * No Spark needed — pure byte arithmetic.
  */
class ImageIOCrossSpec extends AnyFunSuite {

  private def read(b: Array[Byte]) = {
    val img = ImageIO.read(new ByteArrayInputStream(b))
    assert(img != null, "ImageIO could not decode the stream")
    img
  }

  // ------------------------------------------------------------- PNG

  test("PNG: our encoder's bytes decode identically under ImageIO") {
    for ((w, h, seed) <- Seq((8, 8, 499L), (48, 30, 7L), (9, 7, 0L), (1, 1, 3L))) {
      val px = Array.tabulate(w * h)(i => ((i * 13 + seed * 29) % 256).toByte)
      val img = read(PngCodec.pngWrapGray(w, h, px))
      assert(img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) === (px(y * w + x) & 0xff),
          s"PNG pixel ($x,$y) diverges at w=$w h=$h")
    }
  }

  test("PNG: the JDK encoder's bytes decode identically under our codec") {
    for ((w, h) <- Seq((8, 8), (40, 23), (1, 5), (64, 64))) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val px = Array.tabulate(w * h)(i => ((i * 31 + 17) % 256))
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, px(y * w + x))
      val out = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, "png", out), "JDK refused to encode PNG")
      val r = PngCodec.pngRaster(out.toByteArray)
        .fold(e => fail(s"our decoder quarantined a JDK PNG: $e"), identity)
      assert(r.width === w && r.height === h)
      for (i <- 0 until w * h)
        assert((r.pixels(i) & 0xff) === px(i),
          s"our PNG decode diverges from the JDK encoder at i=$i w=$w h=$h")
    }
  }

  // ------------------------------------------------------------- GIF

  private val palette16 =
    Array.tabulate(16)(i => (i * 17 << 16) | (i * 13 << 8) | (i * 7))

  test("GIF: our single-frame encoder decodes identically under ImageIO") {
    for ((w, h, s) <- Seq((16, 12, 1), (33, 9, 5), (8, 8, 0))) {
      val idx = Array.tabulate(w * h)(i => ((i * 7 + s) % 16).toByte)
      val img = read(GifPixels.gifWrapPixels(w, h, palette16, idx))
      assert(img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w) {
        val want = palette16(idx(y * w + x)) | 0xff000000
        assert(img.getRGB(x, y) === want, s"GIF pixel ($x,$y) diverges w=$w h=$h")
      }
    }
  }

  test("GIF: our animated encoder's frames decode identically under ImageIO") {
    val (w, h, nf) = (14, 10, 4)
    val frames = Seq.tabulate(nf)(f =>
      Array.tabulate(w * h)(i => ((i * 3 + f * 5) % 16).toByte))
    val bytes = GifPixels.gifWrapFrames(w, h, palette16, frames, delayCs = 7)
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    val readers = ImageIO.getImageReaders(iis)
    assert(readers.hasNext, "no JDK GIF reader")
    val reader = readers.next()
    reader.setInput(iis)
    assert(reader.getNumImages(true) === nf)
    for (f <- 0 until nf) {
      val img = reader.read(f)
      assert(img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w) {
        val want = palette16(frames(f)(y * w + x)) | 0xff000000
        assert(img.getRGB(x, y) === want, s"GIF frame $f pixel ($x,$y) diverges")
      }
    }
    reader.dispose()
  }

  // ------------------------------------------------------------- BMP

  test("BMP: our raster encoder decodes identically under ImageIO") {
    for ((w, h) <- Seq((5, 4), (16, 9), (1, 1))) {
      // logical top-down BGR content, the bmpWrapRaster contract
      val content = Array.tabulate(w * h * 3)(i => ((i * 11 + 5) % 256).toByte)
      val img = read(MediaHeaders.bmpWrapRaster(w, h, content))
      assert(img.getWidth === w && img.getHeight === h)
      for (y <- 0 until h; x <- 0 until w) {
        val o = (y * w + x) * 3
        val want = 0xff000000 | ((content(o + 2) & 0xff) << 16) |
          ((content(o + 1) & 0xff) << 8) | (content(o) & 0xff)
        assert(img.getRGB(x, y) === want, s"BMP pixel ($x,$y) diverges w=$w h=$h")
      }
    }
  }

  // ------------------------------------------------------------ JPEG

  test("JPEG: ImageIO agrees with our decoder within the IDCT tolerance band") {
    for (docId <- Seq(0L, 3L, 7L); n <- Seq(100, 257)) {
      // the mm_jpeg_pixels fixture formula — sparse tails, varying DC
      val w = 8 * (1 + n % 3)
      val h = 8 * (1 + (n * 7) % 2)
      val zmax = (5 + docId % 5).toInt
      val quant = Array.tabulate(64)(z => 1 + z % 8)
      val blocks = Array.tabulate((w / 8) * (h / 8)) { b =>
        Array.tabulate(64) { z =>
          if (z <= zmax) (((z * 7 + b * 5 + docId * 3) % 21) - 10).toInt else 0
        }
      }
      val bytes = JpegCodec.jpegWrapBaseline(w, h, quant, blocks)
      val ours = JpegCodec.jpegRaster(bytes)
        .fold(e => fail(s"our decoder failed: $e"), identity)
      val img = read(bytes)
      assert(img.getWidth === w && img.getHeight === h)
      var maxDiff = 0
      var sumDiff = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val jdk = img.getRaster.getSample(x, y, 0)
        val our = ours.pixels(y * w + x) & 0xff
        val d = math.abs(jdk - our)
        maxDiff = math.max(maxDiff, d)
        sumDiff += d
      }
      assert(maxDiff <= 2,
        s"JPEG IDCT divergence > 2 (docId=$docId n=$n maxDiff=$maxDiff)")
      assert(sumDiff.toDouble / (w * h) <= 1.0,
        s"JPEG mean divergence > 1.0 (docId=$docId n=$n)")
    }
  }
}
