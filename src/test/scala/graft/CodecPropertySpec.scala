package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.functions.{Bytes, GifPixels, JpegCodec, PngCodec}

/** Property tests for the three content codecs: byte-exact round trips
  * under ARBITRARY geometry/content — the hand fixtures pin known
  * regimes (width bumps, ZRL runs, filter branches); these sweep the
  * space between them. Pure JVM, no Spark session.
  */
object CodecPropertySpec extends Properties("codecs") {

  private val palette16 =
    Array.tabulate(16)(p => ((p * 17) << 16) | (((p * 29) % 256) << 8) |
      ((p * 43) % 256))

  private val gifAnim: Gen[(Int, Int, Int, Long)] = for {
    w <- Gen.choose(1, 40)
    h <- Gen.choose(1, 30)
    nf <- Gen.choose(1, 8)
    seed <- Gen.choose(0L, Long.MaxValue / 2)
  } yield (w, h, nf, seed)

  property("animated GIF round-trips every frame byte-exact") =
    forAll(gifAnim) { case (w, h, nf, seed) =>
      val frames = (0 until nf).map { f =>
        Array.tabulate(w * h)(i =>
          (((i * 31 + seed + f * 7) % 16 + 16) % 16).toByte)
      }
      val gif = GifPixels.gifWrapFrames(w, h, palette16, frames)
      GifPixels.gifFrames(gif) match {
        case Right(anim) =>
          anim.frames.length == nf &&
            frames.indices.forall(f => anim.frames(f).sameElements(frames(f)))
        case Left(_) => false
      }
    }

  private val jpegCase: Gen[(Int, Int, Long, Int)] = for {
    bw <- Gen.choose(1, 3)
    bh <- Gen.choose(1, 3)
    seed <- Gen.choose(0L, 100000L)
    sparsity <- Gen.choose(0, 63)
  } yield (bw * 8, bh * 8, seed, sparsity)

  property("baseline JPEG: decoded pixels equal dequant+IDCT of the coefficients") =
    forAll(jpegCase) { case (w, h, seed, sparsity) =>
      val quant = Array.tabulate(64)(z => 1 + ((z + seed) % 8).toInt)
      val blocks = Array.tabulate((w / 8) * (h / 8))(b =>
        Array.tabulate(64)(z =>
          if (z <= sparsity) (((z * 7 + b * 5 + seed) % 21) - 10).toInt
          else 0))
      val jpeg = JpegCodec.jpegWrapBaseline(w, h, quant, blocks)
      JpegCodec.jpegRaster(jpeg) match {
        case Right(r) =>
          val bw = w / 8
          val expect = new Array[Byte](w * h)
          blocks.zipWithIndex.foreach { case (blk, b) =>
            val coef = new Array[Long](64)
            (0 until 64).foreach(z =>
              coef(JpegCodec.ZigZag(z)) = blk(z).toLong * quant(z))
            val p = JpegCodec.idct(coef)
            val by = b / bw; val bx = b % bw
            (0 until 8).foreach(y => System.arraycopy(
              p, y * 8, expect, (by * 8 + y) * w + bx * 8, 8))
          }
          r.pixels.sameElements(expect)
        case Left(_) => false
      }
    }

  private val pngCase: Gen[(Int, Int, Long)] = for {
    w <- Gen.choose(1, 60)
    h <- Gen.choose(1, 40)
    seed <- Gen.choose(0L, Long.MaxValue / 2)
  } yield (w, h, seed)

  property("grayscale PNG round-trips byte-exact (all filters, dynamic DEFLATE)") =
    forAll(pngCase) { case (w, h, seed) =>
      val px = Array.tabulate(w * h)(i => ((i * 13 + seed) % 256).toByte)
      val png = PngCodec.pngWrapGray(w, h, px)
      PngCodec.pngRaster(png) match {
        case Right(r) => r.pixels.sameElements(px)
        case Left(_) => false
      }
    }

  property("inflate agrees with java.util.zip on arbitrary byte streams") =
    forAll(Gen.choose(0, 4000), Gen.choose(0L, Long.MaxValue / 2),
      Gen.choose(0, 9)) { (n, seed, level) =>
      val rnd = new scala.util.Random(seed)
      val data = new Array[Byte](n)
      rnd.nextBytes(data)
      // mix in structure so matches occur at some lengths
      (0 until n).foreach(i => if ((i / 37) % 2 == 0) data(i) = (i % 13).toByte)
      val d = new java.util.zip.Deflater(level)
      d.setInput(data); d.finish()
      val zb = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      while (!d.finished()) zb.write(tmp, 0, d.deflate(tmp))
      d.end()
      val z = zb.toByteArray
      Bytes.inflate(z, 2, z.length - 4, n, n) match {
        case Right((got, _)) => got.sameElements(data)
        case Left(e) => false
      }
    }

  property("inflate's consumed offset is the raw stream's end, whatever follows") =
    forAll(Gen.choose(0, 4000), Gen.choose(0, 16), Gen.choose(0L, Long.MaxValue / 2),
      Gen.choose(0, 9)) { (n, pad, seed, level) =>
      val rnd = new scala.util.Random(seed)
      val data = Array.tabulate(n)(i =>
        (if ((i / 37) % 2 == 0) i % 13 else rnd.nextInt(256)).toByte)
      val d = new java.util.zip.Deflater(level, true)
      d.setInput(data); d.finish()
      val zb = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      while (!d.finished()) zb.write(tmp, 0, d.deflate(tmp))
      d.end()
      val trail = Array.fill(pad)(rnd.nextInt(256).toByte)
      val z = zb.toByteArray
      Bytes.inflate(z ++ trail, 0, z.length + pad, -1, 1 << 16) match {
        case Right((got, end)) => got.sameElements(data) && end == z.length
        case Left(_) => false
      }
    }

  private val archiveEntries: Gen[List[(Int, Long)]] =
    Gen.listOfN(5, Gen.zip(Gen.choose(0, 4000), Gen.choose(0L, Long.MaxValue / 2)))
      .flatMap(l => Gen.choose(1, 5).map(n => l.take(n)))

  private def entryBytes(n: Int, seed: Long): Array[Byte] =
    Array.tabulate(n)(i =>
      (if ((i / 29) % 2 == 0) (i % 17) else ((i * 31 + seed) % 256)).toByte)

  property("multi-member gzip round-trips arbitrary member sets") =
    forAll(archiveEntries) { specs =>
      val recs = specs.map { case (n, seed) => entryBytes(n, seed) }
      val gz = graft.functions.WarcCodec.gzipWrap(recs)
      graft.functions.WarcCodec.gzipMembers(gz) match {
        case Right(ms) => ms.length == recs.length &&
          ms.zip(recs).forall { case (a, b) => a.sameElements(b) }
        case Left(_) => false
      }
    }

  property("tar round-trips arbitrary entry sets across padding edges") =
    forAll(archiveEntries) { specs =>
      val entries = specs.zipWithIndex.map { case ((n, seed), i) =>
        s"e$i-$n.bin" -> entryBytes(n, seed)
      }
      val tar = graft.functions.TarCodec.tarWrap(entries)
      graft.functions.TarCodec.tarEntries(tar) match {
        case Right(got) => got.length == entries.length &&
          got.zip(entries).forall { case (g, (nm, d)) =>
            g.name == nm && g.data.sameElements(d)
          }
        case Left(_) => false
      }
    }

  property("zip central directory + random access round-trip; JDK agrees") =
    forAll(archiveEntries) { specs =>
      val entries = specs.zipWithIndex.map { case ((n, seed), i) =>
        s"e$i.bin" -> entryBytes(n, seed)
      }
      val zip = graft.functions.ZipCodec.zipWrap(entries)
      val ours = graft.functions.ZipCodec.centralDirectory(zip) match {
        case Right(cd) => cd.length == entries.length &&
          // read in REVERSE order — random access must not care
          cd.reverse.zip(entries.reverse).forall { case (e, (nm, d)) =>
            e.name == nm &&
              graft.functions.ZipCodec.readEntry(zip, e)
                .exists(_.sameElements(d))
          }
        case Left(_) => false
      }
      val in = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(zip))
      val jdk = entries.forall { case (nm, d) =>
        val ze = in.getNextEntry
        ze != null && ze.getName == nm && {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](512)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toByteArray.sameElements(d)
        }
      }
      ours && jdk
    }

  property("TIFF header round-trips under both byte orders and arbitrary geometry") =
    forAll(Gen.choose(1, 70000), Gen.choose(1, 70000), Gen.choose(1, 16),
      Gen.oneOf(true, false), Gen.choose(0, 64)) { (w, h, bits, le, payloadLen) =>
      val bytes = graft.functions.TiffHeader.tiffWrap(
        le, w, h, bits, Array.tabulate(payloadLen)(_.toByte))
      graft.functions.TiffHeader.tiffInfo(bytes) match {
        case Right(t) =>
          t.byteOrder == (if (le) "II" else "MM") &&
            t.width == w && t.height == h && t.bits == bits &&
            t.compression == 1 && t.nEntries == 4
        case Left(_) => false
      }
    }
}
