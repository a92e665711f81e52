package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Multimodal, PngDecode}
import graft.ops.Multimodal.Codec
import graft.ops.PngDecode.{PngDecoder, RawImage, UnsupportedPng}

/**
 * Cross-implementation pinning for the hand-rolled PNG decoder: every
 * pixel [[PngDecode]] produces must equal what `ImageIO.read` produces
 * on the same bytes — over our own encoder's output, over PNGs written
 * by `ImageIO` itself (whose adaptive row filters exercise Sub/Up/
 * Average/Paeth organically), and over hand-crafted images that force
 * each filter type and color type individually.
 */
class PngDecodeSpec extends AnyFunSuite {

  private def imageIoPixels(png: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img != null, "ImageIO could not decode the test PNG")
    val (w, h) = (img.getWidth, img.getHeight)
    (w, h, img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xffffff))
  }

  private def assertPixelEqual(png: Array[Byte], dec: PngDecoder): Unit = {
    val RawImage(w, h, got) = dec.decode(png)
    val (ew, eh, expect) = imageIoPixels(png)
    assert((w, h) === (ew, eh))
    assert(got.toSeq === expect.toSeq)
  }

  test("decodes our own encoder's output pixel-identically to ImageIO") {
    val dec = new PngDecoder // one reused handle across all shapes, like a partition
    for {
      (w, h) <- Seq((1, 1), (1, 7), (7, 1), (16, 16), (17, 3), (48, 31), (64, 64))
      seed <- Seq(0L, 1L, -1L, 42L, Long.MaxValue)
    } assertPixelEqual(Codec.encodePng(w, h, seed), dec)
  }

  test("encodePngPixels round-trips arbitrary pixels through both decoders") {
    val dec = new PngDecoder
    val rnd = new scala.util.Random(7)
    for ((w, h) <- Seq((1, 1), (5, 9), (33, 17))) {
      val px = Array.fill(w * h)(rnd.nextInt() & 0xffffff)
      val png = References.encodePngPixels(w, h, px)
      val RawImage(gw, gh, got) = dec.decode(png)
      assert((gw, gh) === (w, h))
      assert(got.toSeq === px.toSeq)
      assertPixelEqual(png, dec)
    }
  }

  test("decodes ImageIO-written PNGs (adaptive filters, RGB/gray/RGBA)") {
    val dec = new PngDecoder
    val rnd = new scala.util.Random(11)
    val types = Seq(
      java.awt.image.BufferedImage.TYPE_INT_RGB,    // -> color type 2
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY,  // -> color type 0
      java.awt.image.BufferedImage.TYPE_INT_ARGB,   // -> color type 6
      java.awt.image.BufferedImage.TYPE_4BYTE_ABGR) // -> color type 6
    for (t <- types; (w, h) <- Seq((1, 1), (13, 7), (40, 25))) {
      val img = new java.awt.image.BufferedImage(w, h, t)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, 0xff000000 | rnd.nextInt(0x1000000))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      assertPixelEqual(bos.toByteArray, dec)
    }
  }

  test("each filter type (None/Sub/Up/Average/Paeth) unfilters correctly") {
    val dec = new PngDecoder
    val rnd = new scala.util.Random(13)
    val (w, h, bpp) = (19, 11, 3)
    val stride = 1 + w * bpp
    // plain (unfiltered) scanline data
    val plain = Array.fill(h * stride)(rnd.nextInt(256).toByte)
    for (y <- 0 until h) plain(y * stride) = 0
    def p(y: Int, x: Int): Int = // plain data byte, 0 outside
      if (y < 0 || x < 0) 0 else plain(y * stride + 1 + x) & 0xff
    for (f <- 0 to 4) {
      // forward-filter every row with filter `f` per the PNG spec
      val filt = new Array[Byte](h * stride)
      for (y <- 0 until h) {
        filt(y * stride) = f.toByte
        for (x <- 0 until w * bpp) {
          val a = p(y, x - bpp); val b = p(y - 1, x); val c = p(y - 1, x - bpp)
          val pred = f match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) >> 1
            case 4 =>
              val pp = a + b - c
              val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          filt(y * stride + 1 + x) = (p(y, x) - pred).toByte
        }
      }
      val png = Codec.wrapPng(w, h, colorType = 2, filt)
      assertPixelEqual(png, dec)
    }
  }

  test("gray+alpha (color type 4) decodes; alpha is dropped") {
    val dec = new PngDecoder
    val (w, h) = (9, 5)
    val stride = 1 + w * 2
    val raw = new Array[Byte](h * stride)
    val rnd = new scala.util.Random(17)
    for (y <- 0 until h; x <- 0 until w) {
      raw(y * stride + 1 + 2 * x) = rnd.nextInt(256).toByte     // gray
      raw(y * stride + 1 + 2 * x + 1) = 0xff.toByte             // opaque alpha
    }
    val png = Codec.wrapPng(w, h, colorType = 4, raw)
    assertPixelEqual(png, dec)
  }

  test("multi-segment IDAT streams decode (spec allows any split)") {
    val dec = new PngDecoder
    val one = Codec.encodePng(23, 14, 99L)
    // re-chunk the single IDAT into 3 segments
    def be32(p: Array[Byte], off: Int): Int =
      ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
        ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)
    var pos = 8
    var idatOff = -1; var idatLen = -1
    while (idatOff < 0) {
      val len = be32(one, pos)
      val tag = new String(one, pos + 4, 4, "US-ASCII")
      if (tag == "IDAT") { idatOff = pos + 8; idatLen = len }
      else pos += 12 + len
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(one, 0, idatOff - 8) // everything before the IDAT chunk
    val cuts = Seq(0, idatLen / 3, 2 * idatLen / 3, idatLen)
    for (i <- 0 until 3) {
      val seg = java.util.Arrays.copyOfRange(one, idatOff + cuts(i), idatOff + cuts(i + 1))
      out.write(java.nio.ByteBuffer.allocate(4).putInt(seg.length).array())
      out.write("IDAT".getBytes("US-ASCII"))
      out.write(seg)
      val crc = new java.util.zip.CRC32()
      crc.update("IDAT".getBytes("US-ASCII")); crc.update(seg)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    out.write(one, idatOff + idatLen + 4, one.length - (idatOff + idatLen + 4))
    assertPixelEqual(out.toByteArray, dec)
  }

  test("unsupported variants throw UnsupportedPng; ImageDecoder falls back") {
    val dec = new PngDecoder
    // palette PNG via ImageIO (color type 3)
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, 0xff000000 | (x * 32 << 16))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val palette = bos.toByteArray
    intercept[UnsupportedPng](dec.decode(palette))
    intercept[UnsupportedPng](dec.decode("not a png at all".getBytes))
    intercept[UnsupportedPng](dec.decode(Array.fill[Byte](100)(0)))
    // truncated payload must not loop or crash with an index error
    val whole = Codec.encodePng(16, 16, 5L)
    intercept[UnsupportedPng](dec.decode(java.util.Arrays.copyOf(whole, whole.length / 2)))
    // a zlib stream demanding a preset dictionary (FDICT — forbidden by
    // the PNG spec but representable) must throw, not spin forever
    val fdict = whole.clone()
    var pos = 8
    var idat = -1
    while (idat < 0) {
      val len = ((fdict(pos) & 0xff) << 24) | ((fdict(pos + 1) & 0xff) << 16) |
        ((fdict(pos + 2) & 0xff) << 8) | (fdict(pos + 3) & 0xff)
      if (fdict(pos + 4) == 'I' && fdict(pos + 5) == 'D' &&
        fdict(pos + 6) == 'A' && fdict(pos + 7) == 'T') idat = pos + 8
      else pos += 12 + len
    }
    val cmf = fdict(idat) & 0xff
    var flg = (fdict(idat + 1) & 0xff) | 0x20 // set FDICT
    flg = (flg & ~0x1f) | (31 - (cmf * 256 + (flg & ~0x1f)) % 31) % 31 // fix FCHECK
    fdict(idat + 1) = flg.toByte
    intercept[UnsupportedPng](dec.decode(fdict))
    // the wrapper resolves the palette PNG through ImageIO identically
    val wrapped = new Codec.ImageDecoder
    val RawImage(w, h, got) = wrapped.decode(palette)
    val (ew, eh, expect) = imageIoPixels(palette)
    assert((w, h) === (ew, eh))
    assert(got.toSeq === expect.toSeq)
  }

  test("ImageDecoder disposes its fallback ImageReader when the partition's " +
      "iterator ends") {
    val img = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val palette = bos.toByteArray // outside the fast path's subset
    val png = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
    var disposed = 0
    // the JDK's PNG reader, counting its dispose calls
    val reader = new javax.imageio.ImageReader(png.getOriginatingProvider) {
      override def setInput(in: Any, seekForwardOnly: Boolean,
          ignoreMetadata: Boolean): Unit =
        png.setInput(in, seekForwardOnly, ignoreMetadata)
      override def dispose(): Unit = { disposed += 1; png.dispose() }
      def read(i: Int, p: javax.imageio.ImageReadParam) = png.read(i, p)
      def getNumImages(allowSearch: Boolean) = png.getNumImages(allowSearch)
      def getWidth(i: Int) = png.getWidth(i)
      def getHeight(i: Int) = png.getHeight(i)
      def getImageTypes(i: Int) = png.getImageTypes(i)
      def getStreamMetadata() = png.getStreamMetadata()
      def getImageMetadata(i: Int) = png.getImageMetadata(i)
    }
    val dec = new Codec.ImageDecoder(() => new Codec.PngReader(reader))
    val it = dec.closing(Iterator(palette, palette).map(dec.decode))
    assert(it.next().width === 4 && it.hasNext && disposed === 0)
    assert(it.next().width === 4 && !it.hasNext)
    assert(disposed === 1, "the fallback reader was not disposed")
    assert(!it.hasNext && disposed === 1, "disposed twice")
  }

  test("feature extraction over the synthetic corpus is unchanged by the fast path") {
    // belt-and-braces: the luminance embeddings must be bit-identical
    // whether pixels come from PngDecode or from ImageIO
    val ids = Seq(0L, 3L, 17L, 255L, 256L)
    val imageIo = new Codec.PngReader
    ids.foreach { id =>
      val w = 16 + (id % 32).toInt
      val h = 16 + ((id * 7) % 32).toInt
      val png = Codec.encodePng(w, h, id)
      val a = Multimodal.Asset(id, "image", png, "image/png", png.length.toLong, "")
      val viaFast = Codec.imageFeatures(a, new Codec.ImageDecoder)
      val img = imageIo.decode(png)
      assert((viaFast.width, viaFast.height) === (img.getWidth, img.getHeight))
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      // recompute exactly as imageFeatures does, from ImageIO's pixels
      val expect = new Array[Float](Multimodal.FeatureDim)
      var strip = 0
      while (strip < Multimodal.FeatureDim) {
        val y0 = h * strip / Multimodal.FeatureDim
        val y1 = math.max(y0 + 1, h * (strip + 1) / Multimodal.FeatureDim)
        var sum = 0L
        var i = y0 * w
        val end = y1 * w
        while (i < end) {
          val rgb = px(i)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          i += 1
        }
        expect(strip) = (sum / (3.0 * 255.0 * (end - y0 * w))).toFloat
        strip += 1
      }
      assert(viaFast.feature.toSeq === expect.toSeq)
    }
  }
}
