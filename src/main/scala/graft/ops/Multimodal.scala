package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing: image/audio/video payloads ride as opaque
 * `binary` columns with a typed metadata struct; decode / feature-extract /
 * frame-sample run as per-partition batch transforms.
 *
 * The IMAGE modality uses a REAL codec with no external dependency
 * ([[Codec]]): a hand-rolled PNG encoder AND decoder ([[PngDecode]],
 * pinned pixel-equal to `ImageIO.read` cross-implementation in
 * PngDecodeSpec, with `javax.imageio` as the runtime fallback for PNG
 * variants outside the fast subset) — `mm_features` width/height are true
 * pixel dimensions. The AUDIO modality is real too: WAV/RIFF PCM16 is
 * a public byte format the JDK needs no library for — [[Codec.encodeWav]] /
 * [[Codec.wavMeta]] write and chunk-walk real RIFF containers. VIDEO has no
 * in-container codec (ffmpeg-class), so it rides a minimal documented frame
 * container ([[Codec.encodeVideo]]: magic + fps + frame index + concatenated
 * REAL PNG frames) — the container parse, frame index arithmetic and
 * per-frame pixel decode are all real; only the container format itself is
 * synthetic. [[DecodeStub]] remains solely for unknown mimes — the honest
 * fallback, clearly marked.
 *
 * Batch shape: `mapPartitions` over a typed Dataset is the Scala analogue
 * of `mapInPandas` — one iterator per partition, so a real decoder can
 * amortize model/codec init per partition (NOT per row), exactly like a
 * Pandas-batch UDF would.
 */
object Multimodal {

  /** A multimodal asset row: opaque payload + typed metadata. */
  final case class Asset(
      asset_id: Long,
      modality: String, // "image" | "audio" | "video"
      payload: Array[Byte],
      mime: String,
      n_bytes: Long,
      sha256: String)

  /** Extracted features, fixed-width (the schema a downstream trainer sees). */
  final case class AssetFeatures(
      asset_id: Long,
      modality: String,
      n_bytes: Long,
      width: Int, // stub: derived deterministically from bytes
      height: Int,
      duration_ms: Long,
      feature: Array[Float]) // stub embedding, FeatureDim wide

  val FeatureDim = 8

  /**
   * Deterministic stand-in for formats no in-container codec claims
   * (non-PNG images, non-WAV audio, non-GVF1 video). Replace with actual
   * ffmpeg-class bindings — the surrounding plumbing (schema, batching,
   * partitioning) does not change. PNG / WAV / GVF1 take the REAL
   * [[Codec]] paths instead.
   */
  object DecodeStub {
    def apply(a: Asset): AssetFeatures = {
      val h = a.payload.foldLeft(1469598103934665603L)((acc, b) =>
        (acc ^ (b & 0xff)) * 1099511628211L) // FNV-1a, deterministic
      def part(i: Int): Int = math.abs(((h >>> (i * 8)) & 0xffff).toInt)
      AssetFeatures(
        asset_id = a.asset_id,
        modality = a.modality,
        n_bytes = a.n_bytes,
        width = 16 + part(0) % 4080,
        height = 16 + part(1) % 4080,
        duration_ms = if (a.modality == "image") 0L else 1000L + part(2),
        feature = Array.tabulate(FeatureDim)(i =>
          (((h >>> i) & 0xff).toInt / 255.0f) * 2f - 1f))
    }
  }

  /** Real image codec over JDK `javax.imageio` — no external dependency.
   * All entry points are called from executor tasks; ImageIO's reader
   * registry is static, so there is no per-partition handle to manage
   * (a native codec would initialize one in the mapPartitions preamble). */
  object Codec {
    System.setProperty("java.awt.headless", "true")

    /** Deterministic synthetic PNG: pixel (x,y) color is a pure function of
     * (seed, x, y), so the same id always encodes byte-identical payload.
     *
     * The writer is hand-rolled against the public PNG spec (signature +
     * IHDR/IDAT/IEND, filter-0 scanlines, zlib via java.util.zip.Deflater
     * level 1) rather than ImageIO: ~10x faster on the tiny-image corpus
     * (ImageIO's writer cost ~3 ms per frame and dominated the multimodal
     * bench queries). The hot decode path is hand-rolled too
     * ([[PngDecode]]); the CROSS-IMPLEMENTATION round trip (our encoder ↔
     * the JDK's decoder, and vice versa on ImageIO-written PNGs) is pinned
     * in PngDecodeSpec rather than paid per row at runtime. */
    def encodePng(width: Int, height: Int, seed: Long): Array[Byte] = {
      // filter-0 RGB scanlines
      val stride = 1 + width * 3
      val raw = new Array[Byte](height * stride)
      var y = 0
      while (y < height) {
        val row = y * stride // raw(row) stays 0: filter type None
        var x = 0
        while (x < width) {
          val v = (seed * 1099511628211L ^ (x * 131L + y * 31L) * 2654435761L).toInt
          val o = row + 1 + x * 3
          raw(o) = ((v >> 16) & 0xff).toByte
          raw(o + 1) = ((v >> 8) & 0xff).toByte
          raw(o + 2) = (v & 0xff).toByte
          x += 1
        }
        y += 1
      }
      wrapPng(width, height, colorType = 2, raw)
    }

    /** Deflate pre-filtered scanlines and wrap them in signature +
     * IHDR/IDAT/IEND. `raw` is the PNG "filtered" byte stream (one filter
     * byte then `width * channels` data bytes per scanline); `colorType`
     * is written into IHDR verbatim (2 = RGB for the public encoders;
     * the test suite crafts 0/4/6 and per-filter variants through this
     * same tail to pin [[PngDecode]] against `ImageIO.read`). */
    private[graft] def wrapPng(width: Int, height: Int, colorType: Int,
        raw: Array[Byte]): Array[Byte] = {
      val defl = new java.util.zip.Deflater(1)
      defl.setInput(raw); defl.finish()
      val comp = new Array[Byte](raw.length + (raw.length >> 3) + 64)
      var clen = 0
      while (!defl.finished()) clen += defl.deflate(comp, clen, comp.length - clen)
      defl.end()
      val out = new java.io.ByteArrayOutputStream(clen + 64)
      out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte), 0, 8)
      def chunk(tag: String, body: Array[Byte], len: Int): Unit = {
        val bb = java.nio.ByteBuffer.allocate(4)
        out.write(bb.putInt(len).array(), 0, 4)
        val t = tag.getBytes("US-ASCII")
        out.write(t, 0, 4)
        out.write(body, 0, len)
        val crc = new java.util.zip.CRC32()
        crc.update(t); crc.update(body, 0, len)
        out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array(), 0, 4)
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(width).putInt(height)
        .put(8.toByte)         // bit depth
        .put(colorType.toByte) // 2 = truecolor RGB on the encode paths
        .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, filter 0, no interlace
        .array()
      chunk("IHDR", ihdr, 13)
      chunk("IDAT", comp, clen)
      chunk("IEND", Array.emptyByteArray, 0)
      out.toByteArray
    }

    def decode(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "payload is not a decodable image")
      img
    }

    /** Reusable JDK PNG reader — THE per-partition codec handle. Each
     * `ImageIO.read` call re-scans the reader registry and rebuilds
     * stream plumbing (~2-3 ms per call, which dominated the multimodal
     * bench at ~40k decodes); one reader instance per partition amortizes
     * that exactly like a native codec handle would. NOT thread-safe —
     * one per partition iterator, never shared. */
    final class PngReader(reader: javax.imageio.ImageReader =
        javax.imageio.ImageIO.getImageReadersByFormatName("png").next()) {
      def decode(payload: Array[Byte]): java.awt.image.BufferedImage = {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          reader.setInput(iis, true, true)
          reader.read(0)
        } finally iis.close()
      }
      /** Releases the reader's resources; it decodes nothing after this. */
      def dispose(): Unit = reader.dispose()
    }

    /**
     * THE per-partition image decode handle: the hand-rolled
     * [[PngDecode.PngDecoder]] fast path (tens of microseconds on the
     * tiny-frame corpus vs ~1 ms of per-image `ImageIO` plumbing even
     * with a reused reader), with a lazily-built [[PngReader]] fallback
     * for PNG variants outside its subset (palette, 16-bit, interlaced)
     * and for any other format `ImageIO` claims. Both paths return the
     * same packed-0xRRGGBB [[PngDecode.RawImage]]; PngDecodeSpec pins
     * them pixel-equal cross-implementation. NOT thread-safe — one per
     * partition iterator, which [[closing]] wraps so that the fallback's
     * `ImageReader` is disposed when the partition ends.
     */
    final class ImageDecoder(newFallback: () => PngReader = () => new PngReader) {
      private val fast = new PngDecode.PngDecoder
      private var fallback: PngReader = null
      def decode(payload: Array[Byte]): PngDecode.RawImage =
        try fast.decode(payload)
        catch {
          case _: PngDecode.UnsupportedPng =>
            if (fallback == null) fallback = newFallback()
            val img = fallback.decode(payload)
            val (w, h) = (img.getWidth, img.getHeight)
            val px = img.getRGB(0, 0, w, h, null, 0, w)
            var i = 0
            while (i < px.length) { px(i) &= 0xffffff; i += 1 }
            PngDecode.RawImage(w, h, px)
        }

      /** `it`, disposing the fallback reader, if one was built, once `it`
       * is exhausted or the task ends, whichever comes first. */
      def closing[A](it: Iterator[A]): Iterator[A] = {
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => close()))
        new Iterator[A] {
          def hasNext: Boolean = it.hasNext || { close(); false }
          def next(): A = it.next()
        }
      }

      private def close(): Unit = if (fallback != null) {
        fallback.dispose()
        fallback = null
      }
    }

    /** Real decode + feature extraction: true pixel dimensions and a small
     * luminance-profile embedding (mean luminance of FeatureDim horizontal
     * strips, 0..1) — the deterministic stand-in for a vision encoder.
     * Pixels are read in ONE bulk getRGB call: the per-pixel accessor does
     * a color-model conversion per call and measured ~5x slower. */
    def imageFeatures(a: Asset, dec: ImageDecoder): AssetFeatures = {
      val img = dec.decode(a.payload)
      val (w, h) = (img.width, img.height)
      val px = img.rgb
      val feature = new Array[Float](FeatureDim)
      var strip = 0
      while (strip < FeatureDim) {
        val y0 = h * strip / FeatureDim
        val y1 = math.max(y0 + 1, h * (strip + 1) / FeatureDim)
        var sum = 0L // channel values are ints; exact integer accumulation
        var i = y0 * w
        val end = y1 * w
        while (i < end) {
          val rgb = px(i)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          i += 1
        }
        feature(strip) = (sum / (3.0 * 255.0 * (end - y0 * w))).toFloat
        strip += 1
      }
      AssetFeatures(a.asset_id, a.modality, a.n_bytes, w, h, 0L, feature)
    }

    // --- audio: real WAV/RIFF PCM16 (public spec, no library needed) -----

    /** Canonical 44-byte-header mono/stereo PCM16LE WAV encoder. */
    def encodeWav(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
      val dataSize = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort) // PCM
        .putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * channels * 2) // byte rate
        .putShort((channels * 2).toShort)  // block align
        .putShort(16.toShort)              // bits per sample
      bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
      samples.foreach(bb.putShort)
      bb.array()
    }

    final case class WavMeta(sampleRate: Int, channels: Int,
        bitsPerSample: Int, dataOffset: Int, dataSize: Int) {
      def frames: Int = dataSize / math.max(1, channels * (bitsPerSample / 8))
      def durationMs: Long = 1000L * frames / sampleRate
    }

    /** Chunk-walking RIFF parse (not a fixed-offset read): tolerates extra
     * chunks between fmt and data, like real-world WAV files have. */
    def wavMeta(payload: Array[Byte]): WavMeta = {
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = { val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII") }
      require(tag() == "RIFF", "not a RIFF container")
      bb.getInt // riff size
      require(tag() == "WAVE", "not a WAVE form")
      var rate = 0; var ch = 0; var bits = 0
      var dataOff = -1; var dataSize = 0
      while (bb.remaining() >= 8 && dataOff < 0) {
        val t = tag(); val sz = bb.getInt
        t match {
          case "fmt " =>
            val p = bb.position()
            bb.getShort // audio format
            ch = bb.getShort; rate = bb.getInt
            bb.getInt; bb.getShort // byte rate, block align
            bits = bb.getShort
            bb.position(p + sz + (sz & 1))
          case "data" =>
            dataOff = bb.position(); dataSize = sz
          case _ => bb.position(bb.position() + sz + (sz & 1))
        }
      }
      require(dataOff >= 0 && rate > 0, "no data/fmt chunk")
      WavMeta(rate, ch, bits, dataOff, dataSize)
    }

    /** Real WAV decode + features: true rate/bits/duration from the RIFF
     * chunks; the embedding is RMS amplitude of FeatureDim time slices
     * (0..1), integer-accumulated so it is bit-deterministic. */
    def audioFeatures(a: Asset): AssetFeatures = {
      val m = wavMeta(a.payload)
      val bb = java.nio.ByteBuffer.wrap(a.payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = m.dataSize / 2
      val feature = new Array[Float](FeatureDim)
      var slice = 0
      while (slice < FeatureDim) {
        val i0 = n.toLong * slice / FeatureDim
        val i1 = math.max(i0 + 1, n.toLong * (slice + 1) / FeatureDim)
        var sumSq = 0L
        var i = i0
        while (i < i1) {
          val s = bb.getShort(m.dataOffset + 2 * i.toInt).toLong
          sumSq += s * s
          i += 1
        }
        feature(slice) = (math.sqrt(sumSq.toDouble / (i1 - i0)) / 32768.0).toFloat
        slice += 1
      }
      // schema mapping for non-spatial modalities: width = sample rate,
      // height = bits per sample (documented; keeps AssetFeatures fixed-width)
      AssetFeatures(a.asset_id, a.modality, a.n_bytes,
        width = m.sampleRate, height = m.bitsPerSample,
        duration_ms = m.durationMs, feature = feature)
    }

    // --- video: minimal documented frame container over REAL PNG frames --

    val VideoMagic: Array[Byte] = "GVF1".getBytes("US-ASCII")

    /** Container layout: magic "GVF1", u16 version, u16 fps, u32 nFrames,
     * u32 frame-length index, then the concatenated PNG frame payloads.
     * The index makes frame k seekable without decoding frames 0..k-1 —
     * the property a real container (mp4 sample table) provides. */
    def encodeVideo(frames: Seq[Array[Byte]], fps: Int): Array[Byte] = {
      val total = 12 + 4 * frames.size + frames.map(_.length).sum
      val bb = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(VideoMagic).putShort(1.toShort).putShort(fps.toShort).putInt(frames.size)
      frames.foreach(f => bb.putInt(f.length))
      frames.foreach(bb.put)
      bb.array()
    }

    final case class VideoIndex(fps: Int, offsets: Array[Int], lengths: Array[Int]) {
      def nFrames: Int = lengths.length
      def durationMs: Long = 1000L * nFrames / fps
      def frame(payload: Array[Byte], k: Int): Array[Byte] =
        java.util.Arrays.copyOfRange(payload, offsets(k), offsets(k) + lengths(k))
    }

    def videoIndex(payload: Array[Byte]): VideoIndex = {
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](4); bb.get(magic)
      require(java.util.Arrays.equals(magic, VideoMagic), "not a GVF1 container")
      bb.getShort // version
      val fps = bb.getShort.toInt
      val n = bb.getInt
      val lengths = Array.fill(n)(bb.getInt)
      val offsets = lengths.scanLeft(12 + 4 * n)(_ + _).init
      VideoIndex(fps, offsets, lengths)
    }

    /** Real container parse + real first-frame pixel decode: width/height
     * are true PNG dims; the embedding is mean luminance of up to
     * FeatureDim evenly-spaced frames, each REALLY decoded. */
    def videoFeatures(a: Asset, dec: ImageDecoder): AssetFeatures = {
      val idx = videoIndex(a.payload)
      val first = dec.decode(idx.frame(a.payload, 0))
      val picks = math.min(FeatureDim, idx.nFrames)
      val feature = new Array[Float](FeatureDim)
      var p = 0
      while (p < picks) {
        val k = idx.nFrames.toLong * p / picks
        val img = if (k == 0) first else dec.decode(idx.frame(a.payload, k.toInt))
        val px = img.rgb
        var sum = 0L
        var i = 0
        while (i < px.length) {
          val rgb = px(i)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          i += 1
        }
        feature(p) = (sum / (3.0 * 255.0 * px.length)).toFloat
        p += 1
      }
      AssetFeatures(a.asset_id, a.modality, a.n_bytes,
        width = first.width, height = first.height,
        duration_ms = idx.durationMs, feature = feature)
    }
  }

  /** Deterministic synthetic PNG corpus: one REAL encoded PNG per id with
   * width = 16 + id % 32, height = 16 + (id * 7) % 32 — a formula a SQL
   * oracle can restate, so decoding it back end-to-end PROVES the codec
   * round-trip (the generator emits the expected-dims table in SQL form). */
  def pngAssets(ids: Dataset[Long]): Dataset[Asset] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      it.map { id =>
        val w = 16 + (((id % 32) + 32) % 32).toInt
        val h = 16 + ((((id * 7) % 32) + 32) % 32).toInt
        val png = Codec.encodePng(w, h, id)
        digest.reset()
        Asset(id, "image", png, "image/png", png.length.toLong,
          digest.digest(png).map("%02x".format(_)).mkString)
      }
    }
  }

  /** Deterministic synthetic WAV corpus: one REAL RIFF PCM16 payload per
   * id at 8 kHz mono with 4000 + (id % 32) * 400 frames, so
   * duration_ms = 500 + (id % 32) * 50 — a formula a SQL oracle restates;
   * a match proves a real encode → chunk-walk decode round trip. Sample
   * values are a pure integer function of (id, i). */
  def wavAssets(ids: Dataset[Long]): Dataset[Asset] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      it.map { id =>
        val m = ((id % 32) + 32) % 32
        val samples = Array.tabulate((4000 + m * 400).toInt) { i =>
          // splitmix64-style finalizer: a plain product-xor leaves the top
          // 16 bits all-zero for small (id, i), which silently produced
          // digital silence — mix down before taking the high bits
          val x0 = id * -7046029254386353131L + i * -4417276706812531889L
          val x1 = (x0 ^ (x0 >>> 30)) * -4658895280553007687L
          ((x1 ^ (x1 >>> 27)) >>> 48).toShort
        }
        val wav = Codec.encodeWav(8000, 1, samples)
        digest.reset()
        Asset(id, "audio", wav, "audio/wav", wav.length.toLong,
          digest.digest(wav).map("%02x".format(_)).mkString)
      }
    }
  }

  /** Deterministic synthetic video corpus: one GVF1 container per id at
   * 10 fps with 4 + id % 8 REAL PNG frames of 8 + id % 16 by
   * 8 + (id * 3) % 16 pixels (dims shared by all frames of an asset, as
   * real video requires; per-frame content varies via the frame seed) —
   * duration_ms = 400 + (id % 8) * 100, all oracle-restatable. */
  def videoAssets(ids: Dataset[Long]): Dataset[Asset] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      it.map { id =>
        val nf = (4 + ((id % 8) + 8) % 8).toInt
        val w = (8 + ((id % 16) + 16) % 16).toInt
        val h = (8 + (((id * 3) % 16) + 16) % 16).toInt
        val frames = (0 until nf).map(f => Codec.encodePng(w, h, id * 1000 + f))
        val vid = Codec.encodeVideo(frames, fps = 10)
        digest.reset()
        Asset(id, "video", vid, "video/x-gvf", vid.length.toLong,
          digest.digest(vid).map("%02x".format(_)).mkString)
      }
    }
  }

  /** Real frame sampling: container-parse each video asset, decode every
   * `stride`-th frame's pixels, emit one row per sampled frame with the
   * true decoded dims. Per-partition batch shape like every codec path
   * here; the frame INDEX makes the seek O(1) per frame — at cluster
   * scale the payload column arrives pruned to video rows only. */
  def frameSample(assets: Dataset[Asset], stride: Int): DataFrame = {
    require(stride > 0, "stride must be positive")
    val spark = assets.sparkSession
    import spark.implicits._
    assets.filter(_.modality == "video").mapPartitions { it =>
      val dec = new Codec.ImageDecoder // per-partition codec handle
      dec.closing(it.flatMap { a =>
        val idx = Codec.videoIndex(a.payload)
        (0 until idx.nFrames by stride).iterator.map { k =>
          val img = dec.decode(idx.frame(a.payload, k))
          (a.asset_id, k, img.width, img.height)
        }
      })
    }.toDF("asset_id", "frame_idx", "width", "height")
  }

  /** Wrap a table with a string payload column into the multimodal asset
   * schema (binary payload + metadata) — the ingest adapter. */
  def toAssets(df: DataFrame, idCol: String, payloadCol: String,
      modality: String, mime: String): Dataset[Asset] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      col(idCol).cast("long").as("asset_id"),
      lit(modality).as("modality"),
      col(payloadCol).cast("binary").as("payload"),
      lit(mime).as("mime"),
      octet_length(col(payloadCol).cast("binary")).cast("long").as("n_bytes"),
      sha2(col(payloadCol).cast("binary"), 256).as("sha256"))
      .as[Asset]
  }

  /** Per-partition batched decode/feature-extract: REAL decode for all
   * three modalities — `javax.imageio` PNG pixels, RIFF/WAV chunk walk,
   * GVF1 container parse + per-frame PNG decode. [[DecodeStub]] only for
   * mimes no codec claims. */
  def extractFeatures(assets: Dataset[Asset]): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // the per-partition codec handle: hand-rolled PNG fast path with
      // one reusable Inflater; ImageIO fallback for exotic variants
      val dec = new Codec.ImageDecoder
      dec.closing(it.map { a =>
        a.mime match {
          case "image/png"    => Codec.imageFeatures(a, dec)
          case "audio/wav"    => Codec.audioFeatures(a)
          case "video/x-gvf"  => Codec.videoFeatures(a, dec)
          case _              => DecodeStub(a)
        }
      })
    }
  }

  /** Metadata-only projection — runs WITHOUT touching payload bytes, so
   * parquet column pruning skips the heavy binary column entirely. */
  def metadata(assets: Dataset[Asset]): DataFrame =
    assets.toDF().select("asset_id", "modality", "mime", "n_bytes", "sha256")
}
