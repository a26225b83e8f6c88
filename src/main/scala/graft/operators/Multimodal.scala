package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column support: images/audio/video travel as opaque
  * `binary` columns plus typed metadata, exactly as a 100 TB training
  * -data pipeline stores them (the bytes never deserialize into JVM
  * objects until a kernel touches them).
  *
  * Everything here is real, pure-Scala/JDK code: image dimension and
  * format decode ([[ImageCodec]], header-only `javax.imageio` probes
  * plus a WebP RIFF walk), audio ([[AudioCodec]] WAV/AIFF,
  * [[Mp3Codec]] frame+ID3 walk), video ([[Mp4Codec]] ISO-BMFF box
  * walk), and pixel-level feature extraction
  * ([[ImageCodec.pixelFeatures]] color-histogram embeddings).
  * [[StubCodec]] survives only as an honestly-labeled plumbing
  * fixture for format-agnostic schema/partitioning tests. The one
  * remaining swap-in point is a LEARNED image encoder (no model
  * weights ship in this environment): replacing `pixelFeatures` with
  * a forward pass changes one function, not the pipeline shape.
  */
object Multimodal {

  /** Canonical media-table schema: id, source uri, modality tag, raw
    * bytes, sidecar metadata. */
  val mediaSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "media_id BIGINT, uri STRING, media_type STRING, content BINARY, " +
        "meta STRUCT<mime: STRING, width: INT, height: INT, duration_ms: BIGINT>")

  /** Exact binary dedup key: content hash, computed codegen-side. */
  def contentHash(content: Column): Column = sha2(content, 256)

  def exactDupGroups(df: DataFrame, content: Column, id: Column): DataFrame =
    df.groupBy(contentHash(content).as("content_sha"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keep_id"))

  /** Byte size without deserializing. */
  def byteSize(content: Column): Column = length(content)

  /** STUB codec: deterministic pseudo-decode derived from the bytes —
    * kept ONLY as the plumbing fixture for [[decodeMeta]] (schema /
    * partitioning / batch-shape tests that must not depend on any
    * container format). Real decode lives in [[ImageCodec]] /
    * [[AudioCodec]] / [[Mp3Codec]] / [[Mp4Codec]]; real feature
    * extraction in [[ImageCodec.pixelFeatures]]. */
  object StubCodec {
    /** Pretend-decode image dimensions from content bytes. */
    def decodeDims(bytes: Array[Byte]): (Int, Int) = {
      val h = java.util.Arrays.hashCode(bytes)
      (256 + math.abs(h % 1024), 256 + math.abs((h >> 10) % 1024))
    }
  }

  /** REAL image codec over JDK `javax.imageio` — no added dependency.
    * Dimension decode is HEADER-ONLY: the matching `ImageReader`
    * parses width/height from the container header without rasterizing
    * pixels, so a 50 MB JPEG costs a stream open + a few KB of reads,
    * not a full decode — the property that makes a metadata pass over
    * 100 TB of media affordable. Bytes no installed reader recognizes
    * (or truncated headers) return None rather than throwing: corrupt
    * media is data, not an exception, in a corpus-scale pipeline. */
  object ImageCodec {
    /** (format, width, height) from the header; None if undecodable.
      * Formats are lowercase ImageIO names ("png", "jpeg", "gif", …)
      * plus "webp" via the pure-Scala RIFF fallback ([[webpDims]]) —
      * the JDK ships no WebP reader, and a real web corpus is full of
      * it. */
    def decodeDims(bytes: Array[Byte]): Option[(String, Int, Int)] = {
      if (bytes == null || bytes.isEmpty) return None
      try {
        // MemoryCacheImageInputStream, NOT ImageIO.createImageInputStream:
        // the factory's default disk cache writes each image to a temp
        // file (one create/delete per row — not a header-only pass) and
        // turns a full or read-only tmpdir into silent None-decodes of
        // valid images. The bytes are already in memory; cache there.
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) webpDims(bytes)
          else {
            val r = readers.next()
            try {
              r.setInput(iis, true, true)
              Some((r.getFormatName.toLowerCase(java.util.Locale.ROOT),
                r.getWidth(0), r.getHeight(0)))
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** WebP dimensions — pure-Scala RIFF walk over the three container
      * flavors: `VP8 ` (lossy: 3-byte frame tag, 0x9D012A sync, 14-bit
      * LE dims), `VP8L` (lossless: 0x2F signature, two 14-bit fields
      * LSB-packed), `VP8X` (extended: 24-bit LE canvas dims, minus
      * one). Header-only as ever; None on anything malformed. */
    private[operators] def webpDims(bytes: Array[Byte]): Option[(String, Int, Int)] = {
      def u8(o: Int): Int = bytes(o) & 0xFF
      def u16le(o: Int): Int = u8(o) | (u8(o + 1) << 8)
      def u24le(o: Int): Int = u8(o) | (u8(o + 1) << 8) | (u8(o + 2) << 16)
      def u32le(o: Int): Long = u24le(o).toLong | (u8(o + 3).toLong << 24)
      def tag(o: Int): String =
        new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      try {
        // Smallest decodable container: RIFF(12) + chunk header(8) +
        // VP8L 5-byte payload = 25; each branch's size check bounds
        // its own reads beyond that.
        if (bytes.length < 25 || tag(0) != "RIFF" || tag(8) != "WEBP") return None
        // First chunk at 12: fourcc + u32le payload size.
        val fourcc = tag(12)
        val size = u32le(16)
        if (size < 0 || 20 + size > bytes.length) return None
        fourcc match {
          case "VP8 " if size >= 10 && u8(23) == 0x9D && u8(24) == 0x01 &&
              u8(25) == 0x2A =>
            // After the 3-byte frame tag and 3-byte sync: 14-bit dims.
            Some(("webp", u16le(26) & 0x3FFF, u16le(28) & 0x3FFF))
          case "VP8L" if size >= 5 && u8(20) == 0x2F =>
            // 28 bits LSB-first after the signature: width-1, height-1.
            val b = u32le(21)
            Some(("webp", ((b & 0x3FFF) + 1).toInt,
              (((b >> 14) & 0x3FFF) + 1).toInt))
          case "VP8X" if size >= 10 =>
            // 4 bytes flags/reserved, then canvas (width-1, height-1) u24le.
            Some(("webp", u24le(24) + 1, u24le(27) + 1))
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Deterministic VP8L (lossless WebP) fixture: a valid RIFF/WEBP
      * container whose VP8L chunk carries the 14-bit dims — header
      * bytes only (no pixel payload; [[webpDims]] is header-only so
      * round-trips are exact). */
    def encodeWebP(width: Int, height: Int): Array[Byte] = {
      require(width >= 1 && width <= 0x4000 && height >= 1 && height <= 0x4000,
        s"VP8L dims must fit 14 bits, got ${width}x$height")
      val bits = (width - 1).toLong | ((height - 1).toLong << 14)
      val payload = Array[Byte](0x2F,
        (bits & 0xFF).toByte, ((bits >> 8) & 0xFF).toByte,
        ((bits >> 16) & 0xFF).toByte, ((bits >> 24) & 0xFF).toByte)
      val out = java.nio.ByteBuffer.allocate(20 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.putInt(4 + 8 + payload.length) // riff size: "WEBP" + chunk hdr + payload
      out.put("WEBP".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.put("VP8L".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.putInt(payload.length)
      out.put(payload)
      out.array()
    }

    /** (format, width, height, frameCount) in ONE reader session —
      * the multi-frame/video-ish variant of [[decodeDims]] for
      * animated containers (GIF is what the JDK readers support).
      * Counting frames walks the container's block structure (the
      * reader needs a seekable, non-forward-only input) but still
      * never rasterizes pixels, so a frame-count pass over an
      * animation corpus stays metadata-priced. Single-frame formats
      * report 1. None for unrecognized/truncated bytes, as ever. */
    def decodeFrames(bytes: Array[Byte]): Option[(String, Int, Int, Int)] = {
      if (bytes == null || bytes.isEmpty) return None
      try {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              // seekForwardOnly = false: getNumImages(true) must scan
              // the whole block sequence and rewind.
              r.setInput(iis, false, true)
              val n = r.getNumImages(true)
              if (n <= 0) None
              else Some((r.getFormatName.toLowerCase(java.util.Locale.ROOT),
                r.getWidth(0), r.getHeight(0), n))
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Deterministic multi-frame GIF fixture written by the real
      * ImageIO sequence writer — the encode side of
      * [[decodeFrames]] round-trips. Each frame is a flat color
      * varying by index so bytes are reproducible. */
    def encodeAnimated(width: Int, height: Int, frames: Int): Array[Byte] = {
      require(width > 0 && height > 0 && frames > 0,
        s"bad animation fixture params: ${width}x$height x$frames")
      val out = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var i = 0
        while (i < frames) {
          val img = new java.awt.image.BufferedImage(
            width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          g.setColor(new java.awt.Color((i * 40) % 256, 64, 128))
          g.fillRect(0, 0, width, height)
          g.dispose()
          writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
          i += 1
        }
        writer.endWriteSequence()
      } finally { writer.dispose(); ios.close() }
      out.toByteArray
    }

    /** REAL visual fingerprint: rasterize the image (full pixel
      * decode, the one codec path that is NOT header-only) and emit a
      * deterministic `bins³`-dimensional normalized color histogram —
      * each pixel lands in an (r,g,b) high-bits bucket, counts divide
      * by pixel count, so the embedding is scale-invariant:
      * visually-identical content at different encodings (PNG vs BMP
      * of the same pixels) maps to the SAME vector and clusters at
      * cosine 1.0 through [[Similarity.nearDupPairs]]. This replaces
      * the former hash-stub forward pass: it is a genuine
      * pixel-statistics featurizer, not a model, and a learned encoder
      * drops in by replacing this one function.
      *
      * Scale guard: the header is read FIRST ([[decodeDims]]) and any
      * image over `maxPixels` (default 4M ≈ a 2048×2048 raster = 16 MB
      * ARGB heap) returns None instead of rasterizing — one oversized
      * image must not OOM an executor mid-corpus. Undecodable bytes
      * are None as always: corrupt media is data, not a failure. */
    def pixelFeatures(bytes: Array[Byte], bins: Int = 4,
                      maxPixels: Long = 1L << 22): Option[Array[Float]] = {
      require(bins >= 2 && bins <= 16, s"bins must be in [2,16], got $bins")
      decodeDims(bytes) match {
        case Some((_, w, h)) if w > 0 && h > 0 && w.toLong * h <= maxPixels =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            if (img == null) None
            else {
              val hist = new Array[Float](bins * bins * bins)
              val width = img.getWidth
              val height = img.getHeight
              // One bulk grab: per-pixel getRGB(x, y) pays a color-model
              // conversion per call (several× slower on non-INT_RGB
              // rasters); the array form converts once. Bounded by the
              // maxPixels guard above (4M pixels = 16 MB of ints).
              val pixels = img.getRGB(0, 0, width, height, null, 0, width)
              var p = 0
              while (p < pixels.length) {
                val rgb = pixels(p)
                val r = ((rgb >> 16) & 0xFF) * bins / 256
                val g = ((rgb >> 8) & 0xFF) * bins / 256
                val b = (rgb & 0xFF) * bins / 256
                hist((r * bins + g) * bins + b) += 1f
                p += 1
              }
              val n = (width.toLong * height).toFloat
              var i = 0
              while (i < hist.length) { hist(i) /= n; i += 1 }
              Some(hist)
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }
    }

    /** 64-bit perceptual DCT hash (the classic pHash shape) on the
      * same guarded raster path as [[pixelFeatures]]: decode (bounded
      * by `maxPixels` — dimensions come from the HEADER, so an
      * oversized or decompression-bomb image is refused before any
      * raster allocation), box-average to a 32×32 grayscale, 2-D
      * DCT-II, keep the top-left 8×8 low-frequency block, and set
      * bit i when coefficient i exceeds the block's MEDIAN (DC
      * excluded from the median — it is pure global brightness).
      *
      * Why this beats exact-hash and the color histogram for image
      * near-dup: a JPEG re-encode of the same raster changes every
      * byte (exact dedup misses it) and barely moves a 64-bin
      * histogram only for GLOBAL edits (q149's histogram can't see
      * crops or local edits); low-frequency DCT signs survive
      * re-encode/resize and differ for genuinely different content —
      * Hamming distance on the 64 bits is the classic similarity.
      * Corrupt/undecodable/oversized bytes → None (data, never a
      * task failure) — and so do STRUCTURELESS images (solid/flat
      * frames, ~zero AC energy): pHash has no signal there, and
      * without the guard every pair of solid frames (black vs white!)
      * would collide at Hamming 0.
      *
      * The signature is effectively 63-bit: bits 0–62 carry the AC
      * signs, bit 63 is structurally 0 (DC excluded). Band it as 63
      * bits (`bands ∈ {3, 7, 9, 21, 63}`) in
      * [[graft.operators.Dedup.hammingPairs]] — banding 64 bits would
      * give one chunk a constant bit and make its buckets
      * systematically 2× more collision-prone. */
    def pHash(bytes: Array[Byte], maxPixels: Long = 1L << 22): Option[Long] = {
      decodeDims(bytes) match {
        case Some((_, w, h)) if w > 0 && h > 0 && w.toLong * h <= maxPixels =>
          try {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            if (img == null) None
            else {
              val W = img.getWidth; val H = img.getHeight
              val pixels = img.getRGB(0, 0, W, H, null, 0, W)
              // Box-average grayscale downsample to 32×32: every source
              // pixel lands in exactly one cell — deterministic, no
              // interpolation-kernel variance across JVMs.
              val n = 32
              val acc = new Array[Double](n * n)
              val cnt = new Array[Int](n * n)
              var p = 0
              while (p < pixels.length) {
                val x = p % W; val y = p / W
                val cell = (y * n / H) * n + (x * n / W)
                val rgb = pixels(p)
                acc(cell) += (((rgb >> 16) & 0xFF) * 299 +
                  ((rgb >> 8) & 0xFF) * 587 + (rgb & 0xFF) * 114) / 1000.0
                cnt(cell) += 1
                p += 1
              }
              var i = 0
              while (i < acc.length) {
                if (cnt(i) > 0) acc(i) /= cnt(i); i += 1
              }
              // 2-D DCT-II of the 32×32 grid, top-left 8×8 kept. The
              // cosine table is tiny (32×32 doubles) and rebuilt per
              // call — image decode dominates by orders of magnitude.
              val cosT = Array.tabulate(8, n)((u, x) =>
                math.cos((2 * x + 1) * u * math.Pi / (2.0 * n)))
              val block = new Array[Double](64)
              var u = 0
              while (u < 8) {
                var v = 0
                while (v < 8) {
                  var s = 0.0
                  var y = 0
                  while (y < n) {
                    var x = 0
                    while (x < n) {
                      s += acc(y * n + x) * cosT(u)(y) * cosT(v)(x)
                      x += 1
                    }
                    y += 1
                  }
                  block(u * 8 + v) = s
                  v += 1
                }
                u += 1
              }
              // Median over the 63 AC coefficients; DC (block(0)) is
              // brightness — excluded from the median AND the hash
              // (its magnitude dwarfs the AC median, so its bit would
              // be constant 1 across any corpus: a wasted signature
              // bit and a systematically half-selective band bucket).
              // Bits 0..62 are the AC signs; bit 63 stays 0.
              val ac = block.drop(1).sorted
              // Low-variance guard: a flat image (solid color, blank
              // frame) has ~zero AC energy, so '> median' would hash
              // EVERY such image to sig=0 — black and white frames
              // would pair at Hamming 0 as "near-dups". Structureless
              // content has no perceptual signature; drop it like
              // undecodable bytes (None = data, never a failure).
              // Threshold is absolute: AC coefficients of real
              // content sit in the hundreds-to-thousands range for
              // 0–255 gray values; float noise is ~1e-10.
              if (ac.last - ac.head < 1e-6) None
              else {
                val median = (ac(30) + ac(31)) / 2.0
                var sig = 0L
                var b = 1
                while (b < 64) {
                  if (block(b) > median) sig |= (1L << (b - 1))
                  b += 1
                }
                Some(sig)
              }
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }
    }

    /** Deterministic PATTERNED test image — a 4×4 grid of
      * bright/dark blocks keyed by a scrambled seed, so (a) a lossy
      * JPEG re-encode keeps the perceptual hash close (24-px uniform
      * blocks are exactly the low-frequency content JPEG quantization
      * preserves) and (b) distinct seeds flip ~half the blocks (the
      * golden-ratio scramble decorrelates adjacent seeds), producing
      * far-apart hashes. The fixture generator for [[pHash]]
      * round-trips. */
    /** The 16 block bits [[encodePattern]] renders for `seed`. */
    private def patternBits(seed: Long): Long =
      ((seed * 0x9E3779B97F4A7C15L) >>> 13) & 0xFFFFL

    /** `n` seeds whose block patterns pairwise differ in at least
      * `minDist` of the 16 blocks (greedy code construction,
      * deterministic) — the fixture discipline that makes "distinct
      * images hash far apart" a GUARANTEE instead of a random-seed
      * hope. */
    def patternSeeds(n: Int, minDist: Int = 6): Seq[Long] = {
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      var s = 0L
      while (out.size < n && s < 1000000L) {
        val bits = patternBits(s)
        // Degenerate codewords (all-dark / all-bright) render a SOLID
        // image — structureless content [[pHash]]'s low-variance
        // guard rightly refuses. A "patterned" fixture must pattern.
        if (bits != 0L && bits != 0xFFFFL &&
            out.forall(o => java.lang.Long.bitCount(
              patternBits(o) ^ bits) >= minDist)) out += s
        s += 1
      }
      require(out.size == n,
        s"could not construct $n block codewords at distance $minDist")
      out.toSeq
    }

    def encodePattern(width: Int, height: Int, seed: Long,
                      format: String): Array[Byte] = {
      require(width > 0 && height > 0, s"need positive dims, got ${width}x$height")
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bits = patternBits(seed)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val block = (y * 4 / height) * 4 + (x * 4 / width)
          val g = if (((bits >> block) & 1L) == 1L) 200 else 55
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, format, out),
        s"no ImageIO writer for format '$format'")
      out.toByteArray
    }

    /** Deterministic single-color test image, encoded with the real
      * ImageIO writer — the fixture generator for decode round-trips
      * (`format`: "png", "jpeg", "gif", "bmp"). */
    def encode(width: Int, height: Int, rgb: Int, format: String): Array[Byte] = {
      require(width > 0 && height > 0, s"need positive dims, got ${width}x$height")
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, format, out),
        s"no ImageIO writer for format '$format'")
      out.toByteArray
    }
  }

  case class FrameMeta(media_id: Long, format: Option[String],
                       width: Option[Int], height: Option[Int],
                       n_frames: Option[Int], n_bytes: Long)

  /** Per-partition batched multi-frame decode via
    * [[ImageCodec.decodeFrames]] — the video-ish metadata pass:
    * format, dims, and REAL frame count per media row, nulls for
    * undecodable content. Feed the result into a `sequence`-explode
    * to plan frame sampling (every k-th frame) as pure column math —
    * the downstream per-frame decode is then a bounded, pre-sized
    * work list instead of a blind scan. Input needs
    * (media_id BIGINT, content BINARY). */
  def decodeFrameMeta(df: DataFrame): Dataset[FrameMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val n = if (bytes == null) 0L else bytes.length.toLong
        ImageCodec.decodeFrames(bytes) match {
          case Some((fmt, w, h, fc)) =>
            FrameMeta(id, Some(fmt), Some(w), Some(h), Some(fc), n)
          case None => FrameMeta(id, None, None, None, None, n)
        }
      })
  }

  case class DecodedMeta(media_id: Long, width: Int, height: Int, n_bytes: Long)
  case class ImageMeta(media_id: Long, format: Option[String],
                       width: Option[Int], height: Option[Int], n_bytes: Long)
  case class MediaFeatures(media_id: Long, embedding: Option[Array[Float]])

  /** Per-partition batched decode (the mapInPandas analog in Scala:
    * one iterator pass per partition, no per-row task overhead, bytes
    * stay off-heap until touched). Input needs (media_id BIGINT,
    * content BINARY). */
  def decodeMeta(df: DataFrame): Dataset[DecodedMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (w, h) = StubCodec.decodeDims(bytes)
        DecodedMeta(id, w, h, bytes.length.toLong)
      })
  }

  /** Per-partition batched REAL image decode: header-only
    * format/dimension extraction via [[ImageCodec]]; undecodable
    * content yields null format/dims (never a task failure). Input
    * needs (media_id BIGINT, content BINARY). Pair with
    * [[repartitionForDecode]] upstream so each task holds a bounded
    * byte volume. */
  def decodeImageMeta(df: DataFrame): Dataset[ImageMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val n = if (bytes == null) 0L else bytes.length.toLong
        ImageCodec.decodeDims(bytes) match {
          case Some((fmt, w, h)) => ImageMeta(id, Some(fmt), Some(w), Some(h), n)
          case None => ImageMeta(id, None, None, None, n)
        }
      })
  }

  /** Per-partition batched REAL feature extraction
    * ([[ImageCodec.pixelFeatures]] — rasterized color-histogram
    * embedding, `bins`³ dims) → embedding column that feeds directly
    * into [[Similarity]] / [[Dedup]] operators. Undecodable or
    * oversized content yields a null embedding (filter before the
    * similarity join), never a task failure. Input needs
    * (media_id BIGINT, content BINARY); pair with
    * [[repartitionForDecode]] upstream — this is the one pass that
    * rasterizes, so partition byte volume bounds executor heap. */
  def extractFeatures(df: DataFrame, bins: Int = 4,
                      maxPixels: Long = 1L << 22): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        MediaFeatures(id, ImageCodec.pixelFeatures(bytes, bins, maxPixels))
      })
  }

  /** Per-media perceptual hash ([[ImageCodec.pHash]]) over a
    * `(media_id, content)` frame — mapPartitions at the codec library
    * boundary, like [[extractFeatures]]. Undecodable/oversized/flat
    * rows surface as null hashes (filter, don't fail). Feed the
    * result to [[Dedup.hammingPairs]] for banded image near-dup at
    * corpus scale — as a 63-BIT signature (`bits = 63`, bands from
    * {3, 7, 9, 21, 63}): bit 63 is structurally 0 (DC exclusion), so
    * 64-bit banding would hand one chunk a constant bit and make its
    * buckets systematically 2× more collision-prone. */
  def perceptualHashes(df: DataFrame,
                       maxPixels: Long = 1L << 22): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, ImageCodec.pHash(bytes, maxPixels))
      })
      .toDF("media_id", "phash")
  }

  /** Real audio metadata codec over the JDK's `javax.sound.sampled`
    * (WAV/AIFF/AU — the containers the built-in providers read), the
    * audio sibling of [[ImageCodec]]: header-only parse — channels,
    * sample rate, bit depth, frame count — without decoding samples,
    * so a metadata pass over a media corpus costs stream opens.
    * Unrecognized or truncated bytes return None: corrupt media is
    * data, never a task failure. */
  object AudioCodec {
    /** (encoding, channels, sampleRateHz, bitsPerSample, nFrames,
      * durationMs) from the container header; None if undecodable.
      * durationMs floors (nFrames × 1000) / sampleRate. */
    def decodeMeta(bytes: Array[Byte])
        : Option[(String, Int, Int, Int, Long, Long)] = {
      if (bytes == null || bytes.isEmpty) return None
      try {
        val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(bytes))
        val f = aff.getFormat
        val rate = f.getSampleRate.toInt
        val frames = aff.getFrameLength.toLong
        if (rate <= 0 || frames < 0) None
        else Some((f.getEncoding.toString.toLowerCase(java.util.Locale.ROOT),
          f.getChannels, rate, f.getSampleSizeInBits,
          frames, frames * 1000L / rate))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Deterministic PCM-16 WAV fixture, written by the real
      * AudioSystem WAVE writer — the encode side of decode
      * round-trips. Samples are a fixed sawtooth so output bytes are
      * reproducible. */
    def encode(sampleRateHz: Int, channels: Int, nFrames: Int): Array[Byte] = {
      require(sampleRateHz > 0 && channels > 0 && nFrames >= 0,
        s"bad WAV fixture params: $sampleRateHz/$channels/$nFrames")
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRateHz.toFloat, 16, channels, true, false)
      val pcm = new Array[Byte](nFrames * channels * 2)
      var i = 0
      while (i < pcm.length / 2) {
        val v = ((i * 257) % 65536 - 32768).toShort
        pcm(2 * i) = (v & 0xFF).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
        i += 1
      }
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(in,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
  }

  /** MPEG audio (MP3) metadata codec — pure-Scala frame-header walker
    * for the container 100 TB audio corpora actually hold (javax.sound
    * stops at WAV/AIFF/AU). HEADER-ONLY throughout: an ID3v2 tag is
    * skipped by its syncsafe length, the first frame header is
    * validated against its SUCCESSOR (a lone false sync in text bytes
    * must not decode), then the walk jumps frame-to-frame by each
    * frame's own computed length — so VBR streams count exactly, and
    * no audio sample is ever decoded. Truncated tails and trailing
    * ID3v1 tags end the walk cleanly. Layer III, all MPEG versions
    * (1 / 2 / 2.5). None for unrecognized bytes, as ever. */
  object Mp3Codec {
    // Bitrate (kbps) by header index, Layer III. Index 0 ("free") and
    // 15 (reserved) are rejected.
    private val BitratesV1 =
      Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
    private val BitratesV2 =
      Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
    private val RatesV1 = Array(44100, 48000, 32000, 0)
    private val RatesV2 = Array(22050, 24000, 16000, 0)
    private val RatesV25 = Array(11025, 12000, 8000, 0)

    private case class Frame(version: String, sampleRate: Int, channels: Int,
                             bitrateKbps: Int, frameBytes: Int, samples: Int)

    private def parseFrame(b: Array[Byte], off: Int): Option[Frame] = {
      if (off < 0 || off + 4 > b.length) return None
      val b0 = b(off) & 0xFF; val b1 = b(off + 1) & 0xFF
      val b2 = b(off + 2) & 0xFF; val b3 = b(off + 3) & 0xFF
      if (b0 != 0xFF || (b1 & 0xE0) != 0xE0) return None
      val verBits = (b1 >> 3) & 3 // 0=2.5, 1=reserved, 2=2, 3=1
      val layerBits = (b1 >> 1) & 3 // 1 = Layer III
      if (verBits == 1 || layerBits != 1) return None
      val brIdx = (b2 >> 4) & 0xF
      val srIdx = (b2 >> 2) & 3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
      val (version, rates, bitrates, samples, coef) = verBits match {
        case 3 => ("mpeg1", RatesV1, BitratesV1, 1152, 144)
        case 2 => ("mpeg2", RatesV2, BitratesV2, 576, 72)
        case _ => ("mpeg2.5", RatesV25, BitratesV2, 576, 72)
      }
      val rate = rates(srIdx)
      val kbps = bitrates(brIdx)
      val padding = (b2 >> 1) & 1
      val frameBytes = coef * kbps * 1000 / rate + padding
      if (frameBytes < 4) return None
      val channels = if (((b3 >> 6) & 3) == 3) 1 else 2
      Some(Frame(version, rate, channels, kbps, frameBytes, samples))
    }

    /** ID3v2 header → total tag length to skip (10-byte header +
      * syncsafe 28-bit size), or 0 when absent. */
    private def id3v2Length(b: Array[Byte]): Int =
      if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3' &&
          (b(6) & 0x80) == 0 && (b(7) & 0x80) == 0 &&
          (b(8) & 0x80) == 0 && (b(9) & 0x80) == 0)
        10 + ((b(6) & 0x7F) << 21 | (b(7) & 0x7F) << 14 |
          (b(8) & 0x7F) << 7 | (b(9) & 0x7F))
      else 0

    /** (version, channels, sampleRateHz, firstFrameBitrateKbps,
      * nFrames, durationMs); None if no valid MPEG frame sequence is
      * found. durationMs floors total samples × 1000 / rate. */
    def decodeMeta(bytes: Array[Byte])
        : Option[(String, Int, Int, Int, Long, Long)] = {
      if (bytes == null || bytes.length < 8) return None
      var off = id3v2Length(bytes)
      // Find the first frame whose successor ALSO parses (or which
      // exactly ends the stream): random bytes contain 0xFF sync
      // patterns, a chained pair is real framing. Bounded search
      // window: real streams put frame 1 right after the tag.
      val searchEnd = math.min(bytes.length - 4, off + 4096)
      var first: Option[Frame] = None
      while (first.isEmpty && off <= searchEnd) {
        first = parseFrame(bytes, off).filter { f =>
          off + f.frameBytes == bytes.length ||
            parseFrame(bytes, off + f.frameBytes).isDefined
        }
        if (first.isEmpty) off += 1
      }
      first.map { f0 =>
        var nFrames = 0L
        var totalSamples = 0L
        // Count only COMPLETE frames: a header whose payload runs past
        // EOF is a truncated tail, not audio.
        var cur = parseFrame(bytes, off).filter(f => off + f.frameBytes <= bytes.length)
        while (cur.isDefined) {
          val f = cur.get
          nFrames += 1
          totalSamples += f.samples
          off += f.frameBytes
          cur = parseFrame(bytes, off).filter(f => off + f.frameBytes <= bytes.length)
        }
        (f0.version, f0.channels, f0.sampleRate, f0.bitrateKbps,
          nFrames, totalSamples * 1000L / f0.sampleRate)
      }
    }

    /** Deterministic CBR fixture: `nFrames` MPEG1 Layer III frames at
      * 128 kbps (headers + zero payload — byte-exact framing, no
      * audible content), optionally preceded by a synthetic ID3v2 tag
      * of `id3Payload` bytes to exercise the skip path.
      * `sampleRateHz` ∈ {44100, 48000, 32000}. */
    def encode(sampleRateHz: Int, channels: Int, nFrames: Int,
               id3Payload: Int = 0): Array[Byte] = {
      val srIdx = RatesV1.indexOf(sampleRateHz)
      require(srIdx >= 0 && srIdx < 3, s"MPEG1 rate needed, got $sampleRateHz")
      require(channels == 1 || channels == 2, s"mono/stereo only, got $channels")
      require(nFrames > 0 && id3Payload >= 0, "need frames >= 1")
      val frameBytes = 144 * 128000 / sampleRateHz
      val out = new java.io.ByteArrayOutputStream()
      if (id3Payload > 0) {
        require(id3Payload < (1 << 28), "ID3 payload too large")
        out.write('I'); out.write('D'); out.write('3')
        out.write(4); out.write(0); out.write(0) // v2.4, no flags
        out.write((id3Payload >> 21) & 0x7F); out.write((id3Payload >> 14) & 0x7F)
        out.write((id3Payload >> 7) & 0x7F); out.write(id3Payload & 0x7F)
        out.write(new Array[Byte](id3Payload))
      }
      val frame = new Array[Byte](frameBytes)
      frame(0) = 0xFF.toByte
      frame(1) = 0xFB.toByte // MPEG1, Layer III, no CRC
      frame(2) = ((9 << 4) | (srIdx << 2)).toByte // 128 kbps, no padding
      frame(3) = (if (channels == 1) 0xC0 else 0x00).toByte
      var i = 0
      while (i < nFrames) { out.write(frame); i += 1 }
      out.toByteArray
    }
  }

  /** ISO BMFF (MP4/MOV) metadata codec — pure-Scala box walker for
    * the container 100 TB video corpora actually hold. HEADER-ONLY:
    * the walk reads box size/type words and descends only into
    * `moov`→(`mvhd`, `trak`→`tkhd`), so cost is independent of the
    * `mdat` payload (which at 100 TB is ~all the bytes). Handles
    * 64-bit largesize and size-0 (to-EOF) boxes; malformed structure
    * returns None, never a task failure. */
  object Mp4Codec {
    private def u32(b: Array[Byte], o: Int): Long =
      if (o + 4 > b.length) -1L
      else ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
        ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)
    private def u64(b: Array[Byte], o: Int): Long =
      if (o + 8 > b.length) -1L else (u32(b, o) << 32) | u32(b, o + 4)
    private def fourcc(b: Array[Byte], o: Int): String =
      if (o + 4 > b.length) ""
      else new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Walk the boxes of `[start, end)`, invoking `f(type, payloadStart,
      * payloadEnd)`; returns false on structural corruption. */
    private def walk(b: Array[Byte], start: Int, end: Int)
                    (f: (String, Int, Int) => Unit): Boolean = {
      var off = start
      while (off < end) {
        if (off + 8 > end) return false
        var size = u32(b, off)
        val typ = fourcc(b, off + 4)
        var payload = off + 8
        if (size == 1) { size = u64(b, off + 8); payload = off + 16 }
        else if (size == 0) size = (end - off).toLong
        if (size < (payload - off) || off + size > end) return false
        f(typ, payload, (off + size).toInt)
        off += size.toInt
      }
      true
    }

    /** (brand, timescale, durationMs, width, height); None when no
      * well-formed `moov`/`mvhd` exists. Width/height are the largest
      * track-header dims (16.16 fixed-point, truncated) and None for
      * audio-only files (all-zero tkhd dims). */
    def decodeMeta(bytes: Array[Byte])
        : Option[(String, Long, Long, Option[Int], Option[Int])] = {
      if (bytes == null || bytes.length < 16) return None
      try {
        var brand = ""
        var timescale = -1L
        var duration = -1L
        var width = 0
        var height = 0
        // Nested-walk corruption must surface as None (the scaladoc
        // contract) — a lying child-box size cannot silently degrade
        // to partial metadata.
        var corrupt = false
        val ok = walk(bytes, 0, bytes.length) {
          case ("ftyp", p, _) => brand = fourcc(bytes, p)
          case ("moov", p, e) =>
            if (!walk(bytes, p, e) {
              case ("mvhd", mp, _) =>
                val version = bytes(mp) & 0xFF
                if (version == 1) {
                  timescale = u32(bytes, mp + 20)
                  duration = u64(bytes, mp + 24)
                } else {
                  timescale = u32(bytes, mp + 12)
                  duration = u32(bytes, mp + 16)
                }
              case ("trak", tp, te) =>
                // tkhd v1 widens ctime/mtime/duration to 8 bytes:
                // 4 (ver/flags) + 8+8 + 4+4 (track_ID/reserved) + 8
                // (duration) + 8 (reserved) + 2+2+2+2 + 36 (matrix)
                // = 88 before width; v0 = 4+4+4+4+4+4+8+16+36 = 76.
                if (!walk(bytes, tp, te) {
                  case ("tkhd", kp, _) =>
                    val version = bytes(kp) & 0xFF
                    val dimOff = kp + (if (version == 1) 88 else 76)
                    val w = (u32(bytes, dimOff) >> 16).toInt
                    val h = (u32(bytes, dimOff + 4) >> 16).toInt
                    if (w > width) width = w
                    if (h > height) height = h
                  case _ =>
                }) corrupt = true
              case _ =>
            }) corrupt = true
          case _ =>
        }
        if (!ok || corrupt || timescale <= 0 || duration < 0) None
        else Some((brand, timescale, duration * 1000L / timescale,
          if (width > 0) Some(width) else None,
          if (height > 0) Some(height) else None))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Deterministic minimal-MP4 fixture: ftyp(isom) + moov(mvhd +
      * trak(tkhd with 16.16 dims)) + an empty mdat — real box
      * structure, no media payload. `width`/`height` 0 emits an
      * audio-only-shaped track (zero dims). `v1 = true` writes
      * version-1 full boxes (64-bit ctime/mtime/duration — what
      * muxers emit past 2038 or for long media), exercising the wider
      * tkhd/mvhd offsets. */
    def encode(timescale: Int, duration: Long, width: Int, height: Int,
               v1: Boolean = false): Array[Byte] = {
      require(timescale > 0 && duration >= 0 && width >= 0 && height >= 0,
        s"bad MP4 fixture params: $timescale/$duration/${width}x$height")
      // Box sizes INCLUDE the 8-byte (size, type) header. v0 payloads:
      // mvhd 100, tkhd 84; v1 adds 12 bytes of widened times each.
      val mvhdSize = 8 + (if (v1) 112 else 100)
      val tkhdSize = 8 + (if (v1) 96 else 84)
      val trakSize = 8 + tkhdSize
      val moovSize = 8 + mvhdSize + trakSize
      val out = java.nio.ByteBuffer.allocate(16 + moovSize + 8)
      def box(size: Int, typ: String): Unit = {
        out.putInt(size)
        out.put(typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      }
      def times(): Unit = // ctime, mtime
        if (v1) { out.putLong(0L); out.putLong(0L) }
        else { out.putInt(0); out.putInt(0) }
      def dur(): Unit =
        if (v1) out.putLong(duration) else out.putInt(duration.toInt)
      box(16, "ftyp")
      out.put("isom".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.putInt(0x200) // minor version
      box(moovSize, "moov")
      box(mvhdSize, "mvhd")
      out.putInt(if (v1) 0x01000000 else 0) // version + flags
      times()
      out.putInt(timescale)
      dur()
      out.putInt(0x00010000).putShort(0x0100.toShort).putShort(0.toShort) // rate, volume, reserved
      out.putInt(0).putInt(0) // reserved
      // Unity matrix.
      out.putInt(0x00010000).putInt(0).putInt(0)
      out.putInt(0).putInt(0x00010000).putInt(0)
      out.putInt(0).putInt(0).putInt(0x40000000)
      (0 until 6).foreach(_ => out.putInt(0)) // pre_defined
      out.putInt(2) // next_track_ID
      box(trakSize, "trak")
      box(tkhdSize, "tkhd")
      out.putInt((if (v1) 0x01000000 else 0) | 0x000007) // version + enabled flags
      times()
      out.putInt(1) // track_ID
      out.putInt(0) // reserved
      dur()
      out.putInt(0).putInt(0) // reserved
      out.putShort(0.toShort).putShort(0.toShort) // layer, alternate_group
      out.putShort(0.toShort).putShort(0.toShort) // volume, reserved
      out.putInt(0x00010000).putInt(0).putInt(0)
      out.putInt(0).putInt(0x00010000).putInt(0)
      out.putInt(0).putInt(0).putInt(0x40000000)
      out.putInt(width << 16)
      out.putInt(height << 16)
      box(8, "mdat")
      java.util.Arrays.copyOf(out.array(), out.position())
    }
  }

  case class AudioMeta(media_id: Long, encoding: Option[String],
                       channels: Option[Int], sample_rate: Option[Int],
                       n_frames: Option[Long], duration_ms: Option[Long],
                       n_bytes: Long)

  /** Per-partition batched REAL audio decode via [[AudioCodec]];
    * undecodable content yields null meta (never a task failure).
    * Input needs (media_id BIGINT, content BINARY); pair with
    * [[repartitionForDecode]] upstream. */
  def decodeAudioMeta(df: DataFrame): Dataset[AudioMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val n = if (bytes == null) 0L else bytes.length.toLong
        AudioCodec.decodeMeta(bytes) match {
          case Some((enc, ch, rate, _, frames, durMs)) =>
            AudioMeta(id, Some(enc), Some(ch), Some(rate),
              Some(frames), Some(durMs), n)
          case None =>
            AudioMeta(id, None, None, None, None, None, n)
        }
      })
  }

  case class Mp3Meta(media_id: Long, version: Option[String],
                     channels: Option[Int], sample_rate: Option[Int],
                     bitrate_kbps: Option[Int], n_frames: Option[Long],
                     duration_ms: Option[Long], n_bytes: Long)

  /** Per-partition batched MP3 metadata decode via [[Mp3Codec]];
    * undecodable content yields null meta (never a task failure).
    * Input needs (media_id BIGINT, content BINARY). */
  def decodeMp3Meta(df: DataFrame): Dataset[Mp3Meta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val n = if (bytes == null) 0L else bytes.length.toLong
        Mp3Codec.decodeMeta(bytes) match {
          case Some((ver, ch, rate, kbps, frames, durMs)) =>
            Mp3Meta(id, Some(ver), Some(ch), Some(rate), Some(kbps),
              Some(frames), Some(durMs), n)
          case None =>
            Mp3Meta(id, None, None, None, None, None, None, n)
        }
      })
  }

  case class Mp4Meta(media_id: Long, brand: Option[String],
                     timescale: Option[Long], duration_ms: Option[Long],
                     width: Option[Int], height: Option[Int], n_bytes: Long)

  /** Per-partition batched MP4/ISO-BMFF metadata decode via
    * [[Mp4Codec]]; undecodable content yields null meta (never a task
    * failure). Input needs (media_id BIGINT, content BINARY). */
  def decodeMp4Meta(df: DataFrame): Dataset[Mp4Meta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val n = if (bytes == null) 0L else bytes.length.toLong
        Mp4Codec.decodeMeta(bytes) match {
          case Some((brand, ts, durMs, w, h)) =>
            Mp4Meta(id, Some(brand), Some(ts), Some(durMs), w, h, n)
          case None =>
            Mp4Meta(id, None, None, None, None, None, n)
        }
      })
  }

  /** Frame-sampling plan for video content: evenly spaced offsets —
    * pure column math. Frame rasterization for multi-frame containers
    * the JDK can decode is [[ImageCodec.decodeFrames]]; for MP4 the
    * sampled offsets index into the (never-read) `mdat` payload, whose
    * decode would come from the same learned/AV swap-in point noted in
    * the header. */
  def frameOffsets(durationMs: Column, everyMs: Long): Column =
    sequence(lit(0L), greatest(durationMs - 1L, lit(0L)), lit(everyMs))

  /** Right-size partitions for binary payloads before a decode pass:
    * target ~`targetMb` of content per task so executor memory is
    * bounded regardless of media size skew. */
  def repartitionForDecode(df: DataFrame, content: Column, targetMb: Int = 64): DataFrame = {
    val totalBytes = df.select(sum(length(content)).cast("long")).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    val parts = math.max(1, (totalBytes / (targetMb.toLong * 1024 * 1024)).toInt)
    df.repartition(parts)
  }
}
