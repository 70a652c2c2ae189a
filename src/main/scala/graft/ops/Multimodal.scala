package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: images/audio/video ride as opaque `binary`
  * columns with typed metadata, processed in batched per-partition passes.
  *
  * IMAGES decode for real: payloads whose magic says PNG/JPEG/GIF/BMP go
  * through the JDK's ImageIO (`imageDecode` — the same decoder family the
  * PDF kernel's DCT filter already uses), producing true width/height and
  * band-0 pixel statistics. Audio/video codecs are NOT in this container,
  * so their decode kernel remains a clearly-marked DETERMINISTIC FAKE (it
  * parses our own synthetic header and derives features from the payload
  * bytes). Everything around both — the binary column, schema,
  * mapPartitions batching, partition strategy — is the real production
  * shape: swapping `fakeDecode` for an FFmpeg call changes nothing else.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media: Array[Byte], kind: String)
  final case class MediaMeta(doc_id: Long, kind: String, width: Int, height: Int,
                             n_bytes: Long, mean_byte: Double, features: Array[Float])
  final case class ImageMeta(doc_id: Long, width: Int, height: Int,
                             n_pixels: Long, sum_band0: Long)

  /** Synthesize a deterministic media blob: [magic u8][w u16][h u16][pixels]. */
  def syntheticMedia(docId: Long, kind: String): Array[Byte] = {
    val w = 8 + (docId % 24).toInt
    val h = 8 + ((docId / 7) % 16).toInt
    val out = new Array[Byte](5 + w * h)
    out(0) = (if (kind == "image") 0x7f else 0x7e).toByte
    out(1) = ((w >> 8) & 0xff).toByte; out(2) = (w & 0xff).toByte
    out(3) = ((h >> 8) & 0xff).toByte; out(4) = (h & 0xff).toByte
    var i = 0
    var seed = docId * 6364136223846793005L + 1442695040888963407L
    while (i < w * h) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      out(5 + i) = ((seed >>> 56) & 0xff).toByte
      i += 1
    }
    out
  }

  /** STUB decode (deterministic fake — see object doc). Real codecs would
    * plug in here without touching the Spark plumbing.
    */
  def fakeDecode(media: Array[Byte]): (Int, Int, Double, Array[Float]) = {
    if (media == null || media.length < 5) return (0, 0, 0.0, Array.fill(8)(0f))
    val w = ((media(1) & 0xff) << 8) | (media(2) & 0xff)
    val h = ((media(3) & 0xff) << 8) | (media(4) & 0xff)
    var sum = 0L
    val hist = new Array[Long](8)
    var i = 5
    while (i < media.length) {
      val b = media(i) & 0xff
      sum += b
      hist(b >> 5) += 1
      i += 1
    }
    val n = math.max(1, media.length - 5)
    (w, h, sum.toDouble / n, hist.map(c => c.toFloat / n))
  }

  /** Author a REAL PNG (JDK ImageIO, lossless) with deterministic gray
    * pixels: value(x,y) = (x + y + docId) mod 256 over a
    * (8 + docId%24) x (8 + (docId/7)%16) raster. Because PNG is lossless,
    * the decoded samples are exactly the authored formula — which is what
    * lets the x40 gate mirror REAL-decoder output in SQL arithmetic.
    */
  def syntheticPng(docId: Long): Array[Byte] = {
    val w = 8 + (docId % 24).toInt
    val h = 8 + ((docId / 7) % 16).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((x + y + docId) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    // Explicit MEMORY-cached output stream: ImageIO.write(img, fmt,
    // OutputStream) wraps the target via createImageOutputStream, which
    // under the default useCache=true backs every call with a TEMP FILE —
    // per-row file create/delete that serializes badly once the authoring
    // map runs 32-wide (observed 0.7 s -> 4.3 s after the input spread).
    // The encoder and therefore the emitted PNG bytes are unchanged.
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try javax.imageio.ImageIO.write(img, "png", ios)
    finally ios.close()
    bos.toByteArray
  }

  /** True iff the payload's magic number is a format ImageIO handles
    * (PNG / JPEG / GIF / BMP).
    */
  def looksLikeRealImage(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 &&
      ((((b(0) & 0xff) == 0x89) && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
        ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) ||
        (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') ||
        (b(0) == 'B' && b(1) == 'M'))

  /** Decompression-bomb guard: a crawled "image" declaring huge dimensions
    * (a 30000x30000 gray PNG is a few KB on the wire but ~900 MB decoded)
    * must not be allowed to allocate in an executor. Checked from the
    * HEADER via ImageReader before any pixel decode.
    */
  val MaxImagePixels: Long = 64L * 1024 * 1024 // 64 MP ~ 64-256 MB decoded

  /** Run `f` over an ImageReader positioned on `media`, absorbing every
    * failure mode into None (no SPI match, reader exceptions — hostile
    * payloads must never throw out of the decode path). The stream is a
    * MemoryCacheImageInputStream: the payload is already in memory, so the
    * default file-cache stream would only add temp-file I/O (and an
    * IOException risk on a full/unwritable tmpdir) per row.
    */
  private def withReader[A](media: Array[Byte])(
      f: javax.imageio.ImageReader => Option[A]): Option[A] = {
    if (media == null || media.length < 4) return None
    try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(media))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try { r.setInput(iis); f(r) }
          finally r.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }
  }

  /** Header-only dimension read (no pixel decode); None if unparseable. */
  def imageHeaderDims(media: Array[Byte]): Option[(Int, Int)] =
    withReader(media)(r => Some((r.getWidth(0), r.getHeight(0))))

  /** REAL image decode via JDK ImageIO. Statistics read from RAW raster
    * band 0 (not getRGB — TYPE_BYTE_GRAY getRGB applies a gray->sRGB
    * gamma conversion that would break bit-exactness): returns
    * (width, height, band-0 sample sum, 8-bin band-0 histogram), or None
    * when ImageIO cannot parse the payload OR the header declares more
    * than MaxImagePixels (decompression-bomb guard — dims come from the
    * header BEFORE any pixel allocation). One reader parses both the
    * header and the pixels: the container is not re-parsed for the decode.
    */
  def imageDecode(media: Array[Byte]): Option[(Int, Int, Long, Array[Float])] =
    withReader(media) { r =>
      val hw = r.getWidth(0)
      val hh = r.getHeight(0)
      if (hw <= 0 || hh <= 0 || hw.toLong * hh > MaxImagePixels) None
      else {
        val img = r.read(0)
        val w = img.getWidth
        val h = img.getHeight
        val raster = img.getRaster
        // Band-0 samples wider than 8 bits (a 16-bit PNG — ImageIO parses
        // these) would be silently truncated by the & 0xff mask, so they
        // are rejected (None) rather than mis-measured; 1/2/4-bit samples
        // are lossless under the mask and decode normally.
        if (raster.getSampleModel.getSampleSize(0) > 8) None
        else {
          var sum = 0L
          val hist = new Array[Long](8)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = raster.getSample(x, y, 0) & 0xff
              sum += v
              hist(v >> 5) += 1
              x += 1
            }
            y += 1
          }
          val n = math.max(1L, w.toLong * h)
          Some((w, h, sum, hist.map(c => c.toFloat / n)))
        }
      }
    }

  /** documents -> synthetic media table (binary column + metadata). */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id")
      .as[Long]
      .map(id => MediaRow(id, syntheticMedia(id, if (id % 3 == 0) "audio" else "image"),
        if (id % 3 == 0) "audio" else "image"))
  }

  /** Batched decode/feature-extract over the binary column: one pass, no
    * shuffle; the per-partition iterator is where a real decoder would
    * amortize codec init across the batch.
    */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // (real pipelines initialize the codec once per partition here)
      it.map { row =>
        val nBytes = if (row.media == null) 0L else row.media.length.toLong
        val real =
          if (looksLikeRealImage(row.media)) imageDecode(row.media) else None
        real match {
          case Some((w, h, sum, feats)) =>
            MediaMeta(row.doc_id, row.kind, w, h, nBytes,
              sum.toDouble / math.max(1L, w.toLong * h), feats)
          case None =>
            val (w, h, mean, feats) = fakeDecode(row.media)
            MediaMeta(row.doc_id, row.kind, w, h, nBytes, mean, feats)
        }
      }
    }
  }

  /** REAL-decode gate path: decode a real-image dataset to integer-exact
    * raster statistics (band-0 sum / pixel count) — the arithmetic the x40
    * oracle mirrors. Rows ImageIO cannot parse come back as zeros (the
    * fixture corpus always parses).
    */
  def decodeImages(media: Dataset[MediaRow]): Dataset[ImageMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { row =>
        imageDecode(row.media) match {
          case Some((w, h, sum, _)) =>
            ImageMeta(row.doc_id, w, h, w.toLong * h, sum)
          case None => ImageMeta(row.doc_id, 0, 0, 0L, 0L)
        }
      }
    }
  }
}
