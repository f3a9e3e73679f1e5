package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; decode / feature-extract / resize /
  * frame-sample run as batched per-partition transforms.
  *
  * The decode kernel is a REAL pure-JVM image decoder for two lanes —
  * binary PPM (P6) and uncompressed 24-bit BMP (bottom-up, 4-byte row
  * padding) — dispatched on the payload's magic bytes. The Spark-side
  * plumbing is the production shape: binary column schema, fixed-size
  * batching inside `mapPartitions` (the Scala analogue of a `mapInPandas`
  * batch UDF: one kernel invocation per batch, not per row), and a
  * fixed-shape feature-vector output schema. Heavier codecs (JPEG/audio/
  * video) slot into [[decodeImage]]'s dispatch without touching the plan.
  *
  * Test payloads are REAL encoded files: [[withPayload]] synthesizes a
  * deterministic image per document (md5-derived dims/pixels), writes it
  * through an actual PPM or BMP ENCODER (even/odd doc_id), and the decode
  * queries round-trip through the parser — so `multimodal_decode` values
  * are real decoded rasters, oracle-checked against the generation rule.
  */
object Multimodal {

  /** One media record: id + raw payload. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** Decoded metadata + fixed-shape features. */
  final case class DecodedRow(
      doc_id: Long,
      n_bytes: Int,
      width: Int,
      height: Int,
      channels: Int,
      mean_byte: Double,
      features: Array[Float])

  val BatchSize = 64
  val FeatureDim = 8

  // ---- encoders (synthetic-payload generation) ------------------------

  /** Binary PPM: "P6\n<w> <h>\n255\n" + row-major RGB raster. */
  def encodePpm(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * w * h)
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    header ++ rgb
  }

  /** Uncompressed 24-bit BMP (BITMAPINFOHEADER): bottom-up rows, each
    * padded to a 4-byte boundary, pixels stored BGR. */
  def encodeBmp(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == 3 * w * h)
    val rowSize = ((3 * w + 3) / 4) * 4
    val total = 54 + rowSize * h
    val out = new Array[Byte](total)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, total)
    le32(10, 54) // pixel-array offset
    le32(14, 40) // BITMAPINFOHEADER size
    le32(18, w)
    le32(22, h) // positive = bottom-up
    out(26) = 1 // planes
    out(28) = 24 // bpp
    le32(34, rowSize * h)
    var y = 0
    while (y < h) {
      val dst = 54 + (h - 1 - y) * rowSize // bottom-up
      var x = 0
      while (x < w) {
        val src = (y * w + x) * 3
        out(dst + x * 3) = rgb(src + 2) // B
        out(dst + x * 3 + 1) = rgb(src + 1) // G
        out(dst + x * 3 + 2) = rgb(src) // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** PNG / JPEG via the JDK's ImageIO (real-world formats a 100 TB
    * multimodal corpus actually contains). PNG is lossless — the decoded
    * raster equals the source exactly, so it joins the value-golden
    * lanes; JPEG is lossy — dims/channels are exact, pixels approximate
    * (tolerance-gated in MultimodalSpec, dims-only in the oracle). */
  def encodePng(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
    imageIoEncode(w, h, rgb, "png")

  def encodeJpeg(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] =
    imageIoEncode(w, h, rgb, "jpg")

  private def imageIoEncode(w: Int, h: Int, rgb: Array[Byte], fmt: String): Array[Byte] = {
    require(rgb.length == 3 * w * h)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val s = (y * w + x) * 3
        img.setRGB(x, y, ((rgb(s) & 0xff) << 16) | ((rgb(s + 1) & 0xff) << 8) | (rgb(s + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, baos), s"no ImageIO writer for $fmt")
    baos.toByteArray
  }

  // ---- decoders (the real codec) --------------------------------------

  /** Magic-byte dispatch → (width, height, top-down row-major RGB):
    * PPM/BMP through the pure-JVM parser, PNG/JPEG through ImageIO. */
  def decodeImage(bytes: Array[Byte]): (Int, Int, Array[Byte]) =
    if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6') decodePpm(bytes)
    else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') decodeBmp(bytes)
    else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G') decodeImageIo(bytes)
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      decodeImageIo(bytes)
    else throw new IllegalArgumentException(
      s"unsupported media payload (magic ${bytes.take(2).mkString(",")})")

  def decodeImageIo(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "ImageIO could not decode payload")
    val w = img.getWidth
    val h = img.getHeight
    val rgb = new Array[Byte](3 * w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        val d = (y * w + x) * 3
        rgb(d) = ((p >> 16) & 0xff).toByte
        rgb(d + 1) = ((p >> 8) & 0xff).toByte
        rgb(d + 2) = (p & 0xff).toByte
        x += 1
      }
      y += 1
    }
    (w, h, rgb)
  }

  def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    var pos = 2 // past "P6"
    def skipSpace(): Unit = {
      var going = true
      while (going && pos < bytes.length) {
        val c = bytes(pos)
        if (c == '#') { while (pos < bytes.length && bytes(pos) != '\n') pos += 1 }
        else if (c == ' ' || c == '\n' || c == '\r' || c == '\t') pos += 1
        else going = false
      }
    }
    def int(): Int = {
      skipSpace()
      var v = 0
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0')
        pos += 1
      }
      v
    }
    val w = int()
    val h = int()
    val maxval = int()
    require(maxval == 255, s"only 8-bit PPM supported, maxval=$maxval")
    pos += 1 // the single whitespace after maxval
    val n = 3 * w * h
    require(bytes.length - pos >= n, "truncated PPM raster")
    (w, h, java.util.Arrays.copyOfRange(bytes, pos, pos + n))
  }

  def decodeBmp(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    def le32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    val dataOff = le32(10)
    val w = le32(18)
    val h = le32(22)
    require(h > 0, "top-down BMP not supported")
    val bpp = (bytes(28) & 0xff) | ((bytes(29) & 0xff) << 8)
    require(bpp == 24, s"only 24-bit BMP supported, bpp=$bpp")
    val rowSize = ((3 * w + 3) / 4) * 4
    val rgb = new Array[Byte](3 * w * h)
    var y = 0
    while (y < h) {
      val src = dataOff + (h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        val dst = (y * w + x) * 3
        rgb(dst) = bytes(src + x * 3 + 2) // R
        rgb(dst + 1) = bytes(src + x * 3 + 1) // G
        rgb(dst + 2) = bytes(src + x * 3) // B
        x += 1
      }
      y += 1
    }
    (w, h, rgb)
  }

  // ---- synthetic payload generation (deterministic, oracle-mirrored) --

  private def hexBytes(hex: String): Array[Byte] =
    Array.tabulate(hex.length / 2)(i =>
      Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte)

  /** The shared md5→image generation rule: dims 1..8 from the first two
    * digest bytes, RGB raster = digest bytes cycled from index 2. The
    * DuckDB oracle (bytesCte/pxSql) recomputes exactly this rule
    * symbolically — both payload variants MUST derive through here. */
  private def dimsRaster(digest: Array[Byte]): (Int, Int, Array[Byte]) = {
    val w = 1 + (digest(0) & 0xff) % 8
    val h = 1 + (digest(1) & 0xff) % 8
    (w, h, Array.tabulate(3 * w * h)(j => digest((j + 2) % digest.length)))
  }

  /** Even doc_id → PPM, odd → BMP (both pure-JVM decoder lanes). */
  def payloadFor(docId: Long, digest: Array[Byte]): Array[Byte] = {
    val (w, h, rgb) = dimsRaster(digest)
    if (docId % 2 == 0) encodePpm(w, h, rgb) else encodeBmp(w, h, rgb)
  }

  /** Four-lane variant of [[payloadFor]]: doc_id mod 4 → PPM / BMP / PNG /
    * JPEG, same dims/raster rule. */
  def payloadFor4(docId: Long, digest: Array[Byte]): Array[Byte] = {
    val (w, h, rgb) = dimsRaster(digest)
    (docId % 4) match {
      case 0 => encodePpm(w, h, rgb)
      case 1 => encodeBmp(w, h, rgb)
      case 2 => encodePng(w, h, rgb)
      case _ => encodeJpeg(w, h, rgb)
    }
  }

  /** Attach a real encoded image payload derived from the text column
    * (test stand-in for a real media blob column in the source table);
    * `payload` is the lane rule, [[payloadFor]] or [[payloadFor4]]. */
  def withPayload(documents: DataFrame,
      payload: (Long, Array[Byte]) => Array[Byte] = payloadFor): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents
      .select(col("doc_id").cast("long").as("doc_id"), md5(col("text")).as("hex"))
      .as[(Long, String)]
      .map { case (id, hex) => MediaRow(id, payload(id, hexBytes(hex))) }
      .toDF()
  }

  /** Decode kernel over one batch: parse each payload with the real codec,
    * derive metadata + a FeatureDim vector from the DECODED raster. */
  def decodeBatch(batch: Seq[MediaRow]): Seq[DecodedRow] = batch.map { r =>
    val (w, h, rgb) = decodeImage(r.payload)
    val n = rgb.length
    var sum = 0L
    var i = 0
    while (i < n) { sum += rgb(i) & 0xff; i += 1 }
    val mean = sum.toDouble / n
    val features = Array.tabulate(FeatureDim) { i =>
      ((rgb(i % n) & 0xff) + (rgb((i * 3 + 1) % n) & 0xff)).toFloat / 510.0f
    }
    DecodedRow(r.doc_id, r.payload.length, w, h, 3, mean, features)
  }

  /** Batched decode over partitions: groups the partition iterator into
    * BatchSize chunks and invokes the kernel once per chunk — the batch
    * shape a vectorized decoder needs, with no whole-partition
    * materialization. */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap(chunk => decodeBatch(chunk))
    }
  }

  /** Frame-sampling: every `stride`-th byte as a "frame" (a video decoder
    * would emit keyframe offsets); pure expression, no kernel. */
  def frameSample(payload: org.apache.spark.sql.Column, stride: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(1), ((length(payload) + (stride - 1)) / stride).cast("int")),
      i => payload.substr((i - 1) * stride + 1, lit(1)))

  def decodeDocuments(spark: SparkSession, documents: DataFrame,
      payload: (Long, Array[Byte]) => Array[Byte] = payloadFor): Dataset[DecodedRow] = {
    import spark.implicits._
    decode(withPayload(documents, payload).as[MediaRow])
  }
}
