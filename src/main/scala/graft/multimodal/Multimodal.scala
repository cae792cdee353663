package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in partition-sized batches.
  *
  * Both metadata AND pixel decode are REAL for the formats the JVM
  * itself ships: [[ImageHeaders]] parses format + dimensions from magic
  * bytes, [[AudioHeaders]] parses WAV/RIFF sample rate and channels, and
  * [[extractFeatures]] decodes actual pixels through the JDK's built-in
  * `ImageIO` codecs (PNG/JPEG/GIF/BMP — no native libraries involved).
  * Payloads outside the JVM's codec set (webp, video, compressed audio)
  * fall back to a deterministic byte-fold STUB feature so the pipeline
  * never throws on opaque bytes; swap that fallback for a JNI /
  * process-per-partition codec without touching the plumbing.
  */
object Multimodal {

  /** Canonical media-table schema: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("media_type", StringType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("format", StringType))))))

  /** Real header decode as a column: null when the payload is not a
    * recognized image, else a (width, height, format) struct read from the
    * format's own header — [[ImageHeaders.ImageMeta]]'s field order IS the
    * `meta` struct's schema. */
  private val headerMeta =
    udf((payload: Array[Byte]) => ImageHeaders.decode(payload))

  /** Wrap any (id, bytes-or-string) frame into the media schema — payload
    * is the raw bytes (UTF-8 for strings), metadata parsed from the real
    * image header when the payload is one (PNG/JPEG/GIF/BMP); opaque
    * non-image payloads get `application/octet-stream` and a null meta. */
  def asMedia(df: DataFrame, idCol: String, dataCol: String): DataFrame = {
    val meta = headerMeta(col(dataCol).cast("binary"))
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(dataCol).cast("binary").as("payload"),
      coalesce(concat(lit("image/"), meta.getField("format")),
        lit("application/octet-stream")).as("media_type"),
      meta.as("meta"))
  }

  /** Decode-bomb guard: a few-hundred-byte image can declare an
    * enormous raster; the allocation would OOM the executor (an Error
    * the fallback catch never sees). The bound must come from the
    * CODEC's own header read (ImageReader.getWidth/getHeight — metadata
    * only, no raster), NOT the container header: a GIF's logical-screen
    * size (bytes 6-9) can undersell the frame descriptor ImageIO
    * actually allocates from. 64 MP ≈ 256 MB ARGB. */
  private val maxDecodePixels = 64L << 20

  /** Real pixel decode for JVM-native image formats: 8-dim feature =
    * mean luma (Rec.601) over 8 vertical bands, normalized to [0,1] —
    * a crude but genuine content descriptor (brightness profile).
    * Header parse gates the attempt so non-image payloads never pay an
    * ImageIO probe; any codec failure falls back to the byte-fold stub. */
  private def decodeFeatures(payload: Array[Byte]): Array[Float] = {
    if (ImageHeaders.decode(payload).isEmpty) return stubDecode(payload)
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return stubDecode(payload)
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          val w = reader.getWidth(0).toLong // header-only, no raster
          val h = reader.getHeight(0).toLong
          if (w <= 0 || h <= 0 || w * h > maxDecodePixels)
            return stubDecode(payload)
          val img = reader.read(0)
          if (img == null || img.getWidth == 0) stubDecode(payload)
          else bandLuma(img)
        } finally reader.dispose()
      } finally iis.close()
    } catch { case _: Exception => stubDecode(payload) }
  }

  private def bandLuma(img: java.awt.image.BufferedImage): Array[Float] = {
    val sums = new Array[Double](8)
    val counts = new Array[Long](8)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val luma = (((rgb >> 16) & 0xff) * 299L +
          ((rgb >> 8) & 0xff) * 587L + (rgb & 0xff) * 114L) / 1000.0
        val band = x * 8 / img.getWidth
        sums(band) += luma
        counts(band) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(8)(i =>
      if (counts(i) == 0) 0.0f else (sums(i) / counts(i) / 255.0).toFloat)
  }

  /** STUB fallback for payloads the JVM has no codec for: derives a
    * deterministic 8-dim feature vector from the raw bytes so the
    * pipeline shape (binary → float array) is exercised end-to-end even
    * on opaque media. */
  private def stubDecode(payload: Array[Byte]): Array[Float] = {
    val acc = new Array[Long](8)
    var i = 0
    while (i < payload.length) {
      acc(i % 8) += (payload(i) & 0xff)
      i += 1
    }
    acc.map(a => a.toFloat / 255.0f)
  }

  private val featureSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false))))

  /** Batch feature extraction: one decoder scope per partition (the
    * expensive init a real codec needs), rows streamed through it. This is
    * the Scala analog of a pandas-UDF `mapInPandas` batch loop. Images the
    * JVM can decode get real pixel features; everything else the stub. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "payload").rdd.mapPartitions { it =>
      // ImageIO scans its codec registry once per JVM; per-partition
      // init for an external codec would go here
      it.map { r =>
        val id = r.getLong(0)
        val payload = Option(r.getAs[Array[Byte]](1))
          .getOrElse(Array.emptyByteArray) // null payload = empty media
        Row(id, payload.length, decodeFeatures(payload).toSeq)
      }
    }
    spark.createDataFrame(rdd, featureSchema)
  }

  /** WAV audio metadata as a column: null unless the payload is a
    * RIFF/WAVE file ([[AudioHeaders.AudioMeta]] field order is the
    * struct's schema). */
  private val wavMeta =
    udf((payload: Array[Byte]) => AudioHeaders.decode(payload))

  def audioMeta(payload: Column): Column = wavMeta(payload)

  /** Deterministic frame-sampling stand-in: pick every `stride`-th byte
    * window as a "frame" (mirrors video frame-sample semantics). */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media.select(col("media_id"),
      posexplode(split(base64(col("payload")), "(?<=\\G.{8})")).as(Seq("pos", "frame")))
      .filter(pmod(col("pos"), lit(stride)) === 0)
}
