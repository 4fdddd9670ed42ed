package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata structs, plus decode / feature-extract /
  * frame-sample operators shaped for executor-side batch processing.
  *
  * Image metadata decode is REAL for the formats the JDK ships readers
  * for (PNG/JPEG/GIF/BMP via `javax.imageio`, header-only — no external
  * codec dependency). The deterministic `GIMG` fixture format is kept for
  * oracle queries whose dimensions derive from table columns. Feature
  * extraction and frame sampling remain deterministic stand-ins (no
  * pixel/video codecs in this container); swapping a real model/codec in
  * changes only those kernel bodies.
  *
  * Scale: all operators are `mapPartitions` over the binary column —
  * executor-local, streaming per-partition, no driver involvement, and
  * binary payloads never shuffle unless the caller repartitions.
  */
object Multimodal {

  val assetType: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("bytes", BinaryType),
    StructField("meta", MapType(StringType, StringType))))

  val imageMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_bytes", LongType),
    StructField("error", StringType)))

  /** Deterministic fake "image" encoder for fixtures: header
    * `GIMG|width|height|channels|` followed by payload bytes.
    */
  def encodeFakeImage(width: Int, height: Int, channels: Int, payload: Array[Byte]): Array[Byte] = {
    val header = s"GIMG|$width|$height|$channels|".getBytes("UTF-8")
    header ++ payload
  }

  /** Deterministic REAL image bytes via the JDK's own writers — for
    * exercising the javax.imageio decode path without external fixtures.
    * Pixels are a fixed function of (x, y), so output is reproducible.
    */
  def encodeImage(width: Int, height: Int, format: String,
                  gray: Boolean = false): Array[Byte] = {
    val t = if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
            else java.awt.image.BufferedImage.TYPE_3BYTE_BGR
    val img = new java.awt.image.BufferedImage(width, height, t)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** Header-only metadata read for real formats via the JDK's
    * `javax.imageio` (PNG/JPEG/GIF/BMP ship with every JRE — no external
    * codec dependency). The reader is asked only for dimensions and the
    * band count of image 0; pixel data is never decoded, so cost per
    * asset is a few header bytes regardless of payload size.
    */
  private def decodeImageIo(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          val w = r.getWidth(0)
          val h = r.getHeight(0)
          val types = r.getImageTypes(0)
          val bands = if (types.hasNext) types.next().getNumBands else 0
          Some((w, h, bands))
        } catch { case _: Exception => None } finally r.dispose()
      }
    } finally iis.close()
  }

  // The GIMG path is a deterministic FIXTURE format (kept for oracle
  // queries whose dims derive from table columns); real image bytes go
  // through javax.imageio above. Unknown bytes → error in-band.
  private def decodeMeta(bytes: Array[Byte]): (Int, Int, Int, String) = {
    if (bytes == null) return (0, 0, 0, "null payload")
    val head = new String(bytes.take(32), "UTF-8")
    if (head.startsWith("GIMG|")) {
      val parts = head.split("\\|")
      try ((parts(1).toInt, parts(2).toInt, parts(3).toInt, null))
      catch { case _: Exception => (0, 0, 0, "corrupt header") }
    } else decodeImageIo(bytes) match {
      case Some((w, h, c)) => (w, h, c, null)
      case None => (0, 0, 0, "unsupported format")
    }
  }

  /** Extract image metadata from the binary column into a typed struct —
    * the decode runs per-partition on executors; failures are in-band
    * (`meta.error`), never task failures.
    */
  def decodeImageMeta(df: DataFrame, bytesCol: String): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField("image_meta", imageMetaType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = if (row.isNullAt(idx)) null else row.getAs[Array[Byte]](idx)
        val (w, h, c, err) = decodeMeta(bytes)
        val nBytes = if (bytes == null) 0L else bytes.length.toLong
        Row.fromSeq(row.toSeq :+ Row(w, h, c, nBytes, err))
      }
    }(enc)
  }

  /** Deterministic pixel-feature stub: per-asset byte histogram moments
    * (stands in for an embedding model; same plumbing shape).
    */
  def extractFeatures(df: DataFrame, bytesCol: String, dims: Int = 8): DataFrame = {
    val featUdf = udf((bytes: Array[Byte]) => {
      if (bytes == null) Array.fill(dims)(0.0)
      else {
        val acc = new Array[Double](dims)
        var i = 0
        while (i < bytes.length) { acc(i % dims) += (bytes(i) & 0xff) / 255.0; i += 1 }
        acc.map(v => math.round(v / math.max(bytes.length / dims, 1) * 10000.0) / 10000.0)
      }
    })
    df.withColumn("features", featUdf(col(bytesCol)))
  }

  /** Frame sampling stub for "video" payloads: split the payload into
    * `frameSize`-byte frames, keep every `stride`-th — produces the long
    * (one-row-per-frame) shape real frame extraction would.
    */
  def sampleFrames(df: DataFrame, bytesCol: String, idCol: String,
                   frameSize: Int = 256, stride: Int = 2): DataFrame = {
    val framesUdf = udf((bytes: Array[Byte]) => {
      if (bytes == null) Array.empty[Array[Byte]]
      else bytes.grouped(frameSize).zipWithIndex
        .collect { case (frame, i) if i % stride == 0 => frame }.toArray
    })
    df.select(col(idCol), posexplode(framesUdf(col(bytesCol))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame_bytes")
  }
}
