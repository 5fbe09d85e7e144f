package graft.multimodal

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column convention + operators (SURVEY.md §7.5).
  *
  * A media column is an opaque `binary` payload plus a typed metadata
  * struct — the only schema that survives 100 TB of mixed media:
  *
  * {{{
  *   media: struct<
  *     payload:    binary,
  *     media_type: string,   // "image/png", "audio/wav", "video/mp4"
  *     n_bytes:    long,
  *     checksum:   string>   // sha-256 of payload
  * }}}
  *
  * Decode is implemented as `mapPartitions` over a typed Dataset
  * with an explicit batch shape (the Scala analog of a vectorized
  * Python `mapInPandas` stage: the partition iterator is
  * consumed in fixed-size batches so a real decoder could amortize
  * per-batch model/codec setup).
  *
  * IMAGE decode is REAL and pure-JDK: `javax.imageio` (PNG/JPEG/GIF/
  * BMP readers ship with the JDK) yields true width/height/mean
  * intensity, with a header-only dimension parser (PNG IHDR / JPEG
  * SOFn / GIF descriptor) as the cheap fallback for payloads ImageIO
  * rejects. Audio/video decode and the embedding remain a
  * deterministic STUB (no codec/model in this environment) — swap
  * `stubDecode` for a codec call to productionize; the Spark-side
  * contract (schema, nullability, partitioning, batch shape) stays
  * identical.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("payload", BinaryType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("checksum", StringType)))

  /** Wrap a raw binary column into the media struct (pure columns). */
  def asMedia(payload: Column, mediaType: Column): Column =
    struct(
      payload.as("payload"),
      mediaType.as("media_type"),
      length(payload).cast("long").as("n_bytes"),
      sha2(payload, 256).as("checksum"))

  /** Feature row produced by the decode stage. */
  case class MediaFeatures(
      width: Int, height: Int, n_frames: Int,
      mean_intensity: Double, embedding: Array[Float])

  /** Deterministic stub embedding (seeded rolling hash per dimension) —
    * the stand-in for a real embedding model.
    */
  private[multimodal] def stubEmbedding(payload: Array[Byte], embeddingDim: Int): Array[Float] =
    Array.tabulate(embeddingDim) { d =>
      var acc = 1125899906842597L ^ (d * 0x9e3779b97f4a7c15L)
      var i = 0
      while (i < payload.length) { acc = acc * 31 + (payload(i) & 0xff); i += 1 }
      ((acc >>> 11).toDouble / (1L << 53).toDouble).toFloat
    }

  /** STUB decoder — deterministic fake pixels derived from the payload
    * bytes; the audio/video path and the fallback for undecodable
    * image payloads. Replace with a real codec (ffmpeg bindings etc.)
    * in production; everything around it stays unchanged.
    */
  private[multimodal] def stubDecode(payload: Array[Byte], embeddingDim: Int): MediaFeatures = {
    // pretend-dimensions from header bytes; intensity = byte mean;
    // embedding = seeded rolling hash per dimension. All fully
    // deterministic in the payload alone.
    val n = payload.length
    val w = 1 + (math.abs(if (n > 0) payload(0).toInt else 0) % 64)
    val h = 1 + (math.abs(if (n > 1) payload(1).toInt else 0) % 64)
    val frames = 1 + n % 4
    val mean = if (n == 0) 0.0 else payload.map(b => (b & 0xff).toDouble).sum / n
    MediaFeatures(w, h, frames, mean, stubEmbedding(payload, embeddingDim))
  }

  /** Header-only image dimensions — pure byte inspection, no decode:
    * PNG IHDR (big-endian at offset 16/20), JPEG SOFn segment scan,
    * GIF logical-screen descriptor (little-endian). Cheap enough for a
    * metadata-only pass over payloads too large to decode.
    */
  private[multimodal] def parseImageDims(p: Array[Byte]): Option[(Int, Int)] = {
    def u(i: Int): Int = p(i) & 0xff
    def be16(i: Int): Int = (u(i) << 8) | u(i + 1)
    def be32(i: Int): Int = (u(i) << 24) | (u(i + 1) << 16) | (u(i + 2) << 8) | u(i + 3)
    if (p.length >= 24 && u(0) == 0x89 && u(1) == 0x50 && u(2) == 0x4e && u(3) == 0x47)
      Some((be32(16), be32(20)))
    else if (p.length >= 4 && u(0) == 0xff && u(1) == 0xd8) {
      var i = 2
      while (i + 9 < p.length && u(i) == 0xff) {
        val marker = u(i + 1)
        if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
          return Some((be16(i + 7), be16(i + 5)))
        i += 2 + be16(i + 2)
      }
      None
    } else if (p.length >= 10 && u(0) == 'G' && u(1) == 'I' && u(2) == 'F')
      Some((u(6) | (u(7) << 8), u(8) | (u(9) << 8)))
    else None
  }

  /** Real image decode via the JDK's ImageIO (PNG/JPEG/GIF/BMP): true
    * width/height and mean pixel intensity (mean over pixels of
    * (r+g+b)/3). Falls back to header-parsed dimensions with stub
    * intensity when ImageIO can't decode the payload, and to None when
    * the bytes aren't a recognizable image at all.
    */
  private[multimodal] def decodeImage(payload: Array[Byte], embeddingDim: Int): Option[MediaFeatures] = {
    val viaImageIO =
      try {
        Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
          .map { img =>
            val w = img.getWidth
            val h = img.getHeight
            var sum = 0.0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
                x += 1
              }
              y += 1
            }
            MediaFeatures(w, h, 1, sum / (w.toLong * h).toDouble,
              stubEmbedding(payload, embeddingDim))
          }
      } catch { case NonFatal(_) => None }
    viaImageIO.orElse(parseImageDims(payload).map { case (w, h) =>
      stubDecode(payload, embeddingDim).copy(width = w, height = h, n_frames = 1)
    })
  }

  /** Decode + feature-extract over the media struct. Runs partition-
    * local in fixed-size batches (64 rows per decode batch).
    * Output adds a `features` struct column.
    *
    * Implemented as `Dataset.mapPartitions` with an explicit row
    * encoder — the stage stays a plan node (column pruning and codegen
    * survive downstream), unlike a `df.rdd` round-trip which severs
    * the lineage at an opaque RDD scan.
    */
  def decodeFeatures(df: DataFrame, mediaCol: String,
      embeddingDim: Int = 16): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("features", StructType(Seq(
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("n_frames", IntegerType),
        StructField("mean_intensity", DoubleType),
        StructField("embedding", ArrayType(FloatType))))))
    val mediaIdx = inSchema.fieldIndex(mediaCol)
    df.mapPartitions { it =>
      // batch the iterator: a real decoder initializes its codec once
      // per batch — same shape a vectorized UDF runtime would use
      it.grouped(64).flatMap { batch =>
        batch.map { row =>
          val media = row.getStruct(mediaIdx)
          val payload0 = if (media == null) null
            else media.getAs[Array[Byte]]("payload")
          val payload = if (payload0 == null) Array.empty[Byte] else payload0
          val mediaType = if (media == null) null
            else media.getAs[String]("media_type")
          val f =
            if (mediaType != null && mediaType.startsWith("image/"))
              decodeImage(payload, embeddingDim)
                .getOrElse(stubDecode(payload, embeddingDim))
            else stubDecode(payload, embeddingDim)
          Row.fromSeq(row.toSeq :+
            Row(f.width, f.height, f.n_frames, f.mean_intensity, f.embedding.toSeq))
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
