package graft.multimodal

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mediaDf = {
    val payloads = Seq(
      (1L, "image/png", Array[Byte](10, 20, 30, 40, 50)),
      (2L, "image/png", Array[Byte](10, 20, 30, 40, 50)), // same payload as 1
      (3L, "audio/wav", Array.tabulate[Byte](2048)(i => (i % 127).toByte)),
      (4L, "video/mp4", Array.tabulate[Byte](8192)(i => ((i * 7) % 127).toByte)))
    payloads.toDF("media_id", "mt", "raw")
      .select(col("media_id"), Multimodal.asMedia(col("raw"), col("mt")).as("media"))
  }

  test("media struct: schema, byte count, content-addressed checksum") {
    val df = mediaDf
    assert(df.schema("media").dataType == Multimodal.mediaSchema)
    val rows = df.select("media_id", "media.n_bytes", "media.checksum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.find(_._1 == 3L).get._2 == 2048L)
    // identical payloads → identical checksum (dedup-ready)
    assert(rows.find(_._1 == 1L).get._3 == rows.find(_._1 == 2L).get._3)
    assert(rows.find(_._1 == 1L).get._3 != rows.find(_._1 == 3L).get._3)
  }

  test("decodeFeatures: adds typed features, deterministic, keeps all rows") {
    val out = Multimodal.decodeFeatures(mediaDf, "media", embeddingDim = 8)
    assert(out.count() == 4)
    val f = out.filter(col("media_id") === 3L).select("features").first()
      .getStruct(0)
    assert(f.getAs[Int]("width") >= 1 && f.getAs[Int]("height") >= 1)
    assert(f.getAs[collection.Seq[Float]]("embedding").length == 8)
    // determinism: same payload → same features
    val e1 = out.filter(col("media_id") === 1L)
      .select("features.embedding").first().getAs[collection.Seq[Float]](0)
    val e2 = out.filter(col("media_id") === 2L)
      .select("features.embedding").first().getAs[collection.Seq[Float]](0)
    assert(e1 == e2)
    // embeddings usable by the similarity operators downstream
    val sim = out.select(col("media_id"),
      graft.functions.VectorFunctions.l2Norm(col("features.embedding")).as("n"))
      .collect()
    assert(sim.forall(_.getDouble(1) > 0))
  }

  test("real PNG payload decodes to true dimensions and exact mean intensity") {
    // 3×2 image with known pixel values: two pure-gray rows
    val img = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 3) {
      img.setRGB(x, 0, 0x646464) // gray 100
      img.setRGB(x, 1, 0xc8c8c8) // gray 200
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val df = Seq((1L, "image/png", png)).toDF("media_id", "mt", "raw")
      .select(col("media_id"), Multimodal.asMedia(col("raw"), col("mt")).as("media"))
    val f = Multimodal.decodeFeatures(df, "media").select("features").first().getStruct(0)
    assert(f.getAs[Int]("width") == 3)
    assert(f.getAs[Int]("height") == 2)
    assert(f.getAs[Int]("n_frames") == 1)
    assert(math.abs(f.getAs[Double]("mean_intensity") - 150.0) < 1e-9)

    // the header-only parser agrees without decoding
    assert(Multimodal.parseImageDims(png).contains((3, 2)))
  }

  test("header parser: JPEG SOF scan and GIF descriptor, garbage rejected") {
    val jpegBytes = {
      val img = new java.awt.image.BufferedImage(5, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    assert(Multimodal.parseImageDims(jpegBytes).contains((5, 4)))
    val gifBytes = {
      val img = new java.awt.image.BufferedImage(7, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "gif", bos)
      bos.toByteArray
    }
    assert(Multimodal.parseImageDims(gifBytes).contains((7, 3)))
    assert(Multimodal.parseImageDims(Array[Byte](1, 2, 3, 4, 5)).isEmpty)
  }

  test("decodeFeatures stays a Dataset plan node (no opaque RDD scan)") {
    val plan = Multimodal.decodeFeatures(mediaDf, "media")
      .queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), plan)
    assert(!plan.contains("Scan ExistingRDD"), s"df.rdd round-trip severs lineage:\n$plan")
  }
}
