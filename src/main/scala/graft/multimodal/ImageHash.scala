package graft.multimodal

import java.awt.image.BufferedImage

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Perceptual image hashing (dHash) + Hamming-banded near-dup pairs
  * — the image analog of the SimHash text pipeline (q27): the q192
  * checksum ledger only catches BYTE-identical images, while the
  * common image-dup case is a re-encode/resize; a 64-bit gradient
  * hash over the decoded pixels catches those.
  *
  * dHash (difference hash, the public aHash/dHash family): decode,
  * grayscale, sample down to a 9×8 grid, and emit one bit per
  * horizontally adjacent pair — bit(y,x) = gray(x+1,y) > gray(x,y),
  * packed row-major into 16 hex chars (one byte per row). Every step
  * is deterministic INTEGER arithmetic on the decoded pixels:
  * grayscale is (r+g+b) div 3, the grid sample is
  * floor(i·w/9)/floor(j·h/8) nearest-pixel (exact when the source is
  * a multiple of the grid, as the planted fixtures are), so the hash
  * is reproducible by any engine that can see the pixel values —
  * which is what the q277 oracle does, re-deriving the planted BMP
  * pixels arithmetically while Spark must recover them by actually
  * DECODING the bytes it built (javax.imageio, the real JDK decoder —
  * the q39 decode path).
  *
  * Scale shape: the decode is one mapPartitions pass (unavoidably
  * JVM — pixels, not columns); everything after is relational. The
  * pair stage is banded exactly like SimHash: 4 bands × 16 bits,
  * hash-join on (band index, band value) — NEVER broadcast, the
  * bucket side is corpus-sized — then the ≤ maxDist Hamming verify
  * runs only on band-colliding candidates (≤ 2 flipped bits always
  * leave ≥ 2 of 4 bands intact, so true near-dups cannot be missed
  * at maxDist ≤ 4 by band recall).
  */
object ImageHash {

  /** 64-bit dHash of a decoded image as 16 lowercase hex chars. */
  private[multimodal] def dHash(img: BufferedImage): String = {
    val w = img.getWidth
    val h = img.getHeight
    def gray(x: Int, y: Int): Int = {
      val rgb = img.getRGB(x, y)
      (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
    }
    val sb = new StringBuilder(16)
    var j = 0
    while (j < 8) {
      val sy = (j.toLong * h / 8).toInt
      var byte = 0
      var i = 0
      while (i < 8) {
        val x0 = (i.toLong * w / 9).toInt
        val x1 = ((i + 1).toLong * w / 9).toInt
        if (gray(x1, sy) > gray(x0, sy)) byte |= (1 << (7 - i))
        i += 1
      }
      sb.append(f"$byte%02x")
      j += 1
    }
    sb.toString
  }

  /** Decode each payload with ImageIO and attach (width, height,
    * dhash) — nulls when the bytes are not a decodable image. One
    * partition-local pass; no shuffle.
    */
  def dHashDf(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("dhash", StringType)))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.map { row =>
          val payload = row.getAs[Array[Byte]](payloadIdx)
          val decoded =
            if (payload == null) None
            else
              try Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(payload)))
              catch { case NonFatal(_) => None }
          decoded match {
            case Some(img) =>
              Row.fromSeq(row.toSeq ++
                Seq(img.getWidth, img.getHeight, dHash(img)))
            case None => Row.fromSeq(row.toSeq ++ Seq(null, null, null))
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Hamming distance between two 16-hex-char hash COLUMNS (by name)
    * as pure column algebra (per-nibble XOR popcount — codegen'd,
    * mirrors 1:1 in SQL).
    */
  def hammingHex(h1Col: String, h2Col: String): Column =
    expr(s"aggregate(transform(sequence(1, 16), i -> " +
      s"bit_count(cast(conv(substring($h1Col, i, 1), 16, 10) " +
      s"as int) ^ cast(conv(substring($h2Col, i, 1), 16, 10) " +
      s"as int))), 0, (acc, x) -> acc + x)")

  /** Near-dup pairs at Hamming ≤ maxDist via 4×16-bit banding:
    * (id1, id2, hamming) with id1 < id2. The band join is a shuffled
    * hash join on (band, value); candidates deduplicate before the
    * Hamming verify.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int): DataFrame = {
    val (result, base) = hammingPairsPlan(hashes, idCol, hashCol, maxDist)
    val out = result.localCheckpoint(true)
    base.unpersist()
    out
  }

  /** The pre-pin [[hammingPairs]] frame plus the persisted hash-frame
    * handle — package-private so the plan spec pins the exact
    * production join shape (the [[graft.operators.PageRank.contribStep]]
    * pattern); the public operator pins the result and releases the
    * cache.
    */
  private[graft] def hammingPairsPlan(hashes: DataFrame, idCol: String,
      hashCol: String, maxDist: Int): (DataFrame, DataFrame) = {
    require(maxDist >= 0 && maxDist <= 12,
      s"band recall only argued for small distances: $maxDist")
    // persist: both self-join sides consume the hash frame, and the
    // upstream is typically expensive (q278: per-pixel md5 BMP build +
    // a real ImageIO decode per image) — unpersisted lineage runs it
    // once per side. One narrow (id, 16-hex hash) row per image;
    // released after the verified pairs pin (r16).
    val base = hashes.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("_id"), col(hashCol).as("_h"))
      .persist()
    val bands = base
      .select(col("_id"), col("_h"),
        explode(sequence(lit(0), lit(3))).as("_b"))
      .withColumn("_bv", expr("substring(_h, _b * 4 + 1, 4)"))
    // both join sides are the corpus-sized band table — pin the join
    // to shuffled-hash so small-scale stats can never pick a
    // broadcast that cannot exist at 100 TB
    val cand = bands.as("a")
      .join(bands.hint("shuffle_hash").as("b"),
        col("a._b") === col("b._b") && col("a._bv") === col("b._bv") &&
          col("a._id") < col("b._id"))
      .select(col("a._id").as("id1"), col("b._id").as("id2"),
        col("a._h").as("h1"), col("b._h").as("h2"))
      .distinct()
    val result = cand
      .withColumn("hamming", hammingHex("h1", "h2").cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id1"), col("id2"), col("hamming"))
    (result, base)
  }
}
