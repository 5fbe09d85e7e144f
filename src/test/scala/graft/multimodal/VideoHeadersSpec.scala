package graft.multimodal

import java.nio.ByteBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class VideoHeadersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def box(fourcc: String, body: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + body.length)
    b.putInt(8 + body.length).put(fourcc.getBytes("ASCII")).put(body)
    b.array()
  }

  private def mvhdV0(creation: Int, modif: Int, ts: Int,
      dur: Int): Array[Byte] = {
    val body = ByteBuffer.allocate(100)
    body.putInt(0) // version 0 + flags
      .putInt(creation).putInt(modif).putInt(ts).putInt(dur)
    box("mvhd", body.array()) // 108 bytes total
  }

  private def mvhdV1(ts: Int, dur: Long): Array[Byte] = {
    val body = ByteBuffer.allocate(112)
    body.putInt(0x01000000) // version 1 + flags
      .putLong(11L).putLong(22L).putInt(ts).putLong(dur)
    box("mvhd", body.array()) // 120 bytes total
  }

  private def ftyp(brand: String): Array[Byte] =
    box("ftyp", (brand.getBytes("ASCII") ++ Array[Byte](0, 0, 2, 0)))

  private def trak: Array[Byte] = box("trak", Array.fill[Byte](8)(0))

  private def parse(payload: Array[Byte]): Row =
    VideoHeaders.withMp4(Seq(Tuple1(payload)).toDF("p"), "p", "v")
      .select(col("v.*")).collect()(0)

  test("v0 mvhd: brand, timescale, 32-bit duration, 2 traks") {
    val moov = box("moov", mvhdV0(5, 6, 90000, 450000) ++ trak ++ trak)
    val r = parse(ftyp("isom") ++ moov)
    assert(r.getString(0) === "isom")
    assert(r.getLong(1) === 0L)
    assert(r.getLong(2) === 90000L)
    assert(r.getLong(3) === 450000L)
    assert(r.getLong(4) === 2L)
    assert(r.getDouble(5) === 5.0)
  }

  test("v1 mvhd behind a free box: 64-bit duration, 1 trak") {
    val dur = 4294967296L + 48000L // past 2^32, exercises BE64
    val free = box("free", Array.fill[Byte](4)(0))
    val moov = box("moov", mvhdV1(48000, dur) ++ trak)
    val r = parse(ftyp("mp42") ++ free ++ moov)
    assert(r.getString(0) === "mp42")
    assert(r.getLong(1) === 1L)
    assert(r.getLong(2) === 48000L)
    assert(r.getLong(3) === dur)
    assert(r.getLong(4) === 1L)
    assert(r.getDouble(5) === 89479.485333) // (2^32+48000)/48000 half-up 6dp
  }

  test("zero traks and exact lattice duration") {
    val moov = box("moov", mvhdV0(1, 2, 16000, 260477))
    val r = parse(ftyp("avc1") ++ moov)
    assert(r.getLong(4) === 0L)
    // 260477/16000 = 16.2798125 exactly — half-up must give ...813
    assert(r.getDouble(5) === 16.279813)
  }

  test("non-BMFF, missing mvhd, and double-padding payloads parse to null") {
    val junk = "RIFF....WAVE".getBytes("ASCII")
    val noMvhd = ftyp("isom") ++ box("moov", trak)
    val free = box("free", Array.fill[Byte](4)(0))
    val twoPads = ftyp("isom") ++ free ++ free ++
      box("moov", mvhdV0(1, 2, 600, 600))
    for (p <- Seq(junk, noMvhd, twoPads)) {
      val isNull = VideoHeaders.withMp4(Seq(Tuple1(p)).toDF("p"), "p", "v")
        .select(col("v").isNull.as("n"))
        .collect()(0).getBoolean(0)
      assert(isNull, s"expected null for ${p.length}-byte payload")
    }
  }

  test("trak walk never counts past the moov extent") {
    // a trak-shaped box AFTER moov must not count: moov holds 1 trak,
    // a second trak sits outside as a sibling
    val moov = box("moov", mvhdV0(1, 2, 600, 1200) ++ trak)
    val r = parse(ftyp("isom") ++ moov ++ trak)
    assert(r.getLong(4) === 1L)
  }
}
