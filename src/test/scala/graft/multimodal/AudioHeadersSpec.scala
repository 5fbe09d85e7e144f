package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.TestSpark

/** The column-algebra audio header parser against INDEPENDENTLY
  * constructed payload bytes (java.nio ByteBuffer here vs the hex-
  * string construction in q260 and the pure-arithmetic oracle — three
  * disjoint encoders agreeing on the same layout).
  */
class AudioHeadersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def wavBytes(rate: Int, ch: Int, bits: Int, nSamples: Int,
      withList: Boolean, dataBytes: Int = 8): Array[Byte] = {
    val ba = ch * bits / 8
    val dataSize = nSamples * ba
    val listLen = if (withList) 12 else 0
    val buf = ByteBuffer.allocate(44 + listLen + dataBytes)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII"))
    buf.putInt(36 + listLen + dataSize)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII"))
    buf.putInt(16)
    buf.putShort(1.toShort)
    buf.putShort(ch.toShort)
    buf.putInt(rate)
    buf.putInt(rate * ba)
    buf.putShort(ba.toShort)
    buf.putShort(bits.toShort)
    if (withList) {
      buf.put("LIST".getBytes("US-ASCII"))
      buf.putInt(4)
      buf.put("INFO".getBytes("US-ASCII"))
    }
    buf.put("data".getBytes("US-ASCII"))
    buf.putInt(dataSize)
    buf.put(Array.fill(dataBytes)(0x5a.toByte)) // truncated sample data
    buf.array()
  }

  private def flacBytes(rate: Int, ch: Int, bits: Int,
      nSamples: Long): Array[Byte] = {
    val buf = ByteBuffer.allocate(42).order(ByteOrder.BIG_ENDIAN)
    buf.put("fLaC".getBytes("US-ASCII"))
    buf.put(0x80.toByte) // last-block flag + STREAMINFO type 0
    buf.put(Array[Byte](0, 0, 34)) // block length BE24
    buf.putShort(4096.toShort) // min block
    buf.putShort(4096.toShort) // max block
    buf.put(Array.fill(6)(0.toByte)) // min/max frame size (unknown)
    buf.putLong((rate.toLong << 44) | ((ch - 1).toLong << 41) |
      ((bits - 1).toLong << 36) | nSamples)
    buf.put(Array.fill(16)(0.toByte)) // unset md5
    buf.array()
  }

  private def parse(payloads: Seq[Array[Byte]]): Seq[Row] =
    AudioHeaders.withAudio(
        payloads.zipWithIndex.map { case (p, i) => (i, p) }.toDF("id", "payload"),
        "payload", "a")
      .orderBy("id")
      .select("a.container", "a.sample_rate", "a.channels",
        "a.bits_per_sample", "a.n_samples", "a.duration_s")
      .collect().toSeq

  test("wav: canonical layout, LIST-chunk walk, byte fields exact") {
    val rows = parse(Seq(
      wavBytes(44100, 2, 16, 44100, withList = false),
      wavBytes(8000, 1, 8, 12345, withList = true),
      wavBytes(48000, 2, 24, 96000, withList = false)))
    assert(rows(0) === Row("wav", 44100L, 2L, 16L, 44100L, 1.0))
    assert(rows(1) === Row("wav", 8000L, 1L, 8L, 12345L, 1.543125))
    assert(rows(2) === Row("wav", 48000L, 2L, 24L, 96000L, 2.0))
  }

  test("flac: STREAMINFO bit unpacking across field boundaries") {
    val rows = parse(Seq(
      flacBytes(44100, 2, 16, 123456L),
      flacBytes(48000, 1, 24, 4800000L),
      // 36-bit sample count with the high nibble set (> 2^32)
      flacBytes(8000, 8, 32, 68719476735L)))
    assert(rows(0) === Row("flac", 44100L, 2L, 16L, 123456L,
      math.rint(123456.0 / 44100.0 * 1e6) / 1e6))
    assert(rows(1) === Row("flac", 48000L, 1L, 24L, 4800000L, 100.0))
    assert(rows(2) === Row("flac", 8000L, 8L, 32L, 68719476735L,
      math.rint(68719476735.0 / 8000.0 * 1e6) / 1e6))
  }

  test("non-audio and truncated payloads parse to nulls, not garbage") {
    val rows = parse(Seq(
      "not audio at all".getBytes("US-ASCII"),
      Array.emptyByteArray,
      "RIFF".getBytes("US-ASCII"), // truncated riff
      Array[Byte]('f', 'L', 'a', 'C', 0x01))) // FLAC magic, non-STREAMINFO
    rows.foreach { r =>
      assert(r === Row(null, null, null, null, null, null), s"got $r")
    }
  }

  private def mp3Bytes(id3Size: Int, b2: Int, b3: Int, b4: Int,
      filler: Int): Array[Byte] = {
    val id3 =
      if (id3Size < 0) Array.empty[Byte]
      else "ID3".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0,
        ((id3Size >> 21) & 0x7f).toByte, ((id3Size >> 14) & 0x7f).toByte,
        ((id3Size >> 7) & 0x7f).toByte, (id3Size & 0x7f).toByte) ++
        Array.fill[Byte](id3Size)(0)
    id3 ++ Array(0xff.toByte, b2.toByte, b3.toByte, b4.toByte) ++
      Array.fill[Byte](filler)(0)
  }

  private def parseMp3Row(p: Array[Byte]): Row =
    Seq(Tuple1(p)).toDF("p")
      .select(AudioHeaders.parseMp3(col("p")).as("m"))
      .select(col("m.*")).collect()(0)

  test("mp3: syncsafe ID3 size and MPEG-1 Layer III fields") {
    // id3Size 300000 = 0x493E0 -> syncsafe bytes (0,18,36,96);
    // 0xFB = MPEG1 L3; 0x90 = bitrate idx 9 (128k), 44100, no pad;
    // 0xC0 = mono
    val r = parseMp3Row(mp3Bytes(300000, 0xfb, 0x90, 0xc0, 996))
    assert(r.getBoolean(0) === true)
    assert(r.getLong(1) === 300000L)
    assert(r.getString(2) === "1")
    assert(r.getLong(4) === 128L)
    assert(r.getLong(5) === 44100L)
    assert(r.getString(6) === "mono")
    assert(r.getLong(7) === 0L)
    // 1000 audio bytes at 128 kbps = 0.0625 s exactly
    assert(r.getDouble(8) === 0.0625)
  }

  test("mp3: bare frame (no tag), MPEG-2 table dispatch") {
    // 0xF3 = MPEG2 L3; 0xE6 = idx 14 (160k for v2), 24000, pad;
    // 0x40 = joint stereo
    val r = parseMp3Row(mp3Bytes(-1, 0xf3, 0xe6, 0x40, 0))
    assert(r.getBoolean(0) === false)
    assert(r.getLong(1) === 0L)
    assert(r.getString(2) === "2")
    assert(r.getLong(4) === 160L)
    assert(r.getLong(5) === 24000L)
    assert(r.getString(6) === "joint_stereo")
    assert(r.getLong(7) === 1L)
  }

  test("mp3: reserved indexes and missing sync parse to null") {
    val noSync = "NOPE".getBytes("US-ASCII")
    val freeBitrate = mp3Bytes(-1, 0xfb, 0x02, 0x00, 0)  // idx 0
    val badBitrate = mp3Bytes(-1, 0xfb, 0xf2, 0x00, 0)   // idx 15
    val badRate = mp3Bytes(-1, 0xfb, 0x9c, 0x00, 0)      // sr idx 3
    val layerII = mp3Bytes(-1, 0xfd, 0x92, 0x00, 0)      // not L3
    for (p <- Seq(noSync, freeBitrate, badBitrate, badRate, layerII)) {
      val isNull = Seq(Tuple1(p)).toDF("p")
        .select(AudioHeaders.parseMp3(col("p")).isNull.as("n"))
        .collect()(0).getBoolean(0)
      assert(isNull, s"expected null for ${p.length}-byte payload")
    }
  }

  private def wavPcmBytes(samples: Seq[Int],
      withList: Boolean = false): Array[Byte] = {
    val dataSize = samples.length * 2
    val listLen = if (withList) 12 else 0
    val buf = ByteBuffer.allocate(44 + listLen + dataSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII"))
    buf.putInt(36 + listLen + dataSize)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII"))
    buf.putInt(16)
    buf.putShort(1.toShort)
    buf.putShort(1.toShort)
    buf.putInt(16000)
    buf.putInt(32000)
    buf.putShort(2.toShort)
    buf.putShort(16.toShort)
    if (withList) {
      buf.put("LIST".getBytes("US-ASCII"))
      buf.putInt(4)
      buf.put("INFO".getBytes("US-ASCII"))
    }
    buf.put("data".getBytes("US-ASCII"))
    buf.putInt(dataSize)
    samples.foreach(s => buf.putShort(s.toShort))
    buf.array()
  }

  test("pcm audit: signed LE decode, clip count, exact moments, cap") {
    val samples = Seq(100, -200, 32767, -32768, 0, 1000)
    val p = wavPcmBytes(samples)
    val r = AudioHeaders.withWavPcm(
        Seq(Tuple1(p)).toDF("p"), "p", "a", maxSamples = 4)
      .select("a.*").collect()(0)
    assert(r.getLong(0) === 6L)  // n_samples_total
    assert(r.getLong(1) === 4L)  // n_audited (capped)
    assert(r.getLong(2) === 32768L) // peak = |-32768|
    assert(r.getLong(3) === 2L)  // both full-scale samples clip
    val sumSq = 100L * 100 + 200L * 200 + 32767L * 32767 + 32768L * 32768
    assert(r.getLong(4) === sumSq)
    assert(r.getLong(5) === (100L - 200 + 32767 - 32768))
    assert(r.getDouble(6) === math.sqrt(sumSq.toDouble / 4.0))
    // uncapped window audits everything; LIST variant walks one chunk
    val all = AudioHeaders.withWavPcm(
        Seq(Tuple1(wavPcmBytes(samples, withList = true))).toDF("p"),
        "p", "a", maxSamples = 20)
      .select("a.*").collect()(0)
    assert(all.getLong(1) === 6L)
    assert(all.getLong(5) === samples.map(_.toLong).sum)
  }

  private def ulawWavBytes(codes: Seq[Int]): Array[Byte] = {
    val buf = ByteBuffer.allocate(44 + codes.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII"))
    buf.putInt(36 + codes.length)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII"))
    buf.putInt(16)
    buf.putShort(7.toShort) // G.711 mu-law
    buf.putShort(1.toShort)
    buf.putInt(8000)
    buf.putInt(8000)
    buf.putShort(1.toShort)
    buf.putShort(8.toShort)
    buf.put("data".getBytes("US-ASCII"))
    buf.putInt(codes.length)
    codes.foreach(c => buf.put(c.toByte))
    buf.array()
  }

  test("mu-law audit: exact G.711 decode vs a JVM reference, " +
      "full-scale codes count as clipped") {
    def decode(b: Int): Long = {
      val up = 255 - b
      val m = up % 16; val e = (up % 128) / 16
      val mag = (8L * m + 132L) * (1L << e) - 132L
      if (up >= 128) -mag else mag
    }
    val codes = Seq(0, 128, 0xFF, 0x55, 200, 17)
    val expect = codes.map(decode)
    assert(expect.take(3) === Seq(-32124L, 32124L, 0L))
    val r = AudioHeaders.withUlawPcm(
        Seq(Tuple1(ulawWavBytes(codes))).toDF("p"), "p", "a",
        maxSamples = 20)
      .select("a.*").collect()(0)
    assert(r.getLong(0) === 6L && r.getLong(1) === 6L)
    assert(r.getLong(2) === expect.map(math.abs).max)
    assert(r.getLong(3) === 2L)
    assert(r.getLong(4) === expect.map(s => s * s).sum)
    assert(r.getLong(5) === expect.sum)
    // a linear-PCM wav (fmt 1) audits to null under the mu-law op
    val linear = wavPcmBytes(Seq(1, 2, 3))
    val n = Seq(Tuple1(linear)).toDF("p")
      .transform(d => AudioHeaders.withUlawPcm(d, "p", "a"))
      .select(col("a").isNull).collect()(0).getBoolean(0)
    assert(n)
  }

  test("pcm audit: non-16-bit and non-wav payloads audit to null") {
    val eightBit = wavBytes(8000, 1, 8, 4, withList = false)
    val junk = "JUNKJUNKJUNK".getBytes("US-ASCII")
    for (p <- Seq(eightBit, junk)) {
      val isNull = Seq(Tuple1(p)).toDF("p")
        .transform(d => AudioHeaders.withWavPcm(d, "p", "a"))
        .select(col("a").isNull.as("n")).collect()(0).getBoolean(0)
      assert(isNull)
    }
  }
}
