package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Audio container-header parsing as PURE COLUMN ALGEBRA over binary
  * payloads — the audio analog of [[Multimodal.parseImageDims]], but
  * expressed as Catalyst expressions instead of JVM byte loops so it
  * codegens, prunes, and needs no mapPartitions stage: a metadata
  * pass over 100 TB of audio reads each payload's first ~60 bytes
  * (parquet pages of a `payload` column prefix when stats allow) and
  * never deserializes samples.
  *
  * Two container formats, both computable from public header layouts
  * with nothing but byte extraction and integer arithmetic:
  *
  *  - WAV/RIFF: "RIFF" + riff_size(LE32) + "WAVE", then the "fmt "
  *    chunk (PCM layout: format/channels LE16, sample_rate/byte_rate
  *    LE32, block_align/bits LE16), then the "data" chunk — with ONE
  *    bounded skip over a non-"data" chunk (LIST/INFO metadata is the
  *    common case; deeper chunk stacks return nulls rather than
  *    misparse). n_samples = data_size div block_align.
  *  - FLAC: "fLaC" magic, then the mandatory-first STREAMINFO block:
  *    sample rate (20 bits), channels−1 (3 bits), bits-per-sample−1
  *    (5 bits) and total samples (36 bits) bit-packed in bytes 18-25
  *    (0-based) — unpacked here with shift-free div/mod arithmetic on
  *    per-byte values so every step is exact integer math in any
  *    engine.
  *
  * Byte access is `substr(payload, pos, 1)` → `hex` → `conv(_,16,10)`
  * — each an existing codegen'd expression; multi-byte fields are
  * little/big-endian polynomials over those byte values. Duration is
  * half-up integer division on the 1e-6 lattice (see [[dur6]]), so
  * the whole parse hash-checks cross-engine (q260).
  */
object AudioHeaders {

  import ByteAlgebra.{u8, le16, le32, divFloor, dur6}

  private val WavMagic = "52494646"  // "RIFF"
  private val WaveId = "57415645"    // "WAVE"
  private val DataId = "64617461"    // "data"
  private val FlacMagic = "664C6143" // "fLaC" (hex() is uppercase)

  /** Parse a WAV (RIFF/PCM) header: struct(sample_rate, channels,
    * bits_per_sample, n_samples, duration_s) — nulls when the payload
    * is not a canonical RIFF/WAVE with "fmt " at offset 12 and "data"
    * found directly or after one metadata chunk.
    */
  def parseWav(payload: Column): Column = {
    val isRiff = hex(payload.substr(lit(1), lit(4))) === WavMagic &&
      hex(payload.substr(lit(9), lit(4))) === WaveId &&
      hex(payload.substr(lit(13), lit(4))) === "666D7420" // "fmt "
    val channels = le16(payload, lit(23))
    val rate = le32(payload, lit(25))
    val blockAlign = le16(payload, lit(33))
    val bits = le16(payload, lit(35))
    // chunk walk: first chunk after fmt is at 1-based 37; skip ONE
    // non-"data" chunk (8-byte header + its size), else give up
    val c0 = lit(37L)
    val c1 = c0 + lit(8L) + le32(payload, c0 + lit(4L))
    val dataOff = when(hex(payload.substr(c0, lit(4))) === DataId, c0)
      .when(hex(payload.substr(c1, lit(4))) === DataId, c1)
    val dataSize = le32(payload, dataOff + lit(4L))
    val nSamples = divFloor(dataSize, blockAlign)
    when(isRiff && dataOff.isNotNull && blockAlign > 0L && rate > 0L,
      struct(
        rate.as("sample_rate"),
        channels.as("channels"),
        bits.as("bits_per_sample"),
        nSamples.as("n_samples"),
        dur6(nSamples, rate).as("duration_s")))
  }

  /** Parse a FLAC STREAMINFO header (the spec-mandated first metadata
    * block): struct(sample_rate, channels, bits_per_sample, n_samples,
    * duration_s) — nulls when the magic is absent or the first block
    * is not STREAMINFO.
    */
  def parseFlac(payload: Column): Column = {
    val isFlac = hex(payload.substr(lit(1), lit(4))) === FlacMagic &&
      // block header: 1 bit last-flag + 7 bit type, type 0 = STREAMINFO
      pmod(u8(payload, 5), lit(128L)) === 0L
    // bit-packed bytes, 0-based 18..25 → 1-based 19..26
    val b18 = u8(payload, 19); val b19 = u8(payload, 20)
    val b20 = u8(payload, 21); val b21 = u8(payload, 22)
    val b22 = u8(payload, 23); val b23 = u8(payload, 24)
    val b24 = u8(payload, 25); val b25 = u8(payload, 26)
    val rate = b18 * 4096L + b19 * 16L + divFloor(b20, lit(16L))
    val channels = divFloor(pmod(b20, lit(16L)), lit(2L)) + 1L
    val bits = pmod(b20, lit(2L)) * 16L + divFloor(b21, lit(16L)) + 1L
    val nSamples = pmod(b21, lit(16L)) * 4294967296L +
      b22 * 16777216L + b23 * 65536L + b24 * 256L + b25
    when(isFlac && rate > 0L,
      struct(
        rate.as("sample_rate"),
        channels.as("channels"),
        bits.as("bits_per_sample"),
        nSamples.as("n_samples"),
        dur6(nSamples, rate).as("duration_s")))
  }

  /** Parse an MP3 stream head: an optional ID3v2 tag (size is the
    * 28-bit SYNCSAFE integer — 7 data bits per byte, the format's
    * famous quirk) followed by the first MPEG audio frame header,
    * Layer III (bit-field unpack via div/mod byte arithmetic;
    * version-dispatched bitrate/sample-rate tables for MPEG-1, 2 and
    * 2.5). Returns struct(has_id3, id3_size, mpeg_version, layer,
    * bitrate_kbps, sample_rate, channel_mode, padding, duration_s) —
    * duration estimated from the stream bytes after the tag at the
    * header's bitrate (CBR assumption, the standard quick estimate);
    * null when the sync word is absent, the layer is not III, or the
    * bitrate/sample-rate indexes are reserved.
    */
  def parseMp3(payload: Column): Column = {
    val isId3 = hex(payload.substr(lit(1), lit(3))) === "494433"
    val ss = u8(payload, 7) * 2097152L + u8(payload, 8) * 16384L +
      u8(payload, 9) * 128L + u8(payload, 10)
    val id3Size = when(isId3, ss).otherwise(0L)
    val off = when(isId3, lit(11L) + ss).otherwise(lit(1L))
    val b1 = u8(payload, off)
    val b2 = u8(payload, off + lit(1L))
    val b3 = u8(payload, off + lit(2L))
    val b4 = u8(payload, off + lit(3L))
    val sync = b1 === 255L && b2 >= 224L
    val vbits = pmod(divFloor(b2, lit(8L)), lit(4L))   // 3=v1 2=v2 0=v2.5
    val lbits = pmod(divFloor(b2, lit(2L)), lit(4L))   // 1 = Layer III
    val brIdx = divFloor(b3, lit(16L))
    val srIdx = pmod(divFloor(b3, lit(4L)), lit(4L))
    val pad = pmod(divFloor(b3, lit(2L)), lit(2L))
    val chBits = divFloor(b4, lit(64L))
    val version = when(vbits === 3L, "1").when(vbits === 2L, "2")
      .when(vbits === 0L, "2.5")
    def tab(vals: Int*) = array(vals.map(lit): _*)
    val bitrate = when(vbits === 3L, element_at(
        tab(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
        brIdx.cast("int")))
      .otherwise(element_at(
        tab(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
        brIdx.cast("int"))).cast("long")
    val sampleRate = when(vbits === 3L,
        element_at(tab(44100, 48000, 32000), srIdx.cast("int") + 1))
      .when(vbits === 2L,
        element_at(tab(22050, 24000, 16000), srIdx.cast("int") + 1))
      .otherwise(element_at(tab(11025, 12000, 8000), srIdx.cast("int") + 1))
      .cast("long")
    val channelMode = element_at(
      array(lit("stereo"), lit("joint_stereo"), lit("dual_channel"),
        lit("mono")), chBits.cast("int") + 1)
    val audioBytes = length(payload).cast("long") - off + 1L
    when(sync && lbits === 1L && version.isNotNull &&
      brIdx >= 1L && brIdx <= 14L && srIdx <= 2L,
      struct(
        isId3.as("has_id3"),
        id3Size.as("id3_size"),
        version.as("mpeg_version"),
        lit(3L).as("layer"),
        bitrate.as("bitrate_kbps"),
        sampleRate.as("sample_rate"),
        channelMode.as("channel_mode"),
        pad.as("padding"),
        dur6(audioBytes * 8L, bitrate * 1000L).as("duration_s")))
  }

  /** Sample-level PCM audit over the first `maxSamples` 16-bit
    * samples of a WAV "data" chunk — the loudness / clipping / DC
    * catalog pass that runs AFTER header triage: peak amplitude,
    * clipped-sample count (full-scale ±32767/−32768), exact
    * sum-of-squares and DC sum, and RMS as ONE sqrt of one division
    * of exact integers. Samples are channel-interleaved raw frames
    * (the audit is channel-agnostic amplitude accounting).
    *
    * Same byte-algebra discipline as [[parseWav]] (substr/hex/conv
    * little-endian polynomials, bounded one-chunk walk to "data"),
    * and the same staging discipline as [[withAudio]]: the chunk
    * walk, the sample array and the audit fold are three REAL
    * projection columns, so codegen binds one local per stage
    * instead of re-inlining the walk per sample (the q274 lesson).
    *
    * Null unless the payload is canonical RIFF/WAVE with 16-bit PCM
    * and a located "data" chunk. `maxSamples` bounds the read to a
    * fixed prefix — a whole-file loudness scan is a different
    * (streaming decode) pass; the bounded prefix is the catalog
    * convention (the q277 decode-slice pattern).
    */
  def withWavPcm(df: org.apache.spark.sql.DataFrame, binCol: String,
      out: String, maxSamples: Int = 20): org.apache.spark.sql.DataFrame = {
    require(maxSamples >= 1 && maxSamples <= 4096,
      s"unreasonable PCM audit window: $maxSamples")
    val bin = col(binCol)
    val isRiff = hex(bin.substr(lit(1), lit(4))) === WavMagic &&
      hex(bin.substr(lit(9), lit(4))) === WaveId &&
      hex(bin.substr(lit(13), lit(4))) === "666D7420"
    val bits = le16(bin, lit(35))
    val blockAlign = le16(bin, lit(33))
    val c0 = lit(37L)
    val c1 = c0 + lit(8L) + le32(bin, c0 + lit(4L))
    val dataOff = when(hex(bin.substr(c0, lit(4))) === DataId, c0)
      .when(hex(bin.substr(c1, lit(4))) === DataId, c1)
    val dataSize = le32(bin, dataOff + lit(4L))
    val hdr = when(isRiff && dataOff.isNotNull && bits === 16L &&
      blockAlign > 0L,
      struct((dataOff + lit(8L)).as("start"),
        divFloor(dataSize, lit(2L)).as("n_total")))

    val h = col(out + "_h")
    val nAud = least(h.getField("n_total"), lit(maxSamples.toLong))
    val vals = when(h.isNotNull && nAud >= 1L,
      transform(sequence(lit(0L), nAud - 1L), j => {
        val u = le16(bin, h.getField("start") + j * 2L)
        when(u >= 32768L, u - 65536L).otherwise(u)
      }))

    val v = col(out + "_v")
    val sumSq = aggregate(v, lit(0L), (acc, s) => acc + s * s)
    df.withColumn(out + "_h", hdr)
      .withColumn(out + "_v", vals)
      .withColumn(out, when(v.isNotNull, struct(
        h.getField("n_total").as("n_samples_total"),
        size(v).cast("long").as("n_audited"),
        array_max(transform(v, s => abs(s))).as("peak"),
        size(filter(v, s => s >= 32767L || s <= -32768L)).cast("long")
          .as("n_clipped"),
        sumSq.as("sum_sq"),
        aggregate(v, lit(0L), (acc, s) => acc + s).as("dc_sum"),
        sqrt(sumSq.cast("double") / size(v).cast("double")).as("rms"))))
      .drop(out + "_h", out + "_v")
  }

  /** G.711 µ-law sample audit — the telephony-audio sibling of
    * [[withWavPcm]]: WAV format code 7 carries one LOG-companded
    * byte per sample; the decode to linear 16-bit is pure integer
    * arithmetic (ITU-T G.711):
    *
    *   u' = 255 − byte  (the one's complement)
    *   sign = u' ≥ 128, e = (u' mod 128) div 16, m = u' mod 16
    *   mag = (8m + 132)·2^e − 132      (max 32124 at e=7, m=15)
    *
    * with 2^e read from an 8-entry literal table — no shifts needed,
    * so the identical expression runs in any engine. Audit fields
    * mirror [[withWavPcm]] (`n_clipped` counts full-scale ±32124
    * codes); same three-stage projection staging, zero shuffle.
    */
  def withUlawPcm(df: org.apache.spark.sql.DataFrame, binCol: String,
      out: String, maxSamples: Int = 20): org.apache.spark.sql.DataFrame = {
    require(maxSamples >= 1 && maxSamples <= 4096,
      s"unreasonable audit window: $maxSamples")
    val bin = col(binCol)
    val isRiff = hex(bin.substr(lit(1), lit(4))) === WavMagic &&
      hex(bin.substr(lit(9), lit(4))) === WaveId &&
      hex(bin.substr(lit(13), lit(4))) === "666D7420"
    val fmtCode = le16(bin, lit(21))
    val bits = le16(bin, lit(35))
    val c0 = lit(37L)
    val c1 = c0 + lit(8L) + le32(bin, c0 + lit(4L))
    val dataOff = when(hex(bin.substr(c0, lit(4))) === DataId, c0)
      .when(hex(bin.substr(c1, lit(4))) === DataId, c1)
    val dataSize = le32(bin, dataOff + lit(4L))
    val hdr = when(isRiff && dataOff.isNotNull && fmtCode === 7L &&
      bits === 8L,
      struct((dataOff + lit(8L)).as("start"), dataSize.as("n_total")))

    val h = col(out + "_h")
    val nAud = least(h.getField("n_total"), lit(maxSamples.toLong))
    val pow2 = array((0 to 7).map(e => lit(1L << e)): _*)
    val vals = when(h.isNotNull && nAud >= 1L,
      transform(sequence(lit(0L), nAud - 1L), j => {
        val up = lit(255L) - u8(bin, h.getField("start") + j)
        val mag = (pmod(up, lit(16L)) * 8L + 132L) *
          element_at(pow2, (pmod(up, lit(128L)) / 16L).cast("int") + 1) -
          132L
        when(up >= 128L, -mag).otherwise(mag)
      }))

    val v = col(out + "_v")
    val sumSq = aggregate(v, lit(0L), (acc, s) => acc + s * s)
    df.withColumn(out + "_h", hdr)
      .withColumn(out + "_v", vals)
      .withColumn(out, when(v.isNotNull, struct(
        h.getField("n_total").as("n_samples_total"),
        size(v).cast("long").as("n_audited"),
        array_max(transform(v, s => abs(s))).as("peak"),
        size(filter(v, s => s >= 32124L || s <= -32124L)).cast("long")
          .as("n_clipped"),
        sumSq.as("sum_sq"),
        aggregate(v, lit(0L), (acc, s) => acc + s).as("dc_sum"),
        sqrt(sumSq.cast("double") / size(v).cast("double")).as("rms"))))
      .drop(out + "_h", out + "_v")
  }

  /** Magic-dispatched parse of `binCol` into `out`: struct(container,
    * sample_rate, channels, bits_per_sample, n_samples, duration_s);
    * container null when the payload is neither WAV nor FLAC.
    *
    * The two container parses are STAGED as projection columns
    * (dropped on return). A single-expression
    * `coalesce(wav, flac).getField` fan-out re-inlines both FULL
    * parses once per output field (~10 copies of the byte algebra in
    * one expression — past the JIT's method budget, the projection
    * runs deoptimized; measured on q260). Staged, each parse is
    * computed once and the dispatch reads cheap attributes — the
    * [[VideoHeaders.withMp4]] recipe.
    */
  def withAudio(df: org.apache.spark.sql.DataFrame, binCol: String,
      out: String): org.apache.spark.sql.DataFrame = {
    val bin = col(binCol)
    val w = col("_au_w")
    val f = col("_au_f")
    val best = coalesce(w, f)
    df.withColumn("_au_w", parseWav(bin))
      .withColumn("_au_f", parseFlac(bin))
      .withColumn(out, struct(
        when(w.isNotNull, "wav").when(f.isNotNull, "flac").as("container"),
        best.getField("sample_rate").as("sample_rate"),
        best.getField("channels").as("channels"),
        best.getField("bits_per_sample").as("bits_per_sample"),
        best.getField("n_samples").as("n_samples"),
        best.getField("duration_s").as("duration_s")))
      .drop("_au_w", "_au_f")
  }
}
