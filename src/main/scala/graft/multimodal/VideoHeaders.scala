package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Video container-header parsing as PURE COLUMN ALGEBRA — the
  * ISO-BMFF (MP4) companion to [[AudioHeaders]], closing the last
  * multimodal metadata stub: a catalog pass over 100 TB of video
  * reads each payload's first ~150 bytes and never touches a codec.
  *
  * ISO/IEC 14496-12 layout, everything big-endian:
  *
  *  - `ftyp` box first: size(BE32) + 'ftyp' + major_brand(4) +
  *    minor_version(4).
  *  - then `moov`, possibly after ONE padding box (`free`/`wide` is
  *    the common mastering artifact) — a bounded skip exactly like
  *    the WAV chunk walk; deeper stacks return nulls rather than
  *    misparse.
  *  - `moov`'s first child is `mvhd` (movie header): version byte
  *    dispatches the two public layouts — v0 carries 32-bit
  *    creation/modification/duration with timescale at box offset
  *    20, v1 widens the times to 64 bits (timescale at offset 28,
  *    duration a BE64 at 32). duration/timescale is the movie length.
  *  - `trak` boxes follow `mvhd` inside `moov`: counted by a bounded
  *    size-hop walk (up to 3 — the planted fixture ceiling; real
  *    catalogs would raise the constant), each hop validated against
  *    the `moov` extent so a truncated container can't overrun.
  *
  * Byte access is the shared [[ByteAlgebra]] (`substr → hex → conv`
  * big-endian polynomials); duration_s is the exact half-up 1e-6
  * lattice division, so the whole parse hash-checks cross-engine
  * (q274).
  */
object VideoHeaders {

  import ByteAlgebra.{be32, be64, u8, dur6}

  private val FtypId = "66747970" // "ftyp"
  private val MoovId = "6D6F6F76" // "moov" (hex() is uppercase)
  private val MvhdId = "6D766864" // "mvhd"
  private val TrakId = "7472616B" // "trak"
  private val SkipIds = Seq("66726565" /* free */, "77696465" /* wide */)

  /** Box type fourcc (uppercase hex) for the box STARTING at the
    * 1-based offset `pos` (type bytes are pos+4 .. pos+7). */
  private def boxType(bin: Column, pos: Column): Column =
    hex(bin.substr(pos + lit(4L), lit(4)))

  /** Parse an MP4 (ISO-BMFF) header from `binCol` into `out`:
    * struct(major_brand, version, timescale, duration, n_tracks,
    * duration_s) — null when the payload is not ftyp-led with moov
    * directly or after one padding box, or when moov's first child is
    * not a v0/v1 mvhd.
    *
    * Every derived offset is STAGED as a projection column (dropped
    * on return): aliases are non-cheap multi-referenced expressions,
    * so CollapseProject keeps the stages separate and whole-stage
    * codegen binds each offset to ONE local variable — generated code
    * linear in the walk depth. A single-expression parse re-inlines
    * each offset's predecessors, which past ~3 chained hops blows the
    * generated method past janino's limit and drops the parse out of
    * codegen (measured on q274: 40.7 s interpreted → sub-second
    * staged, the ImageHeaders.withJpeg recipe).
    */
  def withMp4(df: org.apache.spark.sql.DataFrame, binCol: String,
      out: String): org.apache.spark.sql.DataFrame = {
    val bin = col(binCol)
    val staged = df
      .withColumn("_mp_b1", lit(1L) + be32(bin, lit(1L)))
      .withColumn("_mp_b2", col("_mp_b1") + be32(bin, col("_mp_b1")))
      .withColumn("_mp_moov",
        when(boxType(bin, col("_mp_b1")) === MoovId, col("_mp_b1"))
          .when(boxType(bin, col("_mp_b1")).isin(SkipIds: _*) &&
            boxType(bin, col("_mp_b2")) === MoovId, col("_mp_b2")))
      .withColumn("_mp_mend", col("_mp_moov") + be32(bin, col("_mp_moov")))
      .withColumn("_mp_child", col("_mp_moov") + lit(8L))
      .withColumn("_mp_ver", u8(bin, col("_mp_child") + lit(8L)))
      .withColumn("_mp_t1", col("_mp_child") + be32(bin, col("_mp_child")))
      .withColumn("_mp_t2", col("_mp_t1") + be32(bin, col("_mp_t1")))
      .withColumn("_mp_t3", col("_mp_t2") + be32(bin, col("_mp_t2")))
    def isTrak(t: Column): Column =
      t < col("_mp_mend") && boxType(bin, t) === TrakId
    val i1 = isTrak(col("_mp_t1"))
    val i2 = i1 && isTrak(col("_mp_t2"))
    val i3 = i2 && isTrak(col("_mp_t3"))
    val nTracks = when(i1, 1L).otherwise(0L) +
      when(i2, 1L).otherwise(0L) + when(i3, 1L).otherwise(0L)
    val child = col("_mp_child")
    val version = col("_mp_ver")
    val timescale = when(version === 0L, be32(bin, child + lit(20L)))
      .otherwise(be32(bin, child + lit(28L)))
    val duration = when(version === 0L, be32(bin, child + lit(24L)))
      .otherwise(be64(bin, child + lit(32L)))
    val isFtyp = boxType(bin, lit(1L)) === FtypId
    val isMvhd = boxType(bin, child) === MvhdId
    staged
      .withColumn(out,
        when(isFtyp && col("_mp_moov").isNotNull && isMvhd &&
          (version === 0L || version === 1L) && timescale > 0L,
          struct(
            bin.substr(lit(9), lit(4)).cast("string").as("major_brand"),
            version.as("version"),
            timescale.as("timescale"),
            duration.as("duration"),
            nTracks.as("n_tracks"),
            dur6(duration, timescale).as("duration_s"))))
      .drop("_mp_b1", "_mp_b2", "_mp_moov", "_mp_mend", "_mp_child",
        "_mp_ver", "_mp_t1", "_mp_t2", "_mp_t3")
  }
}
