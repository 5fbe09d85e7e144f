package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** JPEG header parsing as PURE COLUMN ALGEBRA — the JFIF companion
  * to [[AudioHeaders]]/[[VideoHeaders]]: JPEG is the dominant web
  * image format, and a 100-TB catalog pass wants dimensions, bit
  * depth, component count and the baseline/progressive split from
  * the first ~200 bytes without ever entropy-decoding a scan.
  *
  * ITU-T T.81 layout: the stream is `FFD8` (SOI) followed by marker
  * segments, each `FF` + marker byte + BE16 length (the length
  * counts itself but not the marker). The frame geometry lives in
  * the first SOFn segment: precision(1) height(BE16) width(BE16)
  * n_components(1). APPn/COM/DQT/DHT segments of arbitrary length
  * precede it, so the parse is a bounded marker-hop walk — the
  * [[VideoHeaders]] box walk with T.81's length convention. Deeper
  * prefixes than the hop bound return nulls rather than misparse
  * (real catalogs would raise the constant).
  *
  * Plan shape: hop offset k is built FROM THE PREVIOUS OFFSET, so
  * inlining it as one expression re-expands the whole prefix ~3× per
  * hop — at 5 hops the tree blows past janino's method limit and the
  * parse falls out of codegen (measured: 15 s for 5 000 rows
  * interpreted vs sub-second staged). [[withJpeg]] therefore stages
  * each offset as a REAL projection column: aliases are non-cheap
  * multi-referenced expressions, which CollapseProject keeps as
  * separate projections, and whole-stage codegen binds each to one
  * local variable — the generated code is linear in the hop bound.
  *
  * Byte access is the shared [[ByteAlgebra]] (`substr → hex → conv`
  * big-endian polynomials) — pure integer math, zero shuffle,
  * hash-checkable cross-engine (q290).
  */
object ImageHeaders {

  import ByteAlgebra.{be16, u8}

  /** SOFn marker byte → frame-coding label. SOF0 baseline and SOF2
    * progressive dominate the public web; SOF1 (extended sequential)
    * is kept because it shares the exact payload layout.
    */
  private val SofLabels: Seq[(Long, String)] =
    Seq(0xC0L -> "baseline", 0xC1L -> "extended", 0xC2L -> "progressive")

  /** Marker segments walked before giving up on an SOFn. */
  private val MaxHops = 5

  /** Adds `out` = struct(sof_marker, precision, height, width,
    * n_components, n_pixels) parsed from the binary column —
    * null when the payload is not SOI-led or no SOFn appears within
    * `MaxHops` marker segments. Stages one offset column per hop
    * (dropped on return); see the object scaladoc for why.
    */
  def withJpeg(df: DataFrame, binCol: String, out: String): DataFrame = {
    val bin = col(binCol)
    def posCol(k: Int): Column = col(s"_jpos_$k")
    var staged = df.withColumn("_jpos_1", lit(3L))
    (2 to MaxHops).foreach { k =>
      staged = staged.withColumn(s"_jpos_$k",
        posCol(k - 1) + lit(2L) + be16(bin, posCol(k - 1) + lit(2L)))
    }
    val sofValues = SofLabels.map(_._1)
    def markerAt(pos: Column): Column =
      when(u8(bin, pos) === 0xFFL, u8(bin, pos + lit(1L)))
    // one candidate struct per hop; the first SOFn hop wins
    val hopStructs = (1 to MaxHops).map { k =>
      val pos = posCol(k)
      val marker = markerAt(pos)
      val label = SofLabels.foldLeft(lit(null).cast("string"): Column) {
        case (acc, (m, name)) => coalesce(acc, when(marker === m, lit(name)))
      }
      val height = be16(bin, pos + lit(5L))
      val width = be16(bin, pos + lit(7L))
      when(marker.isin(sofValues: _*),
        struct(
          label.as("sof_marker"),
          u8(bin, pos + lit(4L)).as("precision"),
          height.as("height"),
          width.as("width"),
          u8(bin, pos + lit(9L)).as("n_components"),
          (height * width).as("n_pixels")))
    }
    val isSoi = u8(bin, lit(1L)) === 0xFFL && u8(bin, lit(2L)) === 0xD8L
    staged
      .withColumn(out, when(isSoi, coalesce(hopStructs: _*)))
      .drop((1 to MaxHops).map(k => s"_jpos_$k"): _*)
  }
}
