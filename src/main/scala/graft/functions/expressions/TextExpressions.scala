package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot text/vector kernels.
  *
  * Spark's higher-order functions (transform/aggregate/zip_with) are
  * interpreted — every lambda application walks an expression tree and
  * allocates row objects, and sub-expressions captured by a lambda are
  * re-evaluated per element. For per-row kernels that loop over arrays
  * (shingling, MinHash, SimHash, dot products) a native `Expression`
  * with a compiled `eval` loop is 10-50× faster while staying fully
  * inside the Catalyst plan (prunable, pushdown-transparent, no UDF
  * serialization). These use `CodegenFallback` — the eval itself is
  * compiled Scala; only the call into it is interpreted.
  *
  * (Preference order per the build plan: compose built-ins → custom
  * Expression → custom operator → mapPartitions. These kernels are the
  * second rung.)
  */
object TextExpressions {

  /** Whether `a` has no null element. */
  private def noNulls(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Whether two arrays pair up element for element with no null: the
    * only case in which the `aggregate(zip_with(...))` fold a pairwise
    * kernel replaces returns a value (zip_with pads the shorter array
    * with nulls, and one null element nulls the sum).
    */
  private def pairable(a: ArrayData, b: ArrayData): Boolean =
    a.numElements() == b.numElements() && noNulls(a) && noNulls(b)

  /** Distinct word n-gram shingles of a token array, space-joined.
    * Matches the `slidingJoin` column-algebra semantics (first-
    * occurrence order, windows shorter than n dropped).
    */
  case class WordShinglesExpr(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val numToks = arr.numElements()
      if (numToks < n) return new GenericArrayData(Array.empty[Any])
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var i = 0
      while (i <= numToks - n) {
        var s = arr.getUTF8String(i)
        var j = 1
        while (j < n) {
          s = UTF8String.concat(s, UTF8String.fromString(" "), arr.getUTF8String(i + j))
          j += 1
        }
        seen.add(s)
        i += 1
      }
      new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Dot product of two numeric arrays in double precision (float
    * elements widened before multiply — same as the zip_with form);
    * NULL for different lengths or a null element, as that form.
    */
  case class DotProductExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    private def elemIsFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      if (!pairable(a, b)) return null
      val n = a.numElements()
      val af = elemIsFloat(left); val bf = elemIsFloat(right)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
        i += 1
      }
      java.lang.Double.valueOf(acc)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Cosine similarity of two numeric arrays; 0.0 for zero vectors,
    * NULL for different lengths or a null element.
    */
  case class CosineSimExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    private def elemIsFloat(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      if (!pairable(a, b)) return null
      val n = a.numElements()
      val af = elemIsFloat(left); val bf = elemIsFloat(right)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      java.lang.Double.valueOf(if (denom == 0.0) 0.0 else dot / denom)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Count of tokens belonging to a fixed word set — one compiled
    * pass; replaces the interpreted `filter(toks, isin(...))` lambda.
    */
  case class WordSetCountExpr(child: Expression, words: Seq[String])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    @transient private lazy val set: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String]()
      words.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      var cnt = 0
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (set.contains(arr.getUTF8String(i))) cnt += 1
        i += 1
      }
      java.lang.Integer.valueOf(cnt)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Order-sensitive rolling fingerprint of a token array: the
    * FNV-style fold acc = acc·P + h(tok) from the FNV offset, in
    * wrapping 64-bit arithmetic, with h(tok) = the little-endian
    * uint64 of md5(tok) bytes 8..15 — exactly DuckDB's
    * `md5_number_lower` — so an exact SQL oracle exists as a HUGEINT
    * mod-2⁶⁴ `list_reduce` (two's-complement wrap ≡ unsigned mod 2⁶⁴).
    */
  case class PortableFingerprintExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    private val Offset = 1469598103934665603L
    private val Prime = 1099511628211L
    @transient private lazy val md5Local =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val md = md5Local.get()
      var acc = Offset
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var h = 0L
        var j = 0
        while (j < 8) { h |= (d(8 + j) & 0xffL) << (8 * j); j += 1 }
        acc = acc * Prime + h
        i += 1
      }
      java.lang.Long.valueOf(acc)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** The 60-bit portable value of one md5: the first 15 hex digits of
    * md5(bytes) read MSB-first — the cross-engine integer the portable
    * dedup kernels derive from. SQL mirror:
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`. Built from the digest
    * bytes directly (7 bytes + the high nibble of byte 7), no hex
    * round-trip.
    */
  private def md5Head60(md: java.security.MessageDigest, s: UTF8String): Long = {
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Portable 60-bit SimHash over a DISTINCT token array — the SAME
    * fingerprint [[graft.operators.PortableSimHash]] documents (bit p
    * of md5(token) = bit `3 − p%4` of hex digit `p/4` ⇔ bit `59 − p`
    * of the 15-hex-digit integer), computed as one compiled pass:
    * one JVM md5 + 60 long shifts per token, replacing the
    * per-(token, bit) string-parse column algebra (conv/substr/pow)
    * that made the operator the board's slowest. The SQL oracle is
    * unchanged — only the engine kernel is.
    */
  case class PortableSimHash60Expr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    @transient private lazy val md5Local =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val md = md5Local.get()
      val sums = new Array[Int](60)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val v = md5Head60(md, arr.getUTF8String(i))
        var p = 0
        while (p < 60) {
          sums(p) += 2 * ((v >>> (59 - p)) & 1L).toInt - 1
          p += 1
        }
        i += 1
      }
      var fp = 0L
      var p = 0
      while (p < 60) { if (sums(p) > 0) fp |= 1L << p; p += 1 }
      java.lang.Long.valueOf(fp)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Portable MinHash signature over a shingle array: the standard
    * one-base-hash affine family, engine-neutral end to end —
    *
    *   base(t) = first 15 hex digits of md5(t) as an integer, mod
    *             P = 2³¹−1 (prime)
    *   h_j(t)  = (A_j·base(t) + B_j) mod P,
    *             A_j = ((j+1)·2654435761) mod P (Knuth multiplier;
    *             never 0 since P is prime and both factors < P),
    *             B_j = j·40503 + 12345 (< P for all j here)
    *   sig_j   = min over shingles of h_j(t)
    *
    * Every step is exact int64 arithmetic (A_j·base < 2⁶²), so a SQL
    * oracle reproduces it literally:
    * `MIN((((j+1)*2654435761 % 2147483647) * (('0x' ||
    * substr(md5(t),1,15))::BIGINT % 2147483647) + j*40503 + 12345)
    * % 2147483647)`. One md5 per shingle (vs numHashes md5s in the
    * hex-string-min formulation this replaces — the 64-hash near-dup
    * setting was 12 s at sf0.1 on md5 alone).
    */
  case class PortableMinHashSigExpr(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    require(numHashes >= 1, "numHashes must be positive")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private val P = 2147483647L
    @transient private lazy val md5Local =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    @transient private lazy val as: Array[Long] =
      Array.tabulate(numHashes)(j => ((j + 1) * 2654435761L) % P)
    @transient private lazy val bs: Array[Long] =
      Array.tabulate(numHashes)(j => j * 40503L + 12345L)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val md = md5Local.get()
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val r = md5Head60(md, arr.getUTF8String(i)) % P
        var j = 0
        while (j < numHashes) {
          val h = (as(j) * r + bs(j)) % P
          if (h < mins(j)) mins(j) = h
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) — the canonicalization
    * pass an LLM-data text pipeline runs before hashing/dedup so that
    * visually-identical strings ("é" precomposed vs "e"+combining
    * accent) collapse to one byte sequence. Spark has no built-in;
    * this wraps `java.text.Normalizer` as a compiled kernel.
    */
  case class UnicodeNormalizeExpr(child: Expression, form: String)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val nf =
      java.text.Normalizer.Form.valueOf(form.toUpperCase)
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      UTF8String.fromString(java.text.Normalizer.normalize(s, nf))
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Morton (Z-order) code: interleaves the low `bits` bits of two
    * non-negative longs — a-bits on even positions, b-bits on odd.
    * Sorting by this value clusters BOTH dimensions simultaneously,
    * which is what makes multi-column min/max data skipping work.
    */
  case class InterleaveBitsExpr(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression with CodegenFallback {
    require(bits > 0 && bits <= 31, "bits must be in [1, 31]")
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[Long]
      val b = r.asInstanceOf[Long]
      var z = 0L
      var i = 0
      while (i < bits) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      java.lang.Long.valueOf(z)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Jaccard similarity of two string arrays treated as sets —
    * |A ∩ B| / |A ∪ B|, 0.0 when the union is empty. One hash-set
    * build + one probe pass per row instead of the three interpreted
    * passes of `array_intersect` + `array_union` + `size`.
    */
  case class JaccardSimExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val setA = new java.util.HashSet[UTF8String]()
      var i = 0
      val na = a.numElements()
      while (i < na) { setA.add(a.getUTF8String(i)); i += 1 }
      val setB = new java.util.HashSet[UTF8String]()
      var inter = 0
      var j = 0
      val nb = b.numElements()
      while (j < nb) {
        val s = b.getUTF8String(j)
        if (setB.add(s) && setA.contains(s)) inter += 1
        j += 1
      }
      val union = setA.size + setB.size - inter
      java.lang.Double.valueOf(
        if (union == 0) 0.0 else inter.toDouble / union)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Exact int64 squared L2 distance between two long-array lattice
    * vectors — the PQ/IVF family's distance kernel compiled (r17).
    * Replaces the interpreted `aggregate(zip_with(a, b, (x,y) →
    * (x−y)²), 0L, +)` column algebra at every PQ call site: the
    * values are the identical exact integer sums (long arithmetic
    * throughout, same non-ANSI wrap semantics), only the per-element
    * lambda interpretation goes away. Arrays of different lengths or
    * with a null element give NULL, as the fold does.
    */
  case class LongSqDistExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      if (!pairable(a, b)) return null
      val n = a.numElements()
      var acc = 0L
      var i = 0
      while (i < n) {
        val d = a.getLong(i) - b.getLong(i)
        acc += d * d
        i += 1
      }
      java.lang.Long.valueOf(acc)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** The planted-BMP pixel grid of the image fixtures (q277/q278)
    * compiled (r17): per pixel (x ∈ 0..8, y ∈ 7..0) the value is the
    * first md5 byte of "<base>:img:<y·9+x>" plus a single-pixel
    * perturbation (+9 at (px, py) when pert, mod 256), emitted as the
    * row-padded 448-char hex string the SQL fixture spells with
    * per-element transform/format_string/conv/substring — ~10
    * interpreted expression evals per pixel replaced by one compiled
    * loop with a reused digest. Byte-for-byte identical output (the
    * oracle re-derives the same md5 bytes arithmetically).
    */
  case class PlantedBmpPixExpr(base: Expression, px: Expression,
      py: Expression, pert: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(base, px, py, pert)
    override def nullable: Boolean = children.exists(_.nullable)
    override def dataType: DataType = StringType
    @transient private lazy val md5Local =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    private val hexDigits = "0123456789abcdef".toCharArray
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val bv = base.eval(input); val pxv = px.eval(input)
      val pyv = py.eval(input); val pev = pert.eval(input)
      if (bv == null || pxv == null || pyv == null || pev == null) return null
      val b = bv.asInstanceOf[Long]
      val pxi = pxv.asInstanceOf[Long]
      val pyi = pyv.asInstanceOf[Long]
      val pe = pev.asInstanceOf[Boolean]
      val md = md5Local.get()
      val sb = new java.lang.StringBuilder(448)
      var y = 7
      while (y >= 0) {
        var x = 0
        while (x <= 8) {
          md.reset()
          val d = md.digest((b.toString + ":img:" + (y * 9 + x).toString)
            .getBytes("UTF-8"))
          var v = d(0) & 0xff
          if (pe && x == pxi && y == pyi) v = (v + 9) % 256
          val h = hexDigits(v >>> 4); val l = hexDigits(v & 0xf)
          var r = 0
          while (r < 3) { sb.append(h); sb.append(l); r += 1 }
          x += 1
        }
        sb.append("00")
        y -= 1
      }
      UTF8String.fromString(sb.toString)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(base = newChildren(0), px = newChildren(1),
        py = newChildren(2), pert = newChildren(3))
  }

  /** Exact int64 dot product of two long-array vectors — the
    * companion kernel to [[LongSqDistExpr]] for the integer-lattice
    * cosine/containment gates (same exact long arithmetic as the
    * interpreted aggregate(zip_with(x·y)) fold it replaces, and NULL
    * where the fold is NULL: different lengths or a null element).
    */
  case class LongDotExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      if (!pairable(a, b)) return null
      val n = a.numElements()
      var acc = 0L
      var i = 0
      while (i < n) {
        acc += a.getLong(i) * b.getLong(i)
        i += 1
      }
      java.lang.Long.valueOf(acc)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Index of the nearest centroid (squared-L2) for a numeric-array
    * vector against a fixed centroid table — the IVF cell-assignment
    * kernel. Centroids are plan constants (broadcast with the closure),
    * so assignment is a single compiled pass with no join or ML
    * pipeline. `Seq` (not `Array`) fields keep case-class equality
    * structural for Catalyst canonicalization. A vector with a null
    * element, or whose length differs from a centroid's, gets NULL.
    */
  case class NearestCentroidExpr(child: Expression, centroids: Seq[Seq[Double]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    @transient private lazy val cents: Array[Array[Double]] =
      centroids.map(_.toArray).toArray
    private def elemIsFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    override def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (!noNulls(a) || cents.exists(_.length != n)) return null
      val af = elemIsFloat
      val k = cents.length
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < k) {
        val c = cents(j)
        var d = 0.0
        var i = 0
        while (i < n) {
          val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
          val diff = x - c(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      java.lang.Integer.valueOf(best)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Content-defined chunking boundary detector — GEAR rolling hash
    * (the CDC literature's O(1)-per-char construction): one pass over
    * the text updating `h = (h << 1) + gear(c)`, boundary after
    * 1-based char position `pos` whenever `pos ≥ maskBits` and the low
    * `maskBits` bits of `h` are zero (mean chunk ≈ 2^maskBits chars).
    * Returns the ascending boundary list WITH the end-of-doc sentinel
    * appended (deduped), ready for shuffle-free chunk assembly.
    *
    * Portable-exact despite being a rolling hash: because each step
    * shifts LEFT, the low `maskBits` bits of `h` at position `pos`
    * equal `Σ_{j=0}^{maskBits-1} gear(c_{pos-j})·2^j  mod 2^maskBits`
    * — a pure function of the trailing `maskBits` characters — so an
    * external SQL oracle can state the same predicate positionally
    * (md5-derived gear table, LAG window sum) with no recursion. The
    * gear value of a char is the first byte of md5("g:" + char),
    * memoized per distinct char (corpus alphabets are tiny, so the
    * md5 cost amortizes to nothing and the scan is truly O(1)/char —
    * unlike the md5-per-position window form it twins with).
    */
  case class GearBoundariesExpr(child: Expression, maskBits: Int)
      extends UnaryExpression with CodegenFallback {
    require(maskBits >= 1 && maskBits <= 16, "maskBits in [1,16]")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    @transient private lazy val md5Local =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    @transient private lazy val gearCache =
      new java.util.concurrent.ConcurrentHashMap[Integer, Integer]()
    private def gear(cp: Int): Int =
      gearCache.computeIfAbsent(cp, k => {
        val md = md5Local.get()
        md.reset()
        val d = md.digest(("g:" + new String(Character.toChars(k)))
          .getBytes("UTF-8"))
        Integer.valueOf(d(0) & 0xff)
      }).intValue()
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val mask = (1 << maskBits) - 1
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var h = 0
      var idx = 0
      var pos = 0
      while (idx < s.length) {
        val cp = s.codePointAt(idx)
        idx += Character.charCount(cp)
        pos += 1
        h = ((h << 1) + gear(cp)) & 0xffff
        if (pos >= maskBits && (h & mask) == 0) out += pos
      }
      if (pos >= 1 && (out.isEmpty || out.last != pos)) out += pos
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Length of the longest common subsequence of two token arrays —
    * the ROUGE-L kernel. Classic two-row integer DP: O(|C|·|R|) time,
    * O(|R|) space per pair, vs the O(|C|·|R|²) the monotone-row
    * list-transform fold paid (each row's prefix-max ran as an
    * array-reallocating aggregate). The result is a UNIQUE integer —
    * no floats, no ties — so any correct evaluation strategy (this
    * compiled loop, the fold it replaced, the oracle's bounded
    * recursive CTE) produces the same value, and the cross-engine
    * hash contract is untouched by the kernel swap.
    */
  case class LcsLengthExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      val m = b.numElements()
      if (n == 0 || m == 0) return java.lang.Long.valueOf(0L)
      val bs = new Array[UTF8String](m)
      var j = 0
      while (j < m) { bs(j) = b.getUTF8String(j); j += 1 }
      var prev = new Array[Int](m + 1)
      var cur = new Array[Int](m + 1)
      var i = 0
      while (i < n) {
        val av = a.getUTF8String(i)
        var k = 0
        while (k < m) {
          // null tokens never match (SQL `=` on null is non-true) —
          // Objects.equals(null, null) would diverge from both the
          // fold this kernel replaced and the oracle's '=' semantics
          cur(k + 1) =
            if (av != null && av.equals(bs(k))) prev(k) + 1
            else math.max(prev(k + 1), cur(k))
          k += 1
        }
        val t = prev; prev = cur; cur = t
        java.util.Arrays.fill(cur, 0)
        i += 1
      }
      java.lang.Long.valueOf(prev(m).toLong)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  // ── Column wrappers ─────────────────────────────────────────────────

  private def expr(c: Column) = ColumnBridge.expression(c)
  private def toCol(e: Expression) = ColumnBridge.column(e)

  def word_shingles(toks: Column, n: Int): Column =
    toCol(WordShinglesExpr(expr(toks), n))
  def dot_product(a: Column, b: Column): Column =
    toCol(DotProductExpr(expr(a), expr(b)))
  def cosine_sim(a: Column, b: Column): Column =
    toCol(CosineSimExpr(expr(a), expr(b)))
  def nearest_centroid(v: Column, centroids: Seq[Seq[Double]]): Column =
    toCol(NearestCentroidExpr(expr(v), centroids))
  def long_sq_dist(a: Column, b: Column): Column =
    toCol(LongSqDistExpr(expr(a), expr(b)))
  def long_dot(a: Column, b: Column): Column =
    toCol(LongDotExpr(expr(a), expr(b)))
  def planted_bmp_pix(base: Column, px: Column, py: Column,
      pert: Column): Column =
    toCol(PlantedBmpPixExpr(expr(base), expr(px), expr(py), expr(pert)))
  def jaccard_sim(a: Column, b: Column): Column =
    toCol(JaccardSimExpr(expr(a), expr(b)))
  def lcs_length(cand: Column, ref: Column): Column =
    toCol(LcsLengthExpr(expr(cand), expr(ref)))
  def word_set_count(toks: Column, words: Seq[String]): Column =
    toCol(WordSetCountExpr(expr(toks), words))
  def portable_fingerprint(toks: Column): Column =
    toCol(PortableFingerprintExpr(expr(toks)))
  def portable_simhash60(toks: Column): Column =
    toCol(PortableSimHash60Expr(expr(toks)))
  def portable_minhash_sig(shingles: Column, numHashes: Int): Column =
    toCol(PortableMinHashSigExpr(expr(shingles), numHashes))
  def interleave_bits(a: Column, b: Column, bits: Int = 21): Column =
    toCol(InterleaveBitsExpr(expr(a), expr(b), bits))
  def unicode_normalize(s: Column, form: String = "NFC"): Column =
    toCol(UnicodeNormalizeExpr(expr(s), form))
  def gear_boundaries(text: Column, maskBits: Int): Column =
    toCol(GearBoundariesExpr(expr(text), maskBits))
}
