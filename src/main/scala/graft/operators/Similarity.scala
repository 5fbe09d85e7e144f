package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §7.5).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k; the *query* side is
  *    broadcast (queries ≪ corpus), so the corpus is scanned once with
  *    no shuffle of the big side — the correct baseline even at 100 TB
  *    when the query batch is small.
  *  - [[ivfTopKPortable]]: IVF — a coarse quantizer partitions the
  *    corpus by nearest centroid; a query probes only its `nprobe`
  *    closest cells. Corpus assignment is one pass + a cell-keyed
  *    join; search touches ~nprobe/nlist of the data. At
  *    `nprobe = nlist` every cell is probed and the result equals
  *    [[bruteForceTopK]] row for row.
  */
object Similarity {

  /** Exact top-k by cosine for each query vector.
    *
    * @param corpus  (idCol, vecCol) big table
    * @param queries (qidCol, qvecCol) small table — broadcast
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("cosine_sim", cosine(col(corpusVec), col(queryVec)))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine_sim").desc, col(corpusId).asc)
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col(queryId), col(corpusId), round(col("cosine_sim"), 6).as("cosine_sim"),
        col("_rn").as("rank"))
  }

  /** IVF (inverted-file) ANN with a PORTABLE coarse quantizer, making
    * the WHOLE ANN operator — cell assignment, probe ranking, candidate
    * pruning and top-k — hash-checkable against an external SQL oracle
    * even with real pruning (`nprobe < nlist`), which an RNG-seeded
    * (k-means) quantizer can't be:
    *
    *   - centroids = the `nlist` corpus vectors ranked first by
    *     `(md5(id ":ivf_v1"), id)` — a deterministic, engine-neutral
    *     decorrelated draw (md5 rank ⊥ ingest order); cell id =
    *     position in that ranking
    *   - cell assignment / probe ranking / cosine all accumulate in
    *     array index order on both engines (the q93/q126 associativity
    *     recipe), ties broken by cell id / corpus id — so every
    *     decision, including WHICH cells are pruned, is bit-
    *     reproducible in SQL
    *
    * Plan shape: one compiled assignment pass with the centroid table
    * as a plan constant, a tiny broadcast probe join, then an
    * exact-cosine top-k over candidates that touch ~nprobe/nlist of
    * the corpus. Returns the same schema as [[bruteForceTopK]].
    */
  def ivfTopKPortable(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int,
      nlist: Int = 8,
      nprobe: Int = 3): DataFrame = {
    val spark = corpus.sparkSession

    // 1. bounded collect: exactly nlist centroid rows
    val centroids: Array[Array[Double]] = corpus
      .select(col(corpusId).as("_id"), toDouble(col(corpusVec)).as("_v"))
      .orderBy(md5(concat(col("_id").cast("string"), lit(":ivf_v1"))),
        col("_id"))
      .limit(nlist)
      .select("_v").collect()
      .map(_.getSeq[Double](0).toArray)

    // 2. corpus → cell assignment: one compiled pass, no shuffle
    val assigned = corpus.withColumn("_cell",
      graft.functions.expressions.TextExpressions.nearest_centroid(
        col(corpusVec), centroids.map(_.toSeq).toSeq))

    // 3. queries probe their nprobe nearest centroids (tiny broadcast
    //    join: cell distance via column algebra against centroid rows)
    val centroidRows = centroids.zipWithIndex.map { case (cArr, i) =>
      (i, cArr.toSeq)
    }
    import spark.implicits._
    val centroidDf = centroidRows.toSeq.toDF("_cell", "_centroid")
    val probed = queries.crossJoin(broadcast(centroidDf))
      .withColumn("_cdist", l2Dist2(col(queryVec), col("_centroid")))
    val wProbe = Window.partitionBy(col(queryId)).orderBy(col("_cdist").asc, col("_cell").asc)
    val queryCells = probed.withColumn("_pr", row_number().over(wProbe))
      .filter(col("_pr") <= nprobe)
      .select(col(queryId), col(queryVec), col("_cell"))

    // 4. candidate join on cell + exact cosine + top-k
    val scored = assigned.join(broadcast(queryCells), Seq("_cell"))
      .withColumn("cosine_sim", cosine(col(corpusVec), col(queryVec)))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cosine_sim").desc, col(corpusId).asc)
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col(queryId), col(corpusId), round(col("cosine_sim"), 6).as("cosine_sim"),
        col("_rn").as("rank"))
  }

  /** Symmetric per-vector int8 quantization — the storage/bandwidth
    * step an embedding-serving pipeline runs before indexing (4×
    * smaller vectors; integer dot products downstream). Per vector:
    * `scale = max|v_d| / 127`; `code_d = floor(v_d / scale + 0.5)`
    * (round-half-up, codes in [−127, 127] by construction since
    * |v_d| ≤ 127·scale); the all-zero vector gets scale 0 and all-zero
    * codes. Every step is IEEE double arithmetic + floor — identical
    * in any engine, so the operator is exactly oracle-checkable.
    *
    * Output is exploded to (vec_id, dim_ix, code, scale) scalar rows —
    * one narrow generate, no shuffle; `dequantized ≈ code·scale` with
    * per-element error ≤ scale/2 (pinned in spec).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxabs = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    df.select(col(idCol).as("vec_id"), col(vecCol).as("_v"),
        (maxabs / 127.0).as("scale"))
      .select(col("vec_id"), col("scale"),
        posexplode(col("_v")).as(Seq("dim_ix", "_x")))
      .select(col("vec_id"), col("dim_ix"),
        when(col("scale") === 0.0, 0L)
          .otherwise(floor(col("_x").cast("double") / col("scale") + 0.5))
          .as("code"),
        col("scale"))
  }

  /** Label-noise detection by centroid margin: for each labeled
    * vector, the squared distance to its OWN label's centroid versus
    * the nearest OTHER label's centroid. margin = d²(other) − d²(own);
    * negative margin (closer to a different label's centroid than its
    * own) flags a likely mislabeled example — the cheap first-pass
    * filter for classifier training data.
    *
    * Determinism (cross-engine exact): vector components round to
    * 6 dp and carry as DECIMAL, so centroid sums are order-independent
    * (float sums are not); each squared-diff contribution rounds to
    * 6 dp and carries as DECIMAL, so per-(vector, label) distance sums
    * are too; the only doubles are the centroid divide and the final
    * margin cast — IEEE-identical everywhere.
    *
    * Scale shape: centroids are one groupBy over (label, dim) —
    * |labels|·dims rows, broadcast back; the distance pass is a
    * narrow dim-keyed join (each component row meets |labels|
    * centroid components) and two aggregations keyed by vector. No
    * pairwise vector comparisons anywhere.
    */
  def labelCentroidMargin(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    // r16 shape: the corpus is scanned ONCE and never exploded. The
    // previous form exploded every vector 64× (checkpointing the
    // exploded frame), broadcast-joined centroids per DIM (multiplying
    // rows by |labels|) and folded back through TWO groupBys; all of
    // that is per-row array algebra once the centroids arrive as
    // ordered arrays. Only the centroid aggregate still explodes — its
    // output is |labels|×dim and map-side combines.
    val rv = transform(col(vecCol),
      x => round(x.cast("double"), 6).cast("decimal(20,6)"))
    val base = df.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
      rv.as("_rv"))
    val cents = base
      .select(col("label"), posexplode(col("_rv")).as(Seq("dim", "v")))
      .groupBy(col("label").as("clabel"), col("dim"))
      .agg((sum(col("v")).cast("double") / count(lit(1)).cast("double"))
        .as("cc"))
    // per-label centroid vectors, dim-ordered (dim is unique per label
    // so the sort is total); all labels ride ONE broadcast row
    val centArr = cents.groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cc")))),
        s => s.getField("cc")).as("carr"))
    val allCents = centArr
      .agg(collect_list(struct(col("clabel"), col("carr"))).as("_cs"))
    // d2(c) = Σ_dim round((v−c)², 6) as exact decimals — the same
    // per-dim contrib lattice and the same exact decimal sum as the
    // old groupBy (sum of decimal(20,6) → decimal(30,6); the running
    // cast is lossless at 64 dims), so values are bit-identical
    def d2(carr: Column): Column = aggregate(
      zip_with(col("_rv"), carr,
        (x, c) => {
          val diff = x.cast("double") - c
          round(diff * diff, 6).cast("decimal(20,6)")
        }),
      lit(java.math.BigDecimal.ZERO).cast("decimal(30,6)"),
      (acc, y) => (acc + y).cast("decimal(30,6)"))
    val ownArr = element_at(
      filter(col("_cs"), c => c.getField("clabel") === col("label")), 1)
      .getField("carr")
    val others = transform(
      filter(col("_cs"), c => c.getField("clabel") =!= col("label")),
      c => d2(c.getField("carr")))
    base.crossJoin(broadcast(allCents))
      .select(col("vec_id"), col("label"),
        d2(ownArr).as("own"), array_min(others).as("other"))
      .select(col("vec_id"), col("label"),
        round((col("other") - col("own")).cast("double"), 6).as("margin"),
        (col("other") < col("own")).as("is_suspect"))
  }

  /** Top-k by *quantized* cosine — the scan runs entirely over int8
    * codes ([[quantizeInt8]]'s scheme), never touching the float
    * vectors.
    *
    * The symmetric per-vector scales CANCEL in the cosine:
    * cos(c_d·s_d, c_q·s_q) = Σc_d c_q / (√Σc_d² · √Σc_q²) — so the
    * score needs no scale column at all, the dot product and both
    * norms are exact int64 arithmetic (|code| ≤ 127 ⇒ a 64-dim dot
    * ≤ ~10⁶), and the only floating-point ops are one correctly-
    * rounded sqrt/divide at the end — identical in any IEEE engine,
    * which makes this ANN variant exactly oracle-checkable (unlike
    * float-dot ANN, where sum order matters).
    *
    * Scale shape: codes are 4× smaller than float32 (16× vs the
    * float64 the exact path must widen to), so the 100 TB corpus scan
    * moves 4–16× fewer bytes and the inner loop is integer
    * multiply-add — this is the standard first-pass retrieval, with
    * [[bruteForceTopK]] as the float re-rank on the survivors. Query
    * side quantizes once and broadcasts; corpus is scanned once, no
    * shuffle of the big side; top-k via per-query row_number with a
    * pinned (score desc, id asc) tie-break.
    */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String, corpusVec: String,
      queryId: String, queryVec: String,
      k: Int): DataFrame = {
    def codesAndNorm(df: DataFrame, id: String, vec: String,
        idOut: String, c: String, n: String): DataFrame =
      df.select(col(id).as(idOut), col(vec).as("_v"),
          (array_max(transform(col(vec), x => abs(x.cast("double")))) / 127.0)
            .as("_scale"))
        .select(col(idOut),
          when(col("_scale") === 0.0, transform(col("_v"), _ => lit(0L)))
            .otherwise(transform(col("_v"),
              x => floor(x.cast("double") / col("_scale") + 0.5))).as(c))
        .select(col(idOut), col(c),
          aggregate(col(c), lit(0L), (acc, x) => acc + x * x).as(n))
    val d = codesAndNorm(corpus, corpusId, corpusVec, "vec_id", "_cd", "_nd")
    val q = codesAndNorm(queries, queryId, queryVec, "query_id", "_cq", "_nq")
    // r17: compiled exact-int64 dot kernel (same integer sums as the
    // interpreted aggregate(zip_with) fold)
    val dot = graft.functions.expressions.TextExpressions
      .long_dot(col("_cd"), col("_cq"))
    val score = when(col("_nd") * col("_nq") === 0L, lit(0.0))
      .otherwise(dot.cast("double")
        / (sqrt(col("_nd").cast("double")) * sqrt(col("_nq").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_s").desc, col("vec_id").asc)
    d.crossJoin(broadcast(q))
      .withColumn("_s", score)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("vec_id"),
        round(col("_s"), 6).as("qcos_sim"), col("_rn").as("rank"))
  }
}
