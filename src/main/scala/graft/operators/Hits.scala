package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration HITS (Kleinberg 1999) over a directed edge list —
  * hubs point at good authorities, authorities are pointed at by good
  * hubs: the link-analysis complement to [[PageRank]] (which ranks by
  * stationary visitation, not by the hub/authority duality a curation
  * pipeline wants when ranking e.g. link aggregators vs content
  * hosts).
  *
  * Arithmetic is the [[PageRank]] integer discipline, with one
  * structural improvement over the textbook loop: the power
  * iteration runs UNNORMALIZED on DECIMAL(38,0) (per-round
  * normalization exists only to stop float overflow — exact decimals
  * don't need it), and the L1 sum-normalization
  * score = (raw · N·10⁶) div Σraw is an exact floor division applied
  * once per 2-round stretch and once at the end. No IEEE anywhere;
  * any engine replays the fixed point bit-exactly. Magnitude
  * discipline: values grow ≤ ×(opposing side mass) per half-step, so
  * every unnormalized stretch is capped at 2 rounds (the envelope
  * BASELINE.md's r11 HITS re-probe measured on dense complete-bipartite
  * graphs at 8 rounds) — and because the only null source in the rescale is a
  * 38-digit overflow (inputs are non-null by construction), the
  * normalize step RAISES on a null product instead of letting the
  * closing left-join coalesce read it as a legitimate 0.
  *
  * Scale shape (the PageRank cached-edge regime): the distinct edge
  * list is cached TWICE, clustered by `src` and by `dst`, so BOTH
  * half-step joins find the edge side pre-partitioned — per
  * half-step the only data motion is the narrow score frame
  * (broadcast when the node set fits an executor, shuffle-hash
  * against the clustered cache otherwise) plus the map-side-combined
  * aggregate exchange. No edge re-shuffle and no per-round sort
  * anywhere; all rounds batch LAZILY into one job, and only the
  * closing totals ride 1-row broadcasts. Pure hubs / pure
  * authorities surface with an exact 0.
  */
object Hits {

  private val dec = "decimal(38,0)"

  /** One shuffle builds the src-clustered distinct edge cache (dedup
    * is partition-local under HashPartitioning(src)); one more
    * clusters its twin by dst. Package-private so the plan spec pins
    * the exact production shape.
    */
  private[graft] def edgeCaches(edges: DataFrame): (DataFrame, DataFrame) = {
    val eBySrc = edges.select(col("src"), col("dst"))
      .repartition(col("src")).dropDuplicates("src", "dst").persist()
    val eByDst = eBySrc.repartition(col("dst")).persist()
    (eBySrc, eByDst)
  }

  /** One HITS half-step: pull each node's score across the edges
    * whose `joinKey` endpoint it is, summing per `outKey` endpoint.
    * Regime-dependent cache pick, both shuffle-minimal:
    *
    *   - broadcast (small node sets): the score frame broadcasts, so
    *     the JOIN constrains nothing — stream the cache clustered by
    *     the OUTPUT key and the aggregate becomes partition-local. A
    *     half-step is then scan + broadcast probe + local agg with
    *     ZERO shuffles (measured 4-5× the src-matched-cache shape,
    *     whose agg exchange was the whole floor).
    *   - shuffle-hash (node sets beyond an executor): the join
    *     itself needs co-partitioning, so stream the cache clustered
    *     by the JOIN key (edge side never re-shuffles, no sort) and
    *     pay the one map-side-combined aggregate exchange.
    */
  private[graft] def halfStep(eJoinKey: DataFrame, eOutKey: DataFrame,
      scores: DataFrame, joinKey: String, outKey: String,
      bcast: Boolean): DataFrame = {
    val s = scores.withColumnRenamed("node", joinKey)
    val joined =
      if (bcast) eOutKey.join(broadcast(s), Seq(joinKey))
      else eJoinKey.join(s.hint("shuffle_hash"), Seq(joinKey))
    joined.groupBy(col(outKey).as("node")).agg(sum(col("_v")).as("_v"))
      // a DECIMAL(38,0) sum overflow yields null in non-ANSI mode,
      // and the NEXT half-step's sum would skip that null per SQL
      // semantics — a silently-wrong total the closing normalize
      // guard can no longer see. Every half-step therefore fails
      // loudly itself (inputs are non-null by construction, so a
      // null sum here IS an overflow).
      .select(col("node"),
        when(col("_v").isNull, raise_error(concat(
            lit("HITS decimal overflow in a half-step sum at node "),
            col("node").cast("string"),
            lit(" — graph too dense for the 2-round stretch envelope"))))
          .otherwise(col("_v")).as("_v"))
  }

  /** @param broadcastThreshold node-count ceiling for the broadcast
    *              regime (the [[PageRank]] knob); above it the score
    *              frame shuffle-hash-joins against the clustered
    *              edge caches instead.
    * @param convergeEarly stop at a renorm boundary whose NORMALIZED
    *              hub frame equals the previous boundary's — the HITS
    *              analog of [[PageRank]]'s exact fixed-point test.
    *              Raw decimals grow every half-step by design, so the
    *              only round-comparable representation is the
    *              normalized long frame, and that exists exactly at
    *              the 2-round renorm boundaries the magnitude
    *              envelope already forces — the test therefore rides
    *              a frame the loop ALREADY materializes (one extra
    *              co-partitioned join + cache-read probe per
    *              boundary, nothing per round). Boundary equality is
    *              exact convergence: two rounds + renorm is a pure
    *              integer function of the normalized hub frame, so a
    *              repeated boundary state pins every later stretch,
    *              and for EVEN `iterations` the remaining rounds are
    *              whole stretches — the early result is bit-identical
    *              to the full run (odd iteration counts break that
    *              parity, so the test only engages when `iterations`
    *              is even; it is then also skipped at boundaries the
    *              magnitude envelope already renormalizes away, i.e.
    *              none). Adds `rounds_run` (= the boundary round at
    *              the fixed point, else `iterations`).
    * @return (node, micro_hub, micro_auth) after `iterations` full
    *         hub+authority rounds; Σ of each side ≈ N·10⁶ — plus
    *         `rounds_run` when `convergeEarly` is set.
    */
  def microHits(edges: DataFrame, iterations: Int,
      broadcastThreshold: Long = 4000000L,
      convergeEarly: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 8,
      s"iterations out of the decimal-headroom envelope: $iterations")
    val (eBySrc, eByDst) = edgeCaches(edges)
    val nodes = eBySrc.select(col("src").as("node"))
      .union(eBySrc.select(col("dst").as("node"))).distinct().persist()
    // the ONE eager setup job: materializes the src-clustered edge
    // cache en route and yields both the broadcast-regime pick and
    // the exact N·10⁶ normalization scale (a literal — the r10 shape
    // spent a separate checkpoint job plus a per-normalize crossJoin
    // on a 1-row scale frame for the same number)
    val n = nodes.count()
    val bcast = n <= broadcastThreshold
    val scale = lit(new java.math.BigDecimal(
      (BigInt(n) * 1000000).bigInteger)).cast(dec)

    def normalize(f: DataFrame, out: String): DataFrame = {
      val tot = f.agg(sum(col("_v")).as("_tot"))
      f.crossJoin(broadcast(tot))
        .select(col("node"), {
          val x = col("_v") * scale
          val q = ((x - pmod(x, col("_tot"))) / col("_tot")).cast("long")
          // _v and _tot are non-null by construction (the half-steps
          // raise on their own overflow), so a null QUOTIENT here is
          // exactly a DECIMAL(38,0) overflow in x = v·scale or in
          // the totals sum that non-ANSI mode swallowed — and the
          // closing left-join coalesce would silently turn it into a
          // plausible 0 score. Fail loudly instead (ADVICE r10);
          // guarding q (not just x) also covers a null _tot.
          when(q.isNull, raise_error(concat(
              lit("HITS decimal overflow in normalize at node "),
              col("node").cast("string"),
              lit(" — graph too dense for the 2-round stretch envelope"))))
            .otherwise(q).as(out)
        })
    }

    // Pinning discipline: normalize consumes its input TWICE (total
    // + rescale), so a lazy loop DOUBLES the logical tree per renorm
    // stretch — and persist() does NOT contain it, because cache
    // substitution happens at PHYSICAL planning while the analyzer/
    // optimizer still walk the exponential logical tree (measured ×3
    // wall per extra stretch at 6-8 rounds, all driver time). The
    // pin is therefore an EAGER localCheckpoint — logical lineage
    // truncates to the materialized blocks — placed so every
    // half-step computes exactly once: only h renormalizes mid-loop
    // (the renormalized a is DEAD — round i+1 rebuilds a from h —
    // so the r10 shape's a-side mid-point normalize was pure plan
    // weight; the ORACLE's unrolled a2n CTE is likewise unread), and
    // in the final round a pins BEFORE h consumes it, so pinning h
    // replays nothing.
    def pin(f: DataFrame): DataFrame = f.localCheckpoint()
    var h = nodes.select(col("node"),
      lit(1000000L).cast(dec).as("_v"))
    // the convergence test's previous-boundary state. The INITIAL hub
    // frame is its own normalized form (Σ = N·10⁶ exactly) and is
    // CONSTANT — so the first boundary's test is a literal filter
    // (no join, no shuffle of a synthetic all-10⁶ frame); only later
    // boundaries compare frame against frame (r13 verdict #4: the
    // boundary join priced ~+1 s on q321's single-boundary run)
    var prevNorm: DataFrame = null
    var a: DataFrame = null
    var earlyHub: DataFrame = null
    var roundsRun = iterations
    var i = 1
    var stop = false
    while (i <= iterations && !stop) {
      a = halfStep(eBySrc, eByDst, h, "src", "dst", bcast)
      if (i == iterations) a = pin(a)
      h = halfStep(eByDst, eBySrc, a, "dst", "src", bcast)
      // Exact renormalization of h every SECOND round bounds the
      // decimal magnitude: unnormalized growth is ×(side mass) per
      // half-step and K_{2000,500}-dense graphs overflow 38 digits
      // by round 4 (found by the round-10 scale probe, BASELINE.md —
      // the closing rescale's v·scale product went null). A 2-round
      // stretch is the envelope the r11 re-probe validated through 8
      // rounds. (The r10
      // single-mid-point placement let 6-8-iteration runs regrow a
      // 4-round stretch — exactly the undetected-overflow window
      // ADVICE r10 flagged.)
      if (iterations >= 3 && i % 2 == 0 && i < iterations) {
        val hN = normalize(pin(h), "_m")
        if (convergeEarly && iterations % 2 == 0) {
          // boundary fixed-point test on the frame the renorm already
          // built: ONE eager pin materializes the boundary state,
          // then the test is a cache-read probe — against the
          // LITERAL 10⁶ at the first boundary (the previous state is
          // the constant initial frame), a co-partitioned cache-vs-
          // cache join only at later boundaries
          val hNp = hN.localCheckpoint(true)
          val converged =
            if (prevNorm == null)
              hNp.filter(col("_m") =!= 1000000L).isEmpty
            else hNp.join(
                prevNorm.withColumnRenamed("_m", "_pm")
                  .hint("shuffle_hash"), Seq("node"))
              .filter(col("_m") =!= col("_pm")).isEmpty
          if (converged) {
            // boundary state repeated: every remaining stretch replays
            // it, so micro_hub = this normalized frame and micro_auth
            // = normalize(a at this boundary) — bit-identical to the
            // full run (see the convergeEarly scaladoc)
            roundsRun = i
            stop = true
            earlyHub = hNp
            a = pin(a)
          } else {
            prevNorm = hNp
            h = hNp.select(col("node"), col("_m").cast(dec).as("_v"))
          }
        } else {
          h = hN.select(col("node"), col("_m").cast(dec).as("_v"))
        }
      }
      if (i == iterations) h = pin(h)
      i += 1
    }

    val hubSide =
      if (earlyHub != null) earlyHub.withColumnRenamed("_m", "micro_hub")
      else normalize(h, "micro_hub")
    val out0 = nodes
      .join(hubSide, Seq("node"), "left")
      .join(normalize(a, "micro_auth"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("micro_hub"), lit(0L)).as("micro_hub"),
        coalesce(col("micro_auth"), lit(0L)).as("micro_auth"))
    val out = (if (convergeEarly)
        out0.withColumn("rounds_run", lit(roundsRun).cast("int"))
      else out0)
      .localCheckpoint()
    eBySrc.unpersist(); eByDst.unpersist(); nodes.unpersist()
    out
  }
}
