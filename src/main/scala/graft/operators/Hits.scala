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
  * anywhere; rounds batch LAZILY between the renorm-boundary cuts,
  * and only the normalize totals ride 1-row broadcasts. Pure hubs / pure
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

  /** Above [[PageRank.BroadcastThreshold]] nodes the score frame
    * shuffle-hash-joins against the clustered edge caches instead of
    * broadcasting.
    *
    * The rounds run on [[Fixpoint]] with a cut every 2 rounds, at the
    * renorm boundaries the magnitude envelope forces. For EVEN
    * `iterations` each boundary before the last round is probed: the
    * run stops when the NORMALIZED hub frame equals the previous
    * boundary's — the HITS analog of [[PageRank]]'s exact fixed-point
    * test. Raw decimals grow every half-step by design, so the
    * normalized frame is the only round-comparable one, and the cut
    * already materializes it. Two rounds + renorm is a pure integer
    * function of the normalized hub frame, so a repeated boundary
    * state pins every later stretch, and for even `iterations` the
    * remaining rounds are whole stretches: the early result is
    * bit-identical to the full run. Odd counts break that parity and
    * run every round.
    *
    * @return (node, micro_hub, micro_auth, rounds_run) after
    *         `iterations` full hub+authority rounds; Σ of each side ≈
    *         N·10⁶; rounds_run is the boundary round at the fixed
    *         point, else `iterations`.
    */
  def microHits(edges: DataFrame, iterations: Int): DataFrame = {
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
    val bcast = n <= PageRank.BroadcastThreshold
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
    // in the final round a pins BEFORE h consumes it, so the cut of h
    // replays nothing. These side pins are released on return.
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(f: DataFrame): DataFrame = {
      val p = f.localCheckpoint()
      pins += p
      p
    }
    val h0 = nodes.select(col("node"), lit(1000000L).cast(dec).as("_v"))
    // the boundary probe. The INITIAL hub frame is its own normalized
    // form (Σ = N·10⁶ exactly) and is CONSTANT — so the first
    // boundary's test is a literal filter (no join, no shuffle of a
    // synthetic all-10⁶ frame); only later boundaries compare cut
    // against cut, co-partitioned (r13 verdict #4: the boundary join
    // priced ~+1 s on q321's single-boundary run)
    val settled: Option[(DataFrame, DataFrame) => Boolean] =
      if (iterations % 2 == 1) None
      else Some { (prev, next) =>
        if (prev eq h0) next.filter(col("_v") =!= 1000000L).isEmpty
        else next.join(prev.withColumnRenamed("_v", "_pv")
            .hint("shuffle_hash"), Seq("node"))
          .filter(col("_v") =!= col("_pv")).isEmpty
      }
    def auth(h: DataFrame) = halfStep(eBySrc, eByDst, h, "src", "dst", bcast)
    def hub(a: DataFrame) = halfStep(eByDst, eBySrc, a, "dst", "src", bcast)
    var a: DataFrame = null // the final round's pinned authority side
    val (h, roundsRun) = Fixpoint.run(h0, iterations, 2, settled) { (h, i) =>
      val ai = if (i == iterations) { a = pin(auth(h)); a } else auth(h)
      val hNext = hub(ai)
      // Exact renormalization of h every SECOND round bounds the
      // decimal magnitude: unnormalized growth is ×(side mass) per
      // half-step and K_{2000,500}-dense graphs overflow 38 digits
      // by round 4 (found by the round-10 scale probe, BASELINE.md —
      // the closing rescale's v·scale product went null). A 2-round
      // stretch is the envelope the r11 re-probe validated through 8
      // rounds.
      if (iterations >= 3 && i % 2 == 0 && i < iterations)
        normalize(pin(hNext), "_m")
          .select(col("node"), col("_m").cast(dec).as("_v"))
      else hNext
    }
    // an early stop ends on a normalized boundary cut S equal to the
    // previous boundary state, so S is the hub side and the stopping
    // round's a — three half-steps from that state — is three
    // half-steps from S (the released previous cut is not re-read)
    val early = roundsRun < iterations
    if (early) a = pin(auth(hub(auth(h))))
    val hubSide =
      if (early) h.select(col("node"), col("_v").cast("long").as("micro_hub"))
      else normalize(h, "micro_hub")
    val out = nodes
      .join(hubSide, Seq("node"), "left")
      .join(normalize(a, "micro_auth"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("micro_hub"), lit(0L)).as("micro_hub"),
        coalesce(col("micro_auth"), lit(0L)).as("micro_auth"),
        lit(roundsRun).as("rounds_run"))
      .localCheckpoint()
    Seq(eBySrc, eByDst, nodes).foreach(_.unpersist())
    (h +: pins).foreach(Fixpoint.release)
    out
  }
}
