package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge list — the canonical
  * iterative-graph workload (centrality scoring of a dedup/citation/
  * link graph in a data-curation pipeline), expressed as pure
  * DataFrame rounds like the connected-components operator.
  *
  * Arithmetic is FIXED-POINT: ranks are integer micro-units
  * (R = N·rank·10⁶ scaled so R₀ = 10⁶ per node) and every step is
  * long arithmetic —
  *
  *   C(u)  = R(u) div outdeg(u)
  *   R'(v) = 150000 + (85 · Σ_{u→v} C(u)) div 100
  *
  * Float formulations of this recurrence are a cross-engine trap that
  * this operator exists to avoid: damping multiplies keep producing
  * EXACT decimal intermediates, which land on genuine decimal-
  * rounding ties ~10⁻³ of the time, and engines then disagree on the
  * tie (an exact-decimal engine tie-breaks the true value, a binary
  * engine rounds the nearest double's off-tie representation —
  * observed as 1e-6 drift against DuckDB at sf0.01 for BOTH a
  * ROUND-based and a cast-based float variant). Integer div has no
  * ties and no representation gap: any engine reproduces the result
  * bit-exactly, under any partitioning or aggregation order (sums of
  * longs are exact). The floor in `div` leaks ≤1 micro-unit per edge
  * per round — ~10⁻⁶ relative, the price of determinism.
  *
  * Scale shape: the per-round data motion is ONE pass over the cached
  * edge list. `outdeg` is round-invariant, so it is attached to the
  * edge frame ONCE at setup — each round then joins only the narrow
  * (node, R) rank frame against the cached (src, dst, outdeg) edges
  * and computes `R(u) div outdeg(u)` per edge row (bit-identical to
  * pre-dividing per source, since the divisor is constant per src).
  * The rank frame — one row per node, never the edges — is what
  * moves: broadcast to the edge scan when the node set fits an
  * executor (`broadcastThreshold`), else shuffle-hash-joined against
  * the src-partitioned cached edges (no per-round sort, no edge
  * re-exchange). In the broadcast regime the edge cache streams
  * clustered by the OUTPUT key `dst` (the join constrains nothing),
  * so the per-round contribution agg is partition-local and a round
  * has ZERO shuffles — the [[Hits]] half-step shape, bought by one
  * extra setup shuffle. In the shuffle-hash regime partial
  * aggregation map-side-combines the edge-side contributions before
  * the one small per-round shuffle on dst.
  * The rounds run on [[Fixpoint]]: a cut every `convergeCheckEvery`
  * rounds and at the last keeps the plan O(1) deep over any iteration
  * count, and the lazy rounds between cuts batch into one job, which
  * amortizes the fixed optimize/schedule/materialize cost
  * that dominates small-graph runs. Edges (with degrees) are computed
  * once and persisted across rounds; all caches except the final
  * O(nodes) result are released on return.
  */
object PageRank {

  /** Ceiling on 2·|edges| (or on nodes) below which the iterative
    * graph operators broadcast their per-round frame — this object's,
    * [[Hits]], [[KCore]] and [[ShortestPaths]]; above it the
    * frame shuffle-hash-joins against the src-partitioned edge cache.
    */
  private[operators] val BroadcastThreshold = 4000000L

  /** One PageRank contribution round: pull each node's rank across
    * its out-edges, summing `R(u) div outdeg(u)` per destination.
    * `eRound` must be the cached edge frame (src, dst, outdeg) —
    * clustered by `dst` in the broadcast regime (the agg is then
    * partition-local: scan + broadcast probe + local agg, ZERO
    * shuffles) or by `src` in the shuffle-hash regime (the join
    * co-partitions on src, the agg pays the one map-side-combined
    * dst exchange). Package-private so the plan spec pins the exact
    * production shape, like [[Hits.halfStep]].
    */
  private[graft] def contribStep(eRound: DataFrame, rank: DataFrame,
      bcast: Boolean): DataFrame = {
    val rankSide = rank.withColumnRenamed("node", "src")
    eRound.join(
        if (bcast) broadcast(rankSide) else rankSide.hint("shuffle_hash"),
        Seq("src"))
      .groupBy(col("dst")).agg(sum(expr("r div outdeg")).as("sc"))
      .withColumnRenamed("dst", "node")
  }

  /** @param edges directed (src, dst) pairs; feed both directions for
    *              an undirected graph.
    * @param distinctEdges set when the input is already pair-distinct —
    *              skips a full-width dedup shuffle of the edge list
    *              (the setup, not the rounds, dominates this operator)
    * @param everyNodeHasOutEdge set when no node is sink-only (always
    *              true for undirected graphs) — derives the node set
    *              from the out-degree frame instead of a
    *              union-distinct over both edge endpoints
    * @param everyNodeHasInEdge set when no node is source-only (always
    *              true for undirected graphs) — every node then
    *              receives contributions each round, so the per-round
    *              rebase join against the node set (which exists to
    *              hand isolated-in-degree nodes their base rank) is
    *              skipped entirely: one join and one broadcast fewer
    *              per round. CONTRACT, not checked: setting it on a
    *              graph that does have source-only nodes silently
    *              DROPS those nodes from the result (they never appear
    *              as a dst), rather than merely perturbing their rank
    * @param broadcastThreshold node-count ceiling for the broadcast
    *              regime; above it the rank frame is shuffle-hash
    *              joined against src-partitioned edges instead
    *              (billion-node graphs can't broadcast their rank
    *              vector, but they can still avoid re-sorting edges)
    * @param convergeCheckEvery c ≥ 1: the [[Fixpoint]] cadence. Every
    *              c-th round is cut, and each cut before the last
    *              stops the run if it left every rank UNCHANGED (see
    *              `rounds`; r12 verdict #4 — wasted rounds are real
    *              money at 100× scale). A checked round costs a
    *              materialize and a probe job where lazy rounds batch
    *              ~free, so c is the cost dial: c = 1 reads the
    *              tightest `rounds_run`, c ≈ 4 suits graphs where the
    *              check rivals a round's own cost, and c =
    *              `iterations` checks nothing.
    * @return (node, micro_rank, rounds_run) — micro_rank/10⁶ ≈ N·rank
    *         after `iterations` rounds; rounds_run is the first
    *         checked round at a fixed point, else `iterations`.
    */
  def microPageRank(
      edges: DataFrame,
      iterations: Int,
      distinctEdges: Boolean = false,
      everyNodeHasOutEdge: Boolean = false,
      everyNodeHasInEdge: Boolean = false,
      broadcastThreshold: Long = BroadcastThreshold,
      convergeCheckEvery: Int): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val e0 = edges.select(col("src"), col("dst"))
    // Setup is ONE shuffle + ONE job: cluster the raw edges by src,
    // then dedup, out-degree, and the degree-widening are all
    // partition-local — HashPartitioning(src) satisfies the clustered
    // distribution of the (src, dst) dedup aggregate, of the src
    // window that counts degrees, and of every round's src join. (The
    // previous form paid three edge-set shuffles: distinct, groupBy,
    // join-back — at sf0.1 that setup rivaled all eight rounds.)
    val clustered = e0.repartition(col("src"))
    val eDist =
      if (distinctEdges) clustered else clustered.dropDuplicates("src", "dst")
    val e = eDist.withColumn("outdeg",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("src"))).cast("long"))
      .persist()
    val edgeCount = e.count()
    val nodes = (if (everyNodeHasOutEdge)
        e.select(col("src").as("node")).distinct() // exchange-free over cache
      else e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()).persist()
    // regime pick: the rank frame is broadcast when the node set fits
    // an executor. nodes <= 2·edges always, so a small edge count
    // proves broadcastability without a second probe job; only bigger
    // graphs (where an extra O(nodes) pass is amortized by round cost)
    // pay the precise count.
    val bcast = 2 * edgeCount <= broadcastThreshold ||
      nodes.count() <= broadcastThreshold
    // broadcast regime: the join constrains nothing (the rank frame
    // broadcasts), so stream the edge cache clustered by the OUTPUT
    // key dst — HashPartitioning(dst) satisfies the contribution
    // agg's clustered distribution and a round runs with ZERO
    // shuffles: scan + broadcast probe + partition-local agg (the
    // HITS half-step lesson, measured 4-5× there). One extra setup
    // shuffle of the edge cache buys every round's agg exchange.
    val eRound = if (bcast) e.repartition(col("dst")).persist() else e
    val rank = nodes.withColumn("r", lit(1000000L)).localCheckpoint(true)
    if (bcast) {
      // nodes' cache and rank's checkpoint are already materialized
      // (the eager checkpoint above scanned them), so eRound is the
      // loop's ONLY remaining edge consumer: materialize it and drop
      // the src-clustered cache — the run then holds one edge copy,
      // not two, for all `iterations` rounds (ADVICE r12)
      eRound.count()
      e.unpersist()
    }
    val (last, roundsRun) = rounds(rank, iterations, convergeCheckEvery) { rank =>
      // one pass over the cached edges: R(u) div outdeg(u) evaluates
      // per edge row (constant per src — identical to pre-dividing),
      // partial aggregation map-side-combines before the dst shuffle
      // (shuffle-hash regime) or stays partition-local (broadcast)
      val contribs = contribStep(eRound, rank, bcast)
      // rebase join (general regime only): both sides are node-hash-
      // partitioned already (nodes via its distinct, contribs via the
      // dst-clustered cache), so the join is co-partitioned shuffle-
      // hash with zero exchanges — no per-round broadcast build
      (if (everyNodeHasInEdge) contribs
        else nodes.join(
          if (bcast) contribs.hint("shuffle_hash") else contribs,
          Seq("node"), "left"))
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(sc, 0L)) div 100")).as("r"))
    }
    Seq(e, eRound, nodes).distinct.foreach(_.unpersist())
    last.select(col("node"), col("r").as("micro_rank"),
      lit(roundsRun).as("rounds_run"))
  }

  /** Both PageRanks' rounds on [[Fixpoint]] at cadence `every`. A
    * checked round (a cut before the last) joins its predecessor's
    * rank as `_pr`: both sides are node-hash-partitioned (contribution
    * agg / rebase output vs the previous round's frame), so the join
    * is a co-partitioned zero-exchange shuffle-hash, and the cut keeps
    * that partitioning for the next round's joins. The probe is then
    * a limit-1 read of the cut that stops at the first changed rank.
    * Exact integer arithmetic makes "rank_i == rank_{i−1}" a
    * deterministic predicate, and a round is a pure function of the
    * previous rank frame, so a fixed point at any checked round pins
    * every later round: the early result is bit-identical to the full
    * run.
    */
  private def rounds(init: DataFrame, iterations: Int, every: Int)(
      step: DataFrame => DataFrame): (DataFrame, Int) =
    Fixpoint.run(init, iterations, every,
      Some((_, cut) => cut.filter(col("r") =!= col("_pr")).isEmpty)) { (state, i) =>
      val rank = state.select(col("node"), col("r"))
      val next = step(rank)
      if (i % every == 0 && i < iterations)
        next.join(rank.hint("shuffle_hash").withColumnRenamed("r", "_pr"),
          Seq("node"))
      else next
    }

  /** Personalized PageRank: restart mass flows only to the SEED set —
    * the "relevance to these nodes" centrality behind
    * related-document ranking and seed-expansion labeling (which
    * suppliers/docs are most connected to this contaminated/curated
    * seed set). Same fixed-point integer contract as
    * [[microPageRank]] with the base term seed-gated:
    *
    *   R₀(v)  = 1_{v∈S} · 10⁶
    *   R'(v)  = 1_{v∈S} · 150000 + (85 · Σ_{u→v} R(u) div outdeg(u)) div 100
    *
    * — every step long arithmetic, bit-reproducible on any engine
    * (see microPageRank's scaladoc for why floats are a trap here).
    * Nodes unreached after `iterations` rounds surface with rank 0.
    * `convergeCheckEvery` and `rounds_run` are microPageRank's.
    *
    * Scale shape: identical to microPageRank's rounds (cached
    * src-clustered edges + broadcast/shuffle-hash rank frame), plus
    * ONE broadcast of the seed flag to build the per-node base frame
    * at setup — seeds are small by nature; the base join replaces the
    * rebase join microPageRank needs in its general regime.
    */
  def microPersonalizedPageRank(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int,
      everyNodeHasOutEdge: Boolean = false,
      broadcastThreshold: Long = BroadcastThreshold,
      convergeCheckEvery: Int): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).dropDuplicates("src", "dst")
      .withColumn("outdeg",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("src"))).cast("long"))
      .persist()
    val edgeCount = e.count()
    // the microPageRank node-set shortcut: no sink-only nodes (always
    // true for undirected graphs) → exchange-free distinct over the
    // src-clustered cache instead of a union-distinct that shuffles
    // both endpoint columns of the whole edge list
    val nodes = if (everyNodeHasOutEdge)
      e.select(col("src").as("node")).distinct()
    else e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val flag = seeds.select(col("node")).distinct()
      .withColumn("_s", lit(1L))
    val base = nodes.join(broadcast(flag), Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("_s"), lit(0L)) * 150000L).as("base"))
      .persist()
    val bcast = 2 * edgeCount <= broadcastThreshold ||
      base.count() <= broadcastThreshold
    // broadcast regime: dst-clustered edge cache → partition-local
    // per-round contribution agg, zero shuffles (see microPageRank)
    val eRound = if (bcast) e.repartition(col("dst")).persist() else e
    val rank = base
      .select(col("node"),
        when(col("base") > 0L, lit(1000000L)).otherwise(lit(0L)).as("r"))
      .localCheckpoint(true)
    if (bcast) {
      // same single-edge-copy discipline as microPageRank: base's
      // cache is populated (rank's eager checkpoint scanned it), so
      // only the dst-clustered copy is consumed in-loop
      eRound.count()
      e.unpersist()
    }
    val (last, roundsRun) = rounds(rank, iterations, convergeCheckEvery) { rank =>
      val contribs = contribStep(eRound, rank, bcast)
      // both sides are already node-hash-partitioned (base via the
      // distinct that built the node set, contribs via the
      // dst-clustered cache its partition-local agg streamed from),
      // so the rebase is a co-partitioned shuffle-hash join with ZERO
      // exchanges — a broadcast here would round-trip the contribs
      // frame through the driver once per round for nothing
      base.join(
          if (bcast) contribs.hint("shuffle_hash") else contribs,
          Seq("node"), "left")
        .select(col("node"),
          (col("base") + expr("(85 * coalesce(sc, 0L)) div 100")).as("r"))
    }
    Seq(e, eRound, base).distinct.foreach(_.unpersist())
    last.select(col("node"), col("r").as("micro_rank"),
      lit(roundsRun).as("rounds_run"))
  }
}
