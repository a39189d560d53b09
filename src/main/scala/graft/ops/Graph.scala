package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Link-graph analytics for corpus curation.
  *
  * Web-scale training corpora weight and filter sources by graph
  * centrality over the host/domain link graph (Common Crawl publishes
  * harmonic-centrality and PageRank rankings for exactly this purpose;
  * the reference has no graph surface — beyond-reference capability,
  * same family as the connected-components ops in [[Dedup]]).
  *
  * All ranks are computed in INTEGER nano-units ("ppb": the whole graph
  * starts with 1e9 per node) with floor division at every step, so the
  * fixpoint iteration is exactly replayable in any engine that has
  * 64-bit integer division — the same cross-engine determinism trick as
  * the basis-point quantization in [[Corpus.bm25TopK]]. Doubles never
  * enter the loop; there is nothing to drift.
  *
  * 100 TB posture: the edge list is the big input and is touched once
  * per iteration by one equi-join on `src` (hash-partitioned, no text
  * or payload carried — two longs per row). Rank state is |V| rows
  * (hosts/domains, orders of magnitude smaller than documents). The
  * iteration count is fixed and small (classic 3–20), the driver sees
  * only per-round row counts, and nothing is collected.
  */
object Graph {

  /** PageRank with fixed iteration count, integer (parts-per-billion)
    * arithmetic.
    *
    * Per node v: r0(v) = 1e9;
    * r_{i+1}(v) = (100-dampingPct)*1e9/100
    *            + dampingPct * (Σ_{(u,v)∈E} r_i(u) div outdeg(u)) div 100
    * with `div` = floor integer division. Dangling nodes (no out-edges)
    * simply evaporate their mass — deterministic on both engines; feed a
    * symmetrized graph if you want none (the gated query does).
    *
    * @param edges directed edge list; duplicate edges count as parallel
    *              edges (pre-`distinct` upstream if unwanted)
    * @return (node, rank_ppb: Long) for every node appearing in edges
    */
  def pageRankPpb(edges: DataFrame, src: String, dst: String,
      iterations: Int = 3, dampingPct: Int = 85): DataFrame = PinScope { pins =>
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations (fixed small counts " +
        "are the point of the integer formulation)")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be a percentage, got $dampingPct")

    // persist e too: deg/ed/nodes scan it 4x, and the caller's edge
    // BUILD (typically a join+distinct) would re-execute each time
    // (measured at sf0.1: q171 5.5 -> 5.2 s, q171c 8.1 -> 5.5 s warm)
    val e = pins.cache(edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst")))
    val (ed, nodes) = rankInputs(pins, e, count(lit(1)))
    val basePpb = (100L - dampingPct) * 1000000000L / 100L
    // contribution of u to each successor: floor(r(u) / outdeg(u)) —
    // exact in any 64-bit engine; the remainder mass evaporates
    // identically everywhere.
    rankLoop(pins, ed, expr("rank_ppb div norm"),
      nodes.select(col("node"), lit(basePpb).as("b")),
      nodes.select(col("node"), lit(1000000000L).as("rank_ppb")),
      nodes.count(), iterations, dampingPct)
  }

  /** (ed, nodes) for [[rankLoop]]: the edge list `e` (src, dst, ...)
    * joined with its per-source normaliser `norm` (out-degree or
    * weight sum), and the node set, all cached. Deliberately a plain
    * shuffled join per round: rounds re-execute the prior chain, but
    * sort-shuffle files are REUSED (skipped stages), so the marginal
    * cost per round is one |E|-row exchange of (dst, contrib) longs
    * (~8 B/edge measured). A broadcast-ranks + dst-partitioned-edges
    * variant was measured 2.6x SLOWER at 1x and 1.4x at 100x (PLANS.md
    * round-8): broadcast builds forfeit shuffle reuse across the
    * iteration chain. */
  private def rankInputs(pins: PinScope, e: DataFrame,
      norm: Column): (DataFrame, DataFrame) = {
    val deg = pins.cache(e.groupBy("src").agg(norm.as("norm")))
    val nodes = pins.cache(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    (pins.cache(e.join(deg, "src")), nodes)
  }

  /** The round loop of all three PageRank ops:
    * r_{i+1}(v) = b(v) + dampingPct · (Σ_{(u,v)} contrib(u, v)) div 100,
    * with `teleport` (node, b) holding exactly one row per node and
    * `init` (node, rank_ppb) the starting ranks. Returns the last
    * round's pin.
    *
    * r17 OPTIMIZATION (opt guide §2.4, §3.1; A/B
    * scripts/ab_pagerank_r17.scala, bit-identical, min-of-5
    * interleaved 3.95 s → 3.60 s at sf0.1): the rank-side join
    * strategy is picked DELIBERATELY from the measured |V| `nV` — a
    * checkpointed rank frame carries no stats, so the planner
    * defaulted every round to a sort-merge join that reshuffled and
    * re-sorted the |E| frame; while the rank vector fits the session
    * broadcast threshold (64 B/row conservative) it broadcasts and
    * |E| stays put, past that the shuffled join is kept. Each round
    * unions the teleport rows (node, c = 0, b) into the contribution
    * aggregation, so sum(c) recovers the contribution mass and sum(b)
    * the teleport term — one exchange per round, no per-round LEFT
    * join against the node set. (This is NOT the r8
    * "broadcast-ranks + dst-partitioned-edges" variant that measured
    * 2.6x slower: edges keep their persisted layout and the shuffled
    * path is untouched when |V| is large.)
    */
  private def rankLoop(pins: PinScope, ed: DataFrame, contrib: Column,
      teleport: DataFrame, init: DataFrame, nV: Long, iterations: Int,
      dampingPct: Int): DataFrame = {
    val bcastOk = BroadcastGuard.fits(ed.sparkSession, nV,
      BroadcastGuard.RowBytesNarrow)
    var ranks = init
    var i = 0
    while (i < iterations) {
      val ranked = ranks.withColumnRenamed("node", "src")
      ranks = pins.pin(ed.join(if (bcastOk) broadcast(ranked) else ranked, "src")
        .select(col("dst").as("node"), contrib.as("c"), lit(0L).as("b"))
        .unionByName(teleport.select(col("node"), lit(0L).as("c"), col("b")))
        .groupBy("node").agg(sum(col("c")).as("s"), sum(col("b")).as("b"))
        .select(col("node"),
          (col("b") + expr(s"($dampingPct * s) div 100")).as("rank_ppb")))
      i += 1
    }
    ranks
  }

  /** Edge-WEIGHTED PageRank, integer parts-per-billion — the form a
    * real host graph runs (links carry counts; a host linking once and
    * a host linking ten thousand times are not the same endorsement).
    * Each node's rank splits across out-edges proportional to integer
    * edge weight: contribution u→v = floor(r(u)·w(u,v) / Σw(u)) —
    * still pure 64-bit floor arithmetic, still replayable bit-for-bit
    * in any engine (the unweighted op is the w ≡ 1 special case).
    * Same round loop as [[pageRankPpb]]: one |E|-row equi-join +
    * bounded agg per round, each round pinned.
    *
    * Overflow bound: r ≤ ~|V|·1e9 and the product r·w must stay under
    * 2^63 — fine for w up to ~1e4 on million-node graphs; rescale
    * weights if yours are larger (only ratios matter).
    *
    * Non-positive/null weights are dropped (an edge that carries no
    * endorsement is no edge); duplicate (src, dst) rows ADD their
    * weights — the natural multigraph collapse.
    */
  def pageRankWeightedPpb(edges: DataFrame, src: String, dst: String,
      weight: String, iterations: Int = 3,
      dampingPct: Int = 85): DataFrame = PinScope { pins =>
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be a percentage, got $dampingPct")
    // persist the COLLAPSED edge frame: unlike pageRankPpb's plain
    // select, e here is a groupBy over the caller's edge build, and
    // wsum/ed/nodes would otherwise re-execute that upstream 4x
    // (measured on q171d: 7.1 -> 4.4 s warm at sf0.1)
    val e = pins.cache(edges.select(col(src).cast("long").as("src"),
        col(dst).cast("long").as("dst"),
        col(weight).cast("long").as("w"))
      .filter(col("w").isNotNull && col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
    val (ed, nodes) = rankInputs(pins, e, sum(col("w")))
    val basePpb = (100L - dampingPct) * 1000000000L / 100L
    rankLoop(pins, ed, expr("(rank_ppb * w) div norm"),
      nodes.select(col("node"), lit(basePpb).as("b")),
      nodes.select(col("node"), lit(1000000000L).as("rank_ppb")),
      nodes.count(), iterations, dampingPct)
  }

  /** HITS hub/authority scores (Kleinberg 1999) as exact integer PATH
    * COUNTS: h₀ ≡ 1, then per round a = Aᵀh, h = A·a — deliberately
    * WITHOUT the usual per-round normalization (whose L2/L1 division
    * would reintroduce engine-dependent rounding), so after i rounds
    * auth(v) counts the alternating back-forward paths of length 2i−1
    * ending at v and every value hash-gates bit-for-bit. Rankings are
    * identical to normalized HITS (normalization is a positive scalar
    * per round); only magnitudes differ.
    *
    * Overflow bound: values grow by ≤ d_in·d_out per round —
    * iterations is capped at 4 and callers on graphs with degree
    * products beyond ~2^15 per round should stop at 2–3 (scores ≤
    * |V|·(d_in·d_out)^i must stay under 2^63); the require message
    * restates this.
    *
    * 100 TB posture: identical loop shape to [[pageRankPpb]] — two
    * |E|-row equi-joins + bounded aggs per round over (long, long)
    * rows, per-round localCheckpoint, nothing collected.
    *
    * @return (node, auth, hub) for every node in the edge list
    */
  def hitsCounts(edges: DataFrame, src: String, dst: String,
      iterations: Int = 2): DataFrame = PinScope { pins =>
    require(iterations >= 1 && iterations <= 4,
      s"iterations must be in [1, 4], got $iterations (unnormalized " +
        "integer HITS grows by ~d_in*d_out per round; keep the product " +
        "under 2^63)")
    // r17 OPTIMIZATION: measured-|V| broadcast-or-shuffle rank join +
    // zero-row union instead of the per-half-step nodes LEFT join (the
    // [[hitsMilliLoop]] restructure); one exchange per half-step
    // instead of two, |E| frame never reshuffled while the rank vector
    // fits the broadcast threshold. Bit-identical integer sums.
    val spark = edges.sparkSession
    val e = pins.cache(edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst")))
    val nodes = pins.cache(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val nV = nodes.count()
    val bcastOk = BroadcastGuard.fits(spark, nV, BroadcastGuard.RowBytesNarrow)
    def halfStep(prev: DataFrame, prevC: String, joinKey: String,
        outKey: String, outC: String): DataFrame = {
      val ranked = prev.withColumnRenamed("node", joinKey)
      pins.pin(e.join(if (bcastOk) broadcast(ranked) else ranked, joinKey)
        .select(col(outKey).as("node"), col(prevC).as("x"))
        .unionByName(nodes.select(col("node"), lit(0L).as("x")))
        .groupBy(col("node")).agg(sum(col("x")).as(outC)))
    }
    var hub = nodes.select(col("node"), lit(1L).as("h"))
    var auth = nodes.select(col("node"), lit(0L).as("a"))
    var i = 0
    while (i < iterations) {
      auth = halfStep(hub, "h", "src", "dst", "a")
      hub = halfStep(auth, "a", "dst", "src", "h")
      i += 1
    }
    auth.join(hub, Seq("node"))
      .select(col("node"), col("a").as("auth"), col("h").as("hub"))
  }

  /** HITS with per-round truncating MILLI-rescale — the
    * convergence-depth form of [[hitsCounts]], whose raw integer path
    * counts overflow past ~4 rounds (growth ≤ d_in·d_out per round).
    * After each half-step the vector renormalizes to
    * v ← (v·1000) div max(v) (all values non-negative, so floor and
    * trunc coincide and any 64-bit engine replays it bit-for-bit —
    * the [[Linalg.topEigenMilli]] trick applied graph-side). The
    * argmax node pins each vector's scale at exactly 1000, so rounds
    * compose without growth and `iterations` can reach
    * convergence-grade depth.
    *
    * Overflow bound (restated for the rescaled form): post-rescale
    * values are ≤ 1000, so a raw half-step sum is ≤ 1000·max_degree
    * and the rescale multiply tops out at 1000·1000·max_degree —
    * overflow needs a single node of degree ~9.2e12, far beyond any
    * real link graph (vs ~d_in·d_out compounding PER ROUND unscaled).
    *
    * 100 TB posture: identical loop shape to [[hitsCounts]] — two
    * |E|-row equi-joins + bounded aggs per round; the per-round max is
    * a 1-row broadcast, not a collect.
    *
    * @return (node, auth_milli, hub_milli), each in [0, 1000]
    */
  def hitsMilli(edges: DataFrame, src: String, dst: String,
      iterations: Int = 6): DataFrame =
    hitsMilliLoop(edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst"), lit(1L).as("w")), iterations)

  /** Edge-WEIGHTED [[hitsMilli]] — endorsement mass scales with the
    * integer edge weight (auth += h(u)·w(u,v), hub += a(v)·w(u,v)),
    * the form a real host-link graph runs (the [[pageRankWeightedPpb]]
    * rationale). w ≡ 1 degenerates to [[hitsMilli]] EXACTLY (same
    * loop). Overflow: post-rescale values ≤ 1000, so a half-step sum
    * is ≤ 1000·(max weighted degree) and the rescale multiply needs
    * max Σw per node under ~9.2e12. Non-positive weights are filtered
    * (edge treated as absent), mirroring [[modularityWeightedMicro]] —
    * a negative weight would break the non-negativity invariant the
    * truncating milli-rescale's floor/trunc equivalence (and the
    * overflow bound) relies on.
    */
  def hitsMilliWeighted(edges: DataFrame, src: String, dst: String,
      weight: String, iterations: Int = 6): DataFrame =
    hitsMilliLoop(edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst"),
      col(weight).cast("long").as("w"))
      .filter(col("w") > 0), iterations)

  /** r17 OPTIMIZATION (opt guide §2.4, §3.1). The pre-r17 half-step was
    * [e ⋈(SMJ) rank → agg → LEFT join nodes → rescale(crossJoin
    * broadcast max) → localCheckpoint]: a checkpointed rank frame
    * carries no stats, so the planner defaulted the rank join to a
    * sort-merge that RESHUFFLED AND RE-SORTED the |E| frame on every
    * one of the 2·iterations half-steps, the nodes LEFT join added a
    * second per-half-step exchange, and the rescale's max() subtree
    * re-ran the un-materialized aggregation. Restructured:
    *   - rank-side join strategy picked DELIBERATELY from a measured
    *     |V| (one bounded count over the persisted nodes frame,
    *     amortized over every half-step): while the rank vector fits
    *     the session broadcast threshold (64 B/row conservative) it is
    *     broadcast and the |E| frame is never reshuffled; past that —
    *     cluster-scale graphs — the shuffled join is kept unchanged.
    *   - the nodes LEFT join is replaced by unioning a zero row per
    *     node into the SAME aggregation ([[hyperBallLoop]]'s trick):
    *     sum picks up the 0 for no-contribution nodes — one exchange
    *     per half-step instead of two.
    *   - the pre-rescale sums are the frame that gets checkpointed, so
    *     the max() and the rescale projection both read materialized
    *     rows instead of re-running the aggregation subtree.
    * Results are bit-identical (same integer sums and floor rescale;
    * A/B-verified row-for-row at sf0.1, scripts/ab_hitsmilli_r17.scala:
    * min-of-5 interleaved 16.6 s → 8.6 s).
    */
  private def hitsMilliLoop(edgesW: DataFrame,
      iterations: Int): DataFrame = PinScope { pins =>
    require(iterations >= 1 && iterations <= 30,
      s"iterations must be in [1, 30], got $iterations")
    val spark = edgesW.sparkSession
    val e = pins.cache(edgesW)
    val nodes = pins.cache(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val nV = nodes.count()
    val bcastOk = BroadcastGuard.fits(spark, nV, BroadcastGuard.RowBytesNarrow)
    def halfStep(prev: DataFrame, prevC: String, joinKey: String,
        outKey: String, outC: String): DataFrame = {
      val ranked = prev.withColumnRenamed("node", joinKey)
      val summed = pins.pin(e.join(if (bcastOk) broadcast(ranked) else ranked, joinKey)
        .select(col(outKey).as("node"), (col(prevC) * col("w")).as("x"))
        .unionByName(nodes.select(col("node"), lit(0L).as("x")))
        .groupBy(col("node")).agg(sum(col("x")).as("x")))
      summed.crossJoin(broadcast(summed.agg(max(col("x")).as("m"))))
        .select(col("node"),
          when(col("m") === 0, lit(0L))
            .otherwise(expr("(x * 1000) div m")).as(outC))
    }
    var hub: DataFrame = nodes.select(col("node"), lit(1000L).as("h"))
    var auth: DataFrame = null
    var i = 0
    while (i < iterations) {
      auth = halfStep(hub, "h", "src", "dst", "a")
      hub = halfStep(auth, "a", "dst", "src", "h")
      i += 1
    }
    auth.join(hub, Seq("node"))
      .select(col("node"), col("a").as("auth_milli"),
        col("h").as("hub_milli"))
  }

  /** Personalized PageRank, integer parts-per-billion: the teleport
    * mass returns to a SEED SET instead of spreading uniformly — the
    * crawl-seeding / topic-expansion form (rank pages relative to a
    * trusted seed list; TrustRank's shape). Same floor-division
    * determinism contract as [[pageRankPpb]]: the seed share of each
    * round's teleport is (100−dampingPct)·1e9·|V| div (100·|S|) per
    * seed node — all 64-bit integer arithmetic, replayable anywhere.
    *
    * Nodes unreachable from the seed set converge to rank 0 (they get
    * no teleport and no inflow) — exactly the screening signal: a host
    * cluster with ~zero personalized rank has no trusted path into it.
    *
    * 100 TB posture: the round loop of [[pageRankPpb]] — one |E|-row
    * equi-join + one bounded agg per round; the seed frame is |S| rows
    * joined once up front.
    */
  def personalizedPageRankPpb(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, node: String,
      iterations: Int = 3, dampingPct: Int = 85): DataFrame = PinScope { pins =>
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be a percentage, got $dampingPct")
    // same e-persist rationale as pageRankPpb: 4 scans of the caller's
    // edge build otherwise
    val e = pins.cache(edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst")))
    val (ed, nodes) = rankInputs(pins, e, count(lit(1)))
    val s0 = seeds.select(col(node).cast("long").as("node")).distinct()
    // teleport: the whole graph's (100-d)% share concentrated on seeds
    val seeded = pins.cache(nodes.join(s0, Seq("node"), "left_semi"))
    val counts = nodes.agg(count(lit(1)).as("nv"))
      .crossJoin(seeded.agg(count(lit(1)).as("ns"))).first()
    val (nv, ns) = (counts.getLong(0), counts.getLong(1))
    require(ns > 0, "seed set shares no node with the edge list")
    // (100−d)·1e9·nv wraps a plain Long once nv passes ~6·10⁸ nodes
    // (r8 advice) — a real range for web-scale link graphs, so the
    // product goes through BigInt; the floor-division semantics (and
    // therefore the oracle) are unchanged, and the RESULT fits a Long
    // again (per-seed base ≤ 1e9·nv/ns ≤ 1e9·nv, guarded below)
    val basePpbBig = BigInt(100L - dampingPct) * BigInt(1000000000L) *
      BigInt(nv) / (BigInt(100L) * BigInt(ns))
    require(basePpbBig.isValidLong,
      s"per-seed teleport mass overflows Long: nv=$nv ns=$ns")
    val basePpb = basePpbBig.toLong
    // teleport (node, b): b = basePpb on seeds, 0 elsewhere, built once
    val baseFull = pins.cache(nodes.join(
        seeded.select(col("node"), lit(basePpb).as("b")), Seq("node"), "left")
      .select(col("node"), coalesce(col("b"), lit(0L)).as("b")))
    rankLoop(pins, ed, expr("rank_ppb div norm"), baseFull,
      baseFull.select(col("node"), col("b").as("rank_ppb")), nv,
      iterations, dampingPct)
  }

  /** Shared CONDUCTANCE spelling, floor-micro: φ(c) = cut(c) /
    * min(vol(c), 2m − vol(c)) with cut = d_c − 2·e_c and vol = d_c —
    * all exact integers into one IEEE division. A community spanning
    * the whole graph has no cut side: φ ≡ 0 by convention (the min
    * is 0 there). Low φ = well-separated community; pairs with the
    * modularity term as the second standard community-quality axis.
    */
  def conductanceTermExpr(e: String, d: String, m: String): String =
    s"CAST(CASE WHEN ($d) = 0 OR ($d) = 2 * ($m) THEN 0 ELSE " +
      s"FLOOR(1000000.0 * CAST(($d) - 2 * ($e) AS DOUBLE) / " +
      s"CAST(CASE WHEN ($d) < 2 * ($m) - ($d) THEN ($d) " +
      s"ELSE 2 * ($m) - ($d) END AS DOUBLE)) END AS BIGINT)"

  /** Shared Newman-modularity term spelling, floor-micro: per
    * community, floor(1e6 · (e_c/m − (d_c/2m)²)). Inputs are exact
    * integers (within-community edge count, degree sum, edge total),
    * the doubles ride one spelled-once IEEE expression, and the
    * community sum is integer addition — the psiTermExprOf contract,
    * so Q_micro replays bit-for-bit cross-engine.
    */
  def modularityTermExpr(e: String, d: String, m: String): String =
    s"CAST(FLOOR(1000000.0 * (CAST($e AS DOUBLE) / CAST($m AS DOUBLE)" +
      s" - (CAST($d AS DOUBLE) / (2.0 * CAST($m AS DOUBLE)))" +
      s" * (CAST($d AS DOUBLE) / (2.0 * CAST($m AS DOUBLE))))) AS BIGINT)"

  /** Newman MODULARITY of a community assignment over an UNDIRECTED
    * graph, per community in exact floor-micro units — the standard
    * "are these communities real" score (Q = Σ_c e_c/m − (d_c/2m)²;
    * ≈0 random, >0.3 strong structure, negative = anti-community).
    * Pairs with [[labelPropagate]]/connected components as the quality
    * gate on whatever partition they produced.
    *
    * Edges are canonicalized to distinct unordered pairs (self-loops
    * dropped); nodes missing from `labels` score as singleton
    * communities labeled by their own id. Plan shape: one distinct
    * over edges, two broadcast-or-hash label joins, bounded per-label
    * aggs, the |E| total as a 1-row broadcast — nothing collected,
    * nothing global.
    *
    * @param labels (node, label) assignment
    * @return (label, n_nodes, e_within, d_sum, term_micro) per
    *         community; Q_micro = SUM(term_micro)
    */
  def modularityMicro(edges: DataFrame, src: String, dst: String,
      labels: DataFrame, node: String, label: String): DataFrame =
    modularityLoop(edges.select(
        least(col(src).cast("long"), col(dst).cast("long")).as("a"),
        greatest(col(src).cast("long"), col(dst).cast("long")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct().withColumn("w", lit(1L)),
      labels, node, label)

  /** Edge-WEIGHTED [[modularityMicro]] — e_c, d_c, m become integer
    * weight sums (the generalized Newman Q over weighted graphs; the
    * form a trade/link graph with per-pair interaction counts runs).
    * Duplicate (a, b) rows' weights ADD; w ≡ 1 on a deduped edge list
    * degenerates to the unweighted op exactly.
    */
  def modularityWeightedMicro(edges: DataFrame, src: String, dst: String,
      weight: String, labels: DataFrame, node: String,
      label: String): DataFrame =
    modularityLoop(edges.select(
        least(col(src).cast("long"), col(dst).cast("long")).as("a"),
        greatest(col(src).cast("long"), col(dst).cast("long")).as("b"),
        col(weight).cast("long").as("w"))
      .filter(col("a") =!= col("b") && col("a").isNotNull &&
        col("w") > 0)
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w")),
      labels, node, label)

  private def modularityLoop(edgesW: DataFrame, labels: DataFrame,
      node: String, label: String): DataFrame = PinScope { pins =>
    val e0 = pins.cache(edgesW)
    val lab = labels.select(col(node).cast("long").as("n"),
      col(label).cast("string").as("lbl"))
    val nodes = e0.select(col("a").as("n"))
      .union(e0.select(col("b").as("n"))).distinct()
    val labeled = pins.cache(nodes.join(lab, Seq("n"), "left")
      .select(col("n"),
        coalesce(col("lbl"), col("n").cast("string")).as("lbl")))
    // r17 OPTIMIZATION (opt guide §3.1): labeled is |V| rows of
    // (long, short string) joined three times on three different keys
    // (n, a, b) -- each join re-exchanged it and the planner had no
    // stats to pick broadcast. Measure |V| once (the count also
    // materializes the persist every consumer needs) and broadcast
    // while it fits the session threshold; past it the shuffled joins
    // are unchanged. Identical sums either way.
    val sparkS = edgesW.sparkSession
    val nL = labeled.count()
    val bcastL = BroadcastGuard.fits(sparkS, nL, BroadcastGuard.RowBytesLabeled)
    def lSide(df: DataFrame): DataFrame = if (bcastL) broadcast(df) else df
    val m = e0.agg(sum(col("w")).as("m"))
    val deg = e0.select(col("a").as("n"), col("w"))
      .union(e0.select(col("b").as("n"), col("w")))
      .groupBy(col("n")).agg(sum(col("w")).as("deg"))
    val dSum = deg.join(lSide(labeled), Seq("n"))
      .groupBy(col("lbl"))
      .agg(sum(col("deg")).as("d_sum"), count(lit(1)).as("n_nodes"))
    val eWithin = e0
      .join(lSide(labeled.select(col("n").as("a"), col("lbl").as("la"))), Seq("a"))
      .join(lSide(labeled.select(col("n").as("b"), col("lbl").as("lb"))), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(sum(col("w")).as("e_within"))
    pins.pin(dSum.join(eWithin, Seq("lbl"), "left")
      .select(col("lbl").as("label"), col("n_nodes"),
        coalesce(col("e_within"), lit(0L)).as("e_within"), col("d_sum"))
      .crossJoin(broadcast(m))
      .withColumn("term_micro",
        expr(modularityTermExpr("e_within", "d_sum", "m")))
      .withColumn("conductance_micro",
        expr(conductanceTermExpr("e_within", "d_sum", "m")))
      .drop("m"))
  }

  /** Semi-supervised label propagation with clamped seeds (the label-
    * spreading shape corpus pipelines use to extend a small labeled
    * slice — topic, quality tier, spam verdict — over a similarity or
    * interaction graph). Votes flow src → dst; each round every
    * unseeded node takes the majority label of its labeled in-
    * neighbors (count desc, then lexicographically smallest label —
    * fully deterministic, no scores, no doubles); seed labels never
    * change. Newly labeled nodes vote in later rounds, so labels
    * spread one hop per iteration.
    *
    * 100 TB posture: same loop skeleton as [[pageRankPpb]] — one
    * equi-join of the (persisted) edge list against the current
    * assignment plus one bounded aggregation per round; the assignment
    * is |V| rows; the driver collects nothing.
    *
    * @param seeds (node, label) — the clamped labeled slice
    * @return (node, label, seeded) for every node reachable within
    *         `iterations` hops of a seed (unreached nodes are absent)
    */
  def labelPropagate(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, node: String, label: String,
      iterations: Int = 2): DataFrame = PinScope { pins =>
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    val e = pins.cache(edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst")))
    val s0 = pins.cache(seeds.select(col(node).cast("long").as("node"),
      col(label).cast("string").as("label")).distinct())
    // r17 kept, r18 trimmed (opt guide §2.4, §3.1): the window argmax is
    // min(struct(-n_votes, label)) — same winner (count desc, then
    // lexicographically smallest label) through the aggregation itself,
    // dropping the window's extra exchange + sort per round (identical
    // assignments either way). The r17 measured-size broadcast guard is
    // GONE: unlike the checkpointing loops this loop runs no mid-loop
    // action, so the whole propagation is ONE plan and AQE's runtime
    // SMJ→BHJ conversion already picks the join strategy from real
    // shuffle sizes — the guard's up-front s0.count() +
    // distinct(dst).count() was a full extra pass over the edge list
    // per invocation for a decision AQE makes for free (the r17 judge
    // measured the guard as a stable ~1.3x regression on q175).
    var assigned = s0.withColumn("seeded", lit(true))
    var i = 0
    while (i < iterations) {
      val voters = assigned.withColumnRenamed("node", "src")
      val votes = e.join(voters, "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
      val winners = votes
        .groupBy(col("node"))
        .agg(min(struct((-col("n_votes")).as("neg"), col("label"))).as("w"))
        .select(col("node"), col("w.label").as("label"),
          lit(false).as("seeded"))
      // seeds clamp: an inferred label never overrides a seed
      assigned = s0.withColumn("seeded", lit(true))
        .unionByName(winners.join(s0.select("node"), Seq("node"), "left_anti"))
      i += 1
    }
    pins.pin(assigned)
  }

  /** k-core peeling — the link-farm / spam-cluster screen (a dense
    * core that survives repeated peeling is the classic web-spam
    * signal; singleton-ish hosts fall out in the first rounds). Each
    * round drops every node with fewer than k distinct neighbors and
    * all its edges. `rounds` >= 1 gives the fixed-depth approximation
    * of the true k-core; `rounds = -1` peels until the edge set stops
    * shrinking — the exact k-core fixpoint (gated as q180b against an
    * oracle unrolled past the fixture's measured convergence depth).
    * Degrees are integers; the result is engine-exact.
    *
    * The input is treated as undirected: edges are symmetrized and
    * de-duplicated internally, so degree = distinct-neighbor count.
    *
    * 100 TB posture: per round one bounded aggregation (degrees) and
    * one double semi-join of the shrinking edge list against the
    * surviving-node set; the edge list only ever shrinks, and the
    * driver sees nothing.
    *
    * @return (node, degree) for nodes surviving `rounds` peels, with
    *         their degree in the peeled graph
    */
  def kCorePeel(edges: DataFrame, src: String, dst: String,
      k: Int, rounds: Int = 3,
      maxFixpointRounds: Int = 1000): DataFrame = PinScope { pins =>
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds == -1 || (rounds >= 1 && rounds <= 50),
      s"rounds must be in [1, 50] or -1 (peel to fixpoint), got $rounds")
    require(maxFixpointRounds >= 1,
      s"maxFixpointRounds must be >= 1, got $maxFixpointRounds")
    val sym = edges.select(col(src).cast("long").as("src"),
        col(dst).cast("long").as("dst"))
    val e0 = pins.cache(sym.union(sym.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct())
    // r17 OPTIMIZATION (opt guide §2.4, §3.1): the keep set is derived
    // from an aggregation over a checkpointed edge list, so it carries
    // no stats and the planner defaulted both per-round semi-joins to
    // sort-merge — TWO full |E|-row exchanges plus four sorts per
    // round. The surviving-node set is at most |V| rows of one long;
    // while a measured |V| (one bounded distinct-count, amortized over
    // every round — the node set only shrinks) fits the session
    // broadcast threshold, broadcast both semi-joins and the edge list
    // is never reshuffled. Past the threshold the shuffled plan is
    // kept unchanged. Identical surviving set either way.
    val nV = e0.select(col("src")).distinct().count()
    val bcastOk = BroadcastGuard.fits(edges.sparkSession, nV,
      BroadcastGuard.RowBytesNarrow)
    val core = peel(pins, "kCorePeel", e0, e0.count(), rounds,
        maxFixpointRounds) { e =>
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= k).select(col("src").as("node"))
      def keepSide(as: String) = {
        val r = keep.withColumnRenamed("node", as)
        if (bcastOk) broadcast(r) else r
      }
      e.join(keepSide("src"), Seq("src"), "left_semi")
        .join(keepSide("dst"), Seq("dst"), "left_semi")
    }
    pins.pin(core.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree")))
  }

  /** The peel control shared by [[kCorePeel]] and [[kTruss]]: applies
    * `step` to the edge frame `e0` for `rounds` rounds, or, at
    * `rounds = -1`, until the surviving edge count stops changing (the
    * exact fixpoint; `n0` is |e0|, read only then). Convergence needs
    * at most |V| rounds for a k-core and |E| for a k-truss (each
    * non-final round removes at least one node or edge); the per-round
    * count is the fixpoint test, and a graph still shrinking after
    * `maxFixpointRounds` rounds aborts loudly instead of looping on.
    *
    * EVERY round cuts lineage with an eager pin, NOT persist: persist
    * caches execution but the LOGICAL plan still nests — a k-core round
    * references the previous round's plan 3× (the edge frame plus the
    * two semi-join sides), so an unbounded loop grows the tree 3^i and
    * Catalyst analysis hangs long before execution does (hit at ~12
    * rounds). The pin also WINS on wall clock even at bounded depth:
    * later rounds and the final aggregation read materialized blocks
    * instead of re-traversing the nested chain — measured 2× at 100×
    * edges, ~12% at sf0.1 (PLANS.md round-9 k-core stress table). In
    * fixed-depth mode the pin is the round's only materialization.
    */
  private def peel(pins: PinScope, op: String, e0: DataFrame, n0: => Long,
      rounds: Int, maxFixpointRounds: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    val fixpoint = rounds == -1
    var e = e0
    var prevCount = if (fixpoint) n0 else -1L
    var i = 0
    var stable = false
    while (if (fixpoint) !stable else i < rounds) {
      if (fixpoint && i >= maxFixpointRounds)
        throw new IllegalStateException(
          s"$op fixpoint did not converge within $maxFixpointRounds " +
            s"rounds (surviving edges: $prevCount); raise maxFixpointRounds " +
            "if the graph genuinely needs more peels")
      e = pins.pin(step(e))
      if (fixpoint) { val n = e.count(); stable = n == prevCount; prevCount = n }
      i += 1
    }
    e
  }

  /** Capped weighted bipartite projection — collapse a (basket, item)
    * incidence table into an item–item co-occurrence graph: one edge
    * per unordered item pair sharing a basket, weighted by the number
    * of shared baskets. The substrate of item-to-item similarity,
    * query co-click graphs, and the unipartite graphs every centrality
    * op here consumes.
    *
    * The SCALE CONTROL is `maxPerBasket`: a basket of b items emits
    * C(b, 2) pairs, so ONE viral basket (a crawler trap page linking
    * a million hosts, a bot account touching every item) turns the
    * projection quadratic. Each basket is therefore capped to its
    * `maxPerBasket` smallest item ids BEFORE pairing — deterministic
    * (so the op hash-gates; production variants rank by
    * weight/recency instead, same plan), bounding per-basket fan-out
    * at C(maxPerBasket, 2) and total output at |baskets|·C(cap, 2).
    * The cap window is partitioned by basket — no global sort, and
    * per-partition state is one basket's items.
    *
    * 100 TB posture: distinct + cap + self-equi-join on the basket key
    * + one groupBy on the pair — all hash-partitioned; AQE splits hot
    * basket keys. The output graph (items²-bounded, cap-tamed) is the
    * small side downstream.
    */
  def bipartiteProject(df: DataFrame, basket: String, item: String,
      maxPerBasket: Int): DataFrame = {
    require(maxPerBasket >= 2 && maxPerBasket <= 10000,
      s"maxPerBasket must be in [2, 10000], got $maxPerBasket")
    val bi = df.select(col(basket).as("__b"), col(item).cast("long").as("__i"))
      .filter(col("__b").isNotNull && col("__i").isNotNull)
      .distinct()
    val capped = bi.withColumn("__rn",
        row_number().over(Window.partitionBy(col("__b")).orderBy(col("__i"))))
      .filter(col("__rn") <= maxPerBasket)
      .select(col("__b"), col("__i"))
    capped.select(col("__b"), col("__i").as("__x"))
      .join(capped.select(col("__b"), col("__i").as("__y")), Seq("__b"))
      .filter(col("__x") < col("__y"))
      .groupBy(col("__x").as("item_a"), col("__y").as("item_b"))
      .agg(count(lit(1)).as("w"))
  }

  /** Exact triangle census with per-node counts and local clustering
    * coefficient (the link-farm / community-density signal: organic
    * neighborhoods close triangles, spam link rings and scraped
    * mirror-nets show extreme coefficients in either direction).
    *
    * Algorithm: degree-ordered edge orientation (the classic
    * compact-forward / Cohen MapReduce formulation). Every undirected
    * edge is oriented from its lower-rank endpoint to its higher-rank
    * endpoint under the total order rank(v) = (deg(v), v); each
    * triangle then has exactly ONE vertex with two out-edges, so the
    * wedge self-join emits each triangle once and no dedup pass is
    * needed. The orientation is also the scale guarantee: out-degree
    * under the degree order is O(sqrt(|E|)) even on power-law graphs,
    * so the wedge join's fan-out is bounded — the naive formulation
    * (join on every shared endpoint) is quadratic in the max hub
    * degree and melts on exactly the graphs this op screens.
    *
    * Everything is 64-bit integer arithmetic; the clustering
    * coefficient is emitted in floor basis points
    * (`cc_bp = 20000·T(v) div (deg·(deg−1))`, i.e. 2T/(deg choose 2)
    * scaled to 1e4) so the result is bit-identical in any engine.
    *
    * 100 TB posture: two equi-joins over the oriented edge list (one
    * u-keyed self-join, one (x,y)-keyed closing join) plus bounded
    * per-node aggregations; shuffled rows carry 2–3 longs; the driver
    * collects nothing. Input normalization (self-loop drop, undirected
    * dedup) costs one distinct.
    *
    * @param edges edge list, either orientation, duplicates/self-loops
    *              tolerated (normalized away)
    * @return (node, deg, triangles, cc_bp) for every node in the
    *         normalized graph; cc_bp null when deg < 2
    */
  def triangleCount(edges: DataFrame, src: String,
      dst: String): DataFrame = PinScope { pins =>
    val e0 = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val deg = pins.cache(e0.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    // orient low-rank → high-rank, rank = (deg, node); carry the head's
    // degree so the wedge filter below needs no extra join
    val oriented = pins.cache(e0
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"),
          col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv")))
    // wedges (x, y) around pivot u with rank(x) < rank(y): the closing
    // edge of pair {x, y}, if present, is oriented exactly x → y
    val wedges = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("dv").as("dy")), "u")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("u"), col("x"), col("y"))
    val tris = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    val perNode = tris
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    pins.pin(deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_bp", when(col("deg") >= 2,
        expr("(20000 * triangles) div (deg * (deg - 1))"))))
  }

  /** Link prediction scores for non-adjacent node pairs: common-
    * neighbor count and Adamic–Adar (Σ 1/ln deg(u) over shared
    * neighbors u) — the classic similarity signals used to densify a
    * sparse interaction graph before clustering / label propagation,
    * or to flag "should-be-linked" near-duplicates two hops apart.
    *
    * Determinism contract: each shared neighbor's Adamic–Adar
    * contribution is floor-quantized to integer nano-units by ONE
    * expression string ([[aaGainExpr]]) parsed identically by Spark
    * and DuckDB, then summed as BIGINT — association-order-free, the
    * [[Corpus.driftKlTermExpr]] pattern.
    *
    * Scale contract: wedge enumeration through a pivot of degree d
    * yields d·(d−1)/2 pairs, so hub pivots are quadratic to expand —
    * and contribute the least evidence (1/ln d vanishes; that is the
    * whole point of Adamic–Adar's weighting). `maxPivotDeg` therefore
    * drops hub pivots BEFORE the self-join, the same
    * documented-contract cap as the jaccard maxDf: the result is
    * exact on the thresholded graph. `minCommon` prunes the output to
    * pairs with real support.
    *
    * `numParts` bounds PER-TASK memory at the wedge (x, y) aggregation
    * — the stage that concentrates the densest pivot neighborhoods and
    * peaked at 646 MiB/task in the r8 100× stress. The default −1
    * AUTO-SIZES from the exact wedge count Σ deg·(deg−1)/2 over capped
    * pivots (one bounded agg on the already-needed degree frame):
    * ~500 k wedge rows per task ≈ a low-hundreds-MiB fixed-width-longs
    * task, clamped to 4096, and DISABLED when the derived width does
    * not exceed the session shuffle parallelism — small-SF plans are
    * bit-identical and the 100 TB shape engages by itself (the q154b
    * [[Corpus.dedupSpansRewrite]] knob, same calibration idea).
    * 0 forces off; >0 overrides.
    *
    * @return (x, y, cn, aa_nano) per candidate pair, x < y, pair NOT
    *         an existing edge, cn >= minCommon
    */
  def linkPredict(edges: DataFrame, src: String, dst: String,
      maxPivotDeg: Int = 1000, minCommon: Int = 2,
      numParts: Int = -1): DataFrame = PinScope { pins =>
    require(maxPivotDeg >= 2, s"maxPivotDeg must be >= 2, got $maxPivotDeg")
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val e0 = pins.cache(edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct())
    val adj = e0.select(col("a").as("u"), col("b").as("v"))
      .union(e0.select(col("b").as("u"), col("a").as("v")))
    val deg = pins.cache(adj.groupBy(col("u")).agg(count(lit(1)).as("deg")))
    val parts =
      if (numParts >= 0) numParts
      else {
        val sessionParts = edges.sparkSession.conf
          .get("spark.sql.shuffle.partitions", "200").toInt
        val wedges = Option(deg.filter(col("deg") <= maxPivotDeg)
            .agg(sum(expr("deg * (deg - 1) div 2"))).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val want = (wedges / 500000L).toInt
        if (want <= sessionParts) 0 else math.min(want, 4096)
      }
    val small = adj.join(deg.filter(col("deg") <= maxPivotDeg), "u")
    val wedgeRows = small.select(col("u"), col("v").as("x"), col("deg"))
      .join(small.select(col("u"), col("v").as("y")), "u")
      .filter(col("x") < col("y"))
    val parted = if (parts > 0)
      wedgeRows.repartition(parts, col("x"), col("y")) else wedgeRows
    val scores = parted
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cn"), sum(expr(aaGainExpr)).as("aa_nano"))
      .filter(col("cn") >= minCommon)
    pins.pin(scores.join(
      e0.select(col("a").as("x"), col("b").as("y")),
      Seq("x", "y"), "left_anti"))
  }

  /** Floor-nano Adamic–Adar gain of one shared neighbor of degree
    * `deg` — one string, parsed by both engines. Pivots always have
    * deg >= 2 (they neighbor two distinct nodes), so ln > 0.
    */
  def aaGainExpr: String =
    "CAST(FLOOR(1000000000.0 / LN(CAST(deg AS DOUBLE))) AS BIGINT)"

  /** Degree profile of a directed edge list: per-node out/in degree and
    * total — the cheap first look at any crawl graph (spam hosts show
    * up as degree outliers before any iteration is run). One pass,
    * two bounded aggregations.
    */
  def degreeStats(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst"))
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("total_deg", col("out_deg") + col("in_deg"))
  }

  /** Shared Newman degree-assortativity spelling, floor-micro:
    * r = (S1·Se − S2²) / (S1·S3 − S2²) over the degree moment sums
    * S1 = Σd, S2 = Σd², S3 = Σd³, Se = 2·Σ_{(u,v)∈E} d_u·d_v — all
    * exact 64-bit integers into one IEEE division (a degenerate
    * denominator — regular graphs, where every degree is equal —
    * yields 0 by convention).
    */
  def assortativityExpr(s1: String, s2: String, s3: String,
      se: String): String =
    s"CAST(CASE WHEN ($s1) * ($s3) - ($s2) * ($s2) = 0 THEN 0 ELSE " +
      s"FLOOR(1000000.0 * CAST(($s1) * ($se) - ($s2) * ($s2) AS DOUBLE)" +
      s" / CAST(($s1) * ($s3) - ($s2) * ($s2) AS DOUBLE)) END AS BIGINT)"

  /** Degree ASSORTATIVITY of an undirected graph in exact floor-micro
    * — Newman's degree-degree Pearson correlation, the standard
    * web-graph health statistic (social graphs are assortative r > 0;
    * the web and most crawl host graphs are disassortative r < 0 —
    * hubs link to leaves; a crawl whose r flips sign changed shape).
    * Edges canonicalize to distinct unordered pairs; one degree
    * aggregation, one 1-row moment aggregate, one edge join against
    * degrees — nothing global, nothing collected.
    *
    * Overflow bound: S3 = Σd³ needs max degree under ~2e6 at a billion
    * nodes (Σd³ ≤ |V|·d_max³ < 2^63); re-quantize degrees (e.g. d/10)
    * beyond — only ratios matter.
    *
    * @return one row (n_nodes, n_edges, s1, s2, s3, se,
    *         assortativity_micro)
    */
  def assortativityMicro(edges: DataFrame, src: String,
      dst: String): DataFrame = PinScope { pins =>
    val e0 = pins.cache(edges.select(
        least(col(src).cast("long"), col(dst).cast("long")).as("a"),
        greatest(col(src).cast("long"), col(dst).cast("long")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull)
      .distinct())
    val deg = pins.cache(e0.select(col("a").as("n"))
      .union(e0.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d")))
    val moments = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("d")).as("s1"),
      sum(col("d") * col("d")).as("s2"),
      sum(col("d") * col("d") * col("d")).as("s3"))
    val se = e0
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .agg(count(lit(1)).as("n_edges"),
        (sum(col("da") * col("db")) * 2).as("se"))
    pins.pin(moments.crossJoin(broadcast(se))
      .withColumn("assortativity_micro",
        expr(assortativityExpr("s1", "s2", "s3", "se")))
      .select(col("n_nodes"), col("n_edges"), col("s1"), col("s2"),
        col("s3"), col("se"), col("assortativity_micro")))
  }

  /** Bounded-depth harmonic centrality — THE crawl-ranking metric:
    * Common Crawl publishes its host/domain rankings by harmonic
    * centrality (computed with HyperBall), and corpus pipelines weight
    * sources by exactly this number. Centrality of v is
    * Σ_{u≠v} 1/d(u, v); this op truncates the sum at `maxDepth` hops
    * (the heads of the 1/d series carry almost all the mass — the
    * standard practical cut) and emits INTEGER micro-units:
    * harmonic_micro(v) = Σ_d (10⁶ div d) · |{u : d(u,v) = d}| — exact
    * BFS set arithmetic, bit-identical in any engine.
    *
    * Algorithm: simultaneous BFS over IN-edges (who can reach v —
    * centrality measures being linked TO; pass `directed = false` to
    * symmetrize). Per round: one equi-join of the frontier pair set
    * (v, u) against the edge list, one anti-join against the reached
    * set, one distinct — all keyed shuffles. Lineage is cut with an
    * eager localCheckpoint per round (the kCorePeel 3^i analysis-blowup
    * lesson), and the loop exits early when a frontier empties.
    *
    * 100 TB posture, stated honestly: the EXACT pair set is
    * Σ_v |ball_maxDepth(v)| rows — fine for fixture- and
    * million-node-scale graphs, quadratic on a web graph. At web scale
    * the swap is HyperBall (Boldi–Vigna 2013): replace the exact
    * (v, u) pair set with one HLL register array per node, union
    * registers along in-edges per round, and read |ball_d| off the
    * counter — same loop skeleton, sketch instead of set, which is
    * precisely how Common Crawl's published numbers are produced.
    *
    * @return (node, harmonic_micro, n_reached) — n_reached counts
    *         nodes within maxDepth (excluding the node itself)
    */
  def harmonicCentralityMicro(edges: DataFrame, src: String, dst: String,
      maxDepth: Int = 3, directed: Boolean = false): DataFrame = PinScope { pins =>
    val (start, levels) = bfsLevels(pins, edges, src, dst, maxDepth, directed)
    var acc = start.select(col("v"), lit(0L).as("h"), lit(0L).as("n"))
    for (((next, _), i) <- levels.zipWithIndex) {
      val w = 1000000L / (i + 1)
      acc = acc.unionByName(next.groupBy(col("v"))
        .agg(count(lit(1)).as("n"))
        .select(col("v"), (col("n") * w).as("h"), col("n")))
    }
    pins.pin(acc.groupBy(col("v").as("node"))
      .agg(sum(col("h")).as("harmonic_micro"), sum(col("n")).as("n_reached")))
  }

  /** The simultaneous BFS behind [[harmonicCentralityMicro]] and
    * [[neighborhoodFunctionExact]], over IN-edges (symmetrized unless
    * `directed`): level d holds the (v, u) pairs with u at exact
    * distance d from v. Returns level 0 (every node paired with
    * itself) and the non-empty levels 1..maxDepth with their row
    * counts; the walk stops at the first empty level.
    *
    * Each level is pinned once; `reached` is the cheap union of those
    * already-materialized frames (≤ maxDepth deep) — a per-round
    * re-pin of `reached` would rewrite the whole accumulated pair set
    * every round, tripling the materialized bytes (measured 11 s →
    * 6.5 s on the sf0.1 part graph).
    */
  private def bfsLevels(pins: PinScope, edges: DataFrame, src: String,
      dst: String, maxDepth: Int, directed: Boolean)
      : (DataFrame, Seq[(DataFrame, Long)]) = {
    require(maxDepth >= 1 && maxDepth <= 10,
      s"maxDepth must be in [1, 10], got $maxDepth")
    val e0 = edges.select(col(src).cast("long").as("esrc"),
        col(dst).cast("long").as("edst"))
      .filter(col("esrc") =!= col("edst"))
    val e = pins.cache((if (directed) e0
             else e0.union(e0.select(col("edst").as("esrc"), col("esrc").as("edst"))))
      .distinct())
    val start = pins.pin(e.select(col("esrc").as("node"))
      .union(e.select(col("edst").as("node"))).distinct()
      .select(col("node").as("v"), col("node").as("u")))
    // r17 OPTIMIZATION (opt guide §3.1): the frontier is pinned (no
    // stats), so the per-round expansion join defaulted to a
    // sort-merge that reshuffled and re-sorted BOTH the pair frontier
    // and the edge list every round. The edge list is the bounded side
    // here (the pair set is Σ|ball| ≥ |E| on dense fixtures); measure
    // |E| once (the frame is cached, the count is amortized over
    // maxDepth rounds) and broadcast it while it fits the session
    // threshold — the frontier then never reshuffles for the
    // expansion. Past the threshold the shuffled plan is unchanged.
    val bcastE = BroadcastGuard.fits(edges.sparkSession, e.count(),
      BroadcastGuard.RowBytesNarrow)
    val levels = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, Long)]
    var frontier = start
    var reached = start
    var emptied = false
    while (levels.size < maxDepth && !emptied) {
      val expanded = frontier.join(if (bcastE) broadcast(e) else e,
          frontier("u") === e("edst"))
        .select(col("v"), col("esrc").as("u")).distinct()
      val next = pins.pin(expanded.join(reached, Seq("v", "u"), "left_anti"))
      val n = next.count()
      if (n == 0L) emptied = true
      else {
        levels += ((next, n))
        reached = reached.union(next)
        frontier = next
      }
    }
    (start, levels.toSeq)
  }

  // --- HyperBall tier (NEW r10) --------------------------------------

  /** Deterministic 64-bit finalizer (the public-domain SplitMix64
    * mixing sequence) — the FIXED node hash behind HyperBall registers.
    * Same input → same registers on every run and every engine; the
    * sketch result is therefore deterministic even though it is an
    * approximation.
    */
  private[graft] def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Register-wise max of HLL register arrays — the HLL UNION, which is
    * what makes HyperBall work: |A ∪ B| merges in O(m) independent of
    * |A|, |B|. A typed [[Aggregator]] so Spark runs it with map-side
    * partial aggregation (hub nodes with millions of in-neighbors merge
    * locally before the shuffle — the 100 TB shape).
    */
  private[graft] class RegMax(m: Int)
      extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](m)
    override def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] =
      merge(b, a)
    override def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = {
      if (x == null) return y
      if (y == null) return x
      var i = 0
      while (i < m) { if (y(i) > x(i)) x(i) = y(i); i += 1 }
      x
    }
    override def finish(b: Array[Byte]): Array[Byte] = b
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Standard HLL cardinality estimate (Flajolet et al. 2007 alpha_m
    * bias correction + linear counting below 2.5m). Doubles appear ONLY
    * here, in one fixed-order loop over the registers; the one libm
    * call goes through StrictMath so the estimate is bit-identical
    * across JVMs/platforms (JDK 17 fp arithmetic is always-strict, but
    * Math.log may use platform intrinsics — StrictMath may not). The
    * gate compares the estimate to the EXACT op within an error bound
    * rather than hashing the estimate cross-engine.
    */
  private[graft] def hllEstimate(regs: Array[Byte]): Long = {
    val m = regs.length
    var zeros = 0
    var sumInv = 0.0
    var i = 0
    while (i < m) {
      sumInv += 1.0 / (1L << regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha =
      if (m == 16) 0.673
      else if (m == 32) 0.697
      else if (m == 64) 0.709
      else 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * m * m / sumInv
    val est =
      if (raw <= 2.5 * m && zeros > 0) m * StrictMath.log(m.toDouble / zeros)
      else raw
    math.round(est)
  }

  /** Exact neighborhood function N(d) = Σ_v |ball_d(v)| (the number of
    * node pairs within distance d, self included) — same simultaneous-
    * BFS skeleton as [[harmonicCentralityMicro]] but only the per-depth
    * GLOBAL totals leave the loop, so the result is maxDepth+1 rows.
    * The classic derived statistic is the EFFECTIVE DIAMETER (smallest
    * d where N(d) reaches q% of N(maxDepth), linearly interpolated —
    * Boldi–Vigna's "four degrees of separation" number), computed by
    * [[effectiveDiameterMicro]] on this output in exact floor-micro
    * integers.
    *
    * Same scale caveat as the exact harmonic op: the pair set is
    * quadratic on dense graphs — [[neighborhoodFunctionHyperBall]] is
    * the sketch tier with per-round cost |E|·2^p instead.
    *
    * @return (d, n_pairs) for d = 0..maxDepth, n_pairs exact
    */
  def neighborhoodFunctionExact(edges: DataFrame, src: String, dst: String,
      maxDepth: Int = 3, directed: Boolean = false): DataFrame = PinScope { pins =>
    val (start, levels) = bfsLevels(pins, edges, src, dst, maxDepth, directed)
    val totals = levels.scanLeft(start.count())(_ + _._2)
    val s = edges.sparkSession
    import s.implicits._
    totals.padTo(maxDepth + 1, totals.last).zipWithIndex.map(_.swap)
      .toDF("d", "n_pairs")
  }

  /** Sketch-tier neighborhood function: the same HyperBall loop as
    * [[harmonicCentralityHyperBall]], emitting the per-depth GLOBAL
    * Σ_v est|ball_d(v)| instead of per-node centralities. Per-round
    * cost is |E|·2^p — independent of ball mass — which is exactly how
    * the web-scale "degrees of separation" numbers are produced.
    * Deterministic for the same reasons (fixed hash, integer
    * registers, StrictMath estimate); global sums concentrate, so the
    * relative error is far below the per-node HLL bound.
    *
    * @return (d, n_pairs_est) for d = 0..maxDepth
    */
  def neighborhoodFunctionHyperBall(edges: DataFrame, src: String,
      dst: String, maxDepth: Int = 3, directed: Boolean = false,
      p: Int = 10): DataFrame = PinScope { pins =>
    val (_, sums) = hyperBallLoop(pins, edges, src, dst, maxDepth,
      directed, p, collectSums = true)
    val s = edges.sparkSession
    import s.implicits._
    sums.toDF("d", "n_pairs_est")
  }

  /** Effective diameter at `qBp` basis points (e.g. 9000 = 90%) from a
    * neighborhood-function frame `(d, n_pairs[...])`: the smallest d
    * with N(d) >= target, linearly interpolated inside the step in
    * exact floor-micro integers — deterministic in any 64-bit engine.
    * One tiny (maxDepth+1)-row computation; `valueCol` selects the
    * exact or estimated count column.
    */
  def effectiveDiameterMicro(nf: DataFrame, valueCol: String,
      qBp: Int = 9000): DataFrame = {
    require(qBp >= 1 && qBp <= 10000, s"qBp must be in [1, 10000], got $qBp")
    val last = nf.agg(max(col("d")).as("dmax"))
    val tgt = nf.join(broadcast(last), col("d") === col("dmax"))
      .select((col(valueCol) * qBp).as("target_x10k"))
    val w = Window.orderBy(col("d"))
    val steps = nf.select(col("d"), col(valueCol).as("n"))
      .withColumn("n_prev", lag(col("n"), 1).over(w))
      .crossJoin(broadcast(tgt))
      .filter(col("n") * 10000 >= col("target_x10k") &&
        (col("n_prev").isNull || col("n_prev") * 10000 < col("target_x10k")))
    // floor-integer interpolation (div, not /): exact in any 64-bit
    // engine. (delta·1e6) div (step·1e4) == (delta·100) div step — the
    // common factor 1e4 cancels exactly under floor division — and the
    // reduced form bounds the product at delta·100 ≤ step·1e6, so the
    // first overflow is at a per-depth pair-count STEP of ~9.2e12
    // (trillions of new pairs in one depth), not the ~9.2e8 the
    // unreduced multiply allowed
    steps.selectExpr(
      "CAST(CASE WHEN n_prev IS NULL THEN 0 ELSE " +
        "(d - 1) * 1000000 + ((target_x10k - n_prev * 10000) * 100)" +
        " div (n - n_prev) END AS BIGINT) AS eff_diameter_micro")
  }

  /** HyperBall harmonic centrality (Boldi–Vigna 2013) — the WEB-SCALE
    * tier of [[harmonicCentralityMicro]], and how Common Crawl actually
    * produces its published host rankings. The exact op's (v, u) pair
    * set is Σ_v |ball_d(v)| rows — quadratic on a web graph; HyperBall
    * replaces it with ONE fixed-size HLL register array per node
    * (m = 2^p bytes) and unions registers along in-edges per round:
    *
    *   C_d(v) = C_{d-1}(v) ∪ ⋃_{(u,v)∈E} C_{d-1}(u)
    *
    * so |ball_d(v)| reads off the counter and the per-round shuffle is
    * |E| register arrays — INDEPENDENT of ball sizes. Same loop
    * skeleton as the exact op (per-round eager localCheckpoint, the
    * kCorePeel 3^i lesson); registers come from the fixed [[splitmix64]]
    * hash so the sketch is run-to-run deterministic.
    *
    * Cost model (measured, scripts/stress_hyperball.scala): each round
    * moves |E|·2^p bytes through ONE partial-aggregated shuffle, so
    * the sketch only beats the exact pair set once typical |ball|
    * exceeds ~2^p — i.e. exactly on the web-scale graphs whose exact
    * pair volume is infeasible, NOT on sparse fixtures whose depth-3
    * balls hold a handful of nodes (there the exact op is cheaper and
    * is the right tier; q209 keeps it). Known further trim for deep
    * graphs: propagate only nodes whose registers changed last round
    * (Boldi–Vigna's signal propagation) — unimplemented because
    * truncated depth-3 balls change nearly every node every round.
    *
    * harmonic_est_micro(v) = Σ_d (10⁶ div d)·max(0, est_d − est_{d-1})
    * with est_d clamped monotone (registers only grow; the clamp kills
    * the tiny non-monotonicity at the linear-counting → raw-HLL switch).
    *
    * Accuracy: HLL std error ≈ 1.04/√m (~3.3% at the default p = 10);
    * ball sizes at fixture scale sit in the linear-counting range where
    * the error is far smaller. The gated query (q209b) checks every
    * emitted node against the exact op within a stated bound; the spec
    * additionally gates mean relative error across ALL nodes.
    *
    * @param p log2 of the register count (4..14); m = 2^p bytes/node
    * @return (node, harmonic_est_micro, n_reached_est)
    */
  def harmonicCentralityHyperBall(edges: DataFrame, src: String, dst: String,
      maxDepth: Int = 3, directed: Boolean = false,
      p: Int = 10): DataFrame = PinScope { pins =>
    val (state, _) = hyperBallLoop(pins, edges, src, dst, maxDepth,
      directed, p, collectSums = false)
    state.select(col("node"),
      col("h_micro").as("harmonic_est_micro"),
      (col("est") - 1L).as("n_reached_est"))
  }

  /** The shared HyperBall round loop behind
    * [[harmonicCentralityHyperBall]] and
    * [[neighborhoodFunctionHyperBall]]. Returns the final per-node
    * state (node, regs, est, h_micro) and — when `collectSums` — the
    * per-depth global Σ est (one bounded 1-row action per round; the
    * harmonic path skips them).
    */
  private def hyperBallLoop(pins: PinScope, edges: DataFrame, src: String,
      dst: String, maxDepth: Int, directed: Boolean, p: Int,
      collectSums: Boolean): (DataFrame, Seq[(Int, Long)]) = {
    require(maxDepth >= 1 && maxDepth <= 10,
      s"maxDepth must be in [1, 10], got $maxDepth")
    require(p >= 4 && p <= 14, s"p must be in [4, 14], got $p")
    val m = 1 << p
    val e0 = edges.select(col(src).cast("long").as("esrc"),
        col(dst).cast("long").as("edst"))
      .filter(col("esrc") =!= col("edst"))
    val e = pins.cache((if (directed) e0
             else e0.union(e0.select(col("edst").as("esrc"), col("esrc").as("edst"))))
      .distinct())
    val initUdf = udf { (node: Long) =>
      val h = splitmix64(node)
      val idx = (h >>> (64 - p)).toInt
      val rank = math.min(java.lang.Long.numberOfLeadingZeros(h << p) + 1,
        64 - p + 1)
      val a = new Array[Byte](m)
      a(idx) = rank.toByte
      a
    }
    val estUdf = udf { (regs: Array[Byte]) => hllEstimate(regs) }
    val regMax = udaf(new RegMax(m))
    // state: one row per node — registers + monotone ball estimate +
    // accumulated harmonic sum. ball_0 = {v} is exact by construction.
    var state = pins.pin(e.select(col("esrc").as("node"))
      .union(e.select(col("edst").as("node"))).distinct()
      .select(col("node"), initUdf(col("node")).as("regs"),
        lit(1L).as("est"), lit(0L).as("h_micro")))
    // r17 OPTIMIZATION (opt guide §3.1): state rows carry 2^p-byte
    // register arrays, so reshuffling + sorting the state frame for a
    // sort-merge contribution join every round is the worst possible
    // plan — and that is what the planner picked (checkpointed state
    // has no stats). The EDGE list is the narrow side (two longs/row);
    // measure it once and broadcast it while it fits the threshold:
    // the register frame then stays put and only the post-partial-agg
    // registers cross the wire. Past the threshold the shuffled join
    // is kept.
    val bcastE = BroadcastGuard.fits(edges.sparkSession, e.count(),
      BroadcastGuard.RowBytesNarrow)
    val sums = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    def sumEst(d: Int): Unit = if (collectSums)
      sums += ((d, state.agg(coalesce(sum(col("est")), lit(0L)))
        .head().getLong(0)))
    sumEst(0)
    var d = 1
    while (d <= maxDepth) {
      // ONE shuffle per round: neighbor contributions carry zeroed
      // est/h_micro, the node's own row carries the real ones, and
      // max() recovers them through the same aggregation that unions
      // the registers (est >= 1 and h_micro >= 0 always, so max picks
      // the own-row value) — no second per-round join against state.
      val contrib = state.select(col("node"), col("regs"))
        .join(if (bcastE) broadcast(e) else e, col("node") === col("esrc"))
        .select(col("edst").as("node"), col("regs"),
          lit(0L).as("est"), lit(0L).as("h_micro"))
      val w = 1000000L / d
      state = pins.pin(contrib.unionByName(state)
        .groupBy(col("node"))
        .agg(regMax(col("regs")).as("regs"),
          max(col("est")).as("est0"), max(col("h_micro")).as("h0"))
        .withColumn("est", greatest(estUdf(col("regs")), col("est0")))
        .select(col("node"), col("regs"), col("est"),
          (col("h0") + (col("est") - col("est0")) * w).as("h_micro")))
      sumEst(d)
      d += 1
    }
    (state, sums.toSeq)
  }

  /** GNN-style NEIGHBOR FEATURE AGGREGATION — the graph-learning prep
    * step (GraphSAGE's sum/min/max aggregator, two layers, run as plain
    * joins): for every node, hop 1 aggregates the integer feature of
    * its IN-neighbors (deg/sum/min/max over edges u→v contribute
    * feat(u) to v), hop 2 aggregates the hop-1 SUMS and DEGREES of the
    * same in-neighborhood. Deliberately NO division anywhere — means
    * divide deg out downstream if wanted — so every output is an exact
    * integer fold (sums/min/max are association-order-free) and the
    * frame replays bit-for-bit; it also sidesteps the trunc-vs-floor
    * div divergence on negative features (account balances ARE
    * negative sometimes).
    *
    * Nodes with no in-edges keep nulls in the hop columns (isolated-
    * or source-only nodes — a real signal, not a zero).
    *
    * 100 TB posture: two |E|-row equi-joins + partially-aggregated
    * groupBys, the [[hitsCounts]] loop shape at fixed depth 2; feature
    * frame joined once per hop, never broadcast-required.
    *
    * @param feats (node, feat) — integer features (quantize first)
    * @return (node, feat, deg1, sum1, min1, max1, deg2_sum, sum2)
    */
  def neighborAgg(edges: DataFrame, src: String, dst: String,
      feats: DataFrame, nodeCol: String, featCol: String): DataFrame = {
    val e = edges.select(col(src).cast("long").as("src"),
      col(dst).cast("long").as("dst"))
    val f = feats.select(col(nodeCol).cast("long").as("node"),
      col(featCol).cast("long").as("feat"))
    val h1 = e.join(f.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("deg1"), sum(col("feat")).as("sum1"),
        min(col("feat")).as("min1"), max(col("feat")).as("max1"))
    val h2 = e.join(h1.withColumnRenamed("node", "src"), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(col("deg1")).as("deg2_sum"), sum(col("sum1")).as("sum2"))
    f.join(h1, Seq("node"), "left")
      .join(h2, Seq("node"), "left")
      .select(col("node"), col("feat"), col("deg1"), col("sum1"),
        col("min1"), col("max1"), col("deg2_sum"), col("sum2"))
  }

  /** Degree-oriented triangle TRIPLES over a canonical (a < b, distinct)
    * edge frame — the [[triangleCount]] enumeration factored for reuse:
    * each triangle appears exactly once as (u, x, y). Hub-safe: wedges
    * pivot on the LOWEST-rank endpoint, so a degree-d hub contributes
    * O(d·d_max-of-lower-ranked) wedges, not O(d²).
    */
  private def triangleTriples(e0: DataFrame): DataFrame = {
    val deg = e0.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val oriented = e0
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"),
          col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
    val wedges = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("dv").as("dy")), "u")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("u"), col("x"), col("y"))
    wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
  }

  /** Per-edge triangle SUPPORT over a canonical edge frame: how many
    * triangles contain each edge (the k-truss statistic). */
  private def edgeSupport(e0: DataFrame): DataFrame =
    triangleTriples(e0).select(explode(array(
        struct(least(col("u"), col("x")).as("a"),
          greatest(col("u"), col("x")).as("b")),
        struct(least(col("u"), col("y")).as("a"),
          greatest(col("u"), col("y")).as("b")),
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")))).as("ed"))
      .groupBy(col("ed.a").as("a"), col("ed.b").as("b"))
      .agg(count(lit(1)).as("support"))

  /** K-TRUSS — the EDGE-grade density screen one tier
    * above [[kCorePeel]]'s node degrees (a link farm can fake degree
    * but not triangle support: every edge of a k-truss sits in >= k−2
    * triangles WITHIN the surviving subgraph). Round-synchronous peel,
    * the q180 contract: each round enumerates triangles on
    * the surviving edges (degree-oriented, hub-safe), counts per-edge
    * support, and drops every edge below k−2 SIMULTANEOUSLY. `rounds`
    * >= 1 bounds the depth (the oracle unrolls it exactly);
    * `rounds = -1` peels until the surviving edge count stops
    * shrinking — the exact k-truss fixpoint (the q180b discipline,
    * gated as q251b on a graph where bounded-round and fixpoint
    * DIFFER). The output carries each surviving edge's support
    * recomputed on the FINAL subgraph — the trussness witness.
    *
    * 100 TB posture: per round one triangle enumeration (two keyed
    * joins over the oriented frame) + one support agg + one semi-join;
    * lineage cut per round with an eager localCheckpoint (the q180
    * 3^i-nesting lesson). Fixpoint convergence needs at most |E|
    * rounds (every non-final round removes >= 1 edge); the per-round
    * count() the loop already pays makes the stability test free, and
    * `maxFixpointRounds` aborts loudly on pathological chains.
    *
    * @return (src, dst, support) per surviving canonical edge
    */
  def kTruss(edges: DataFrame, src: String, dst: String, k: Int,
      rounds: Int = 2,
      maxFixpointRounds: Int = 1000): DataFrame = PinScope { pins =>
    require(k >= 3 && k <= 1000, s"k must be in [3, 1000], got $k")
    require(rounds == -1 || (rounds >= 1 && rounds <= 20),
      s"rounds must be in [1, 20] or -1 (peel to fixpoint), got $rounds")
    require(maxFixpointRounds >= 1,
      s"maxFixpointRounds must be >= 1, got $maxFixpointRounds")
    val e0 = pins.cache(edges.select(col(src).cast("long").as("x"),
        col(dst).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct())
    // r17 OPTIMIZATION (opt guide §3.1): the keep set (edges at
    // support >= k-2) is derived per round from the triangle census --
    // no stats, so the semi-join that applies it planned as a
    // sort-merge reshuffle of both edge frames. keep is bounded by the
    // CURRENT edge count, which only shrinks; measure |E| once up
    // front and broadcast the two-long keep set while that bound fits
    // the session threshold. Identical surviving set either way.
    val nE0 = e0.count()
    val bcastK = BroadcastGuard.fits(edges.sparkSession, nE0,
      BroadcastGuard.RowBytesNarrow)
    val truss = peel(pins, "kTruss", e0, nE0, rounds, maxFixpointRounds) { e =>
      val keep = edgeSupport(e).filter(col("support") >= k - 2)
        .select(col("a"), col("b"))
      e.join(if (bcastK) broadcast(keep) else keep, Seq("a", "b"), "left_semi")
    }
    pins.pin(truss.join(edgeSupport(truss), Seq("a", "b"), "left")
      .select(col("a").as("src"), col("b").as("dst"),
        coalesce(col("support"), lit(0L)).as("support")))
  }

  /** ASSOCIATION RULES over basket–item incidences — market-basket
    * mining one step past [[bipartiteProject]]'s co-occurrence counts:
    * each surviving pair emits BOTH directed rules a→b and b→a with
    * support (co-basket count), confidence = support/baskets(a), and
    * lift = support·N / (baskets(a)·baskets(b)), all in floor ppm on
    * non-negative integers (engine-exact). Pair counts come from the
    * CAPPED projection (the viral-basket control); per-item basket
    * counts and N are the TRUE uncapped values — so confidence/lift
    * are conservative (never inflated) when the cap bites, which is
    * the honest direction for a screen.
    *
    * @return (antecedent, consequent, support, n_ante, n_cons,
    *         conf_ppm, lift_ppm) per directed rule at or above
    *         `minSupport`
    */
  def associationRules(df: DataFrame, basket: String, item: String,
      maxPerBasket: Int, minSupport: Long = 2L): DataFrame = PinScope { pins =>
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val pairs = bipartiteProject(df, basket, item, maxPerBasket)
      .filter(col("w") >= minSupport)
    val bi = pins.cache(df.select(col(basket).as("__b"),
        col(item).cast("long").as("__i"))
      .filter(col("__b").isNotNull && col("__i").isNotNull)
      .distinct())
    val itemN = bi.groupBy(col("__i").as("it")).agg(count(lit(1)).as("nb"))
    val total = bi.select(col("__b")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val directed = pairs.select(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("w"))
      .unionByName(pairs.select(col("item_b").as("antecedent"),
        col("item_a").as("consequent"), col("w")))
    pins.pin(directed
      .join(itemN.withColumnRenamed("it", "antecedent")
        .withColumnRenamed("nb", "n_ante"), "antecedent")
      .join(itemN.withColumnRenamed("it", "consequent")
        .withColumnRenamed("nb", "n_cons"), "consequent")
      .crossJoin(broadcast(total))
      .select(col("antecedent"), col("consequent"), col("w").as("support"),
        col("n_ante"), col("n_cons"),
        expr("(w * 1000000) div n_ante").as("conf_ppm"),
        expr("(w * n_baskets * 1000000) div (n_ante * n_cons)")
          .as("lift_ppm")))
  }

  /** Knuth multiplicative mix of a BIGINT id to a 32-bit value, as a
    * Spark SQL expression string — the deterministic pivot-/sample-
    * selection hash. Computed in SPLIT 16-bit halves so every
    * intermediate stays below 2⁴⁸ (exact for the whole BIGINT domain,
    * ANSI-safe, and the identical arithmetic fits DuckDB's int64 —
    * the [[graft.ops.Features]] fold-hash construction without the
    * final range-map step).
    */
  private[graft] def knuthMixExpr(c: String): String = {
    val h = s"pmod(CAST($c AS BIGINT), 4294967296L)"
    s"pmod(pmod(($h div 65536L) * 2654435761L, 65536L) * 65536L" +
      s" + pmod($h, 65536L) * 2654435761L, 4294967296L)"
  }

  /** DuckDB replay of [[knuthMixExpr]] — one construction, both
    * engines, positive-mod spelling for negative-id safety. */
  def knuthMixSql(c: String): String = {
    val h = s"((($c) % 4294967296 + 4294967296) % 4294967296)"
    s"((((($h // 65536) * 2654435761) % 65536) * 65536" +
      s" + ($h % 65536) * 2654435761) % 4294967296)"
  }

  /** [[knuthMixExpr]] on the driver: a product's low 32 bits depend
    * only on its operands' low 32 bits, which is all the halves keep. */
  private[graft] def knuthMix(id: Long): Long = (id * 2654435761L) & 0xFFFFFFFFL

  /** Sampled betweenness centrality — Brandes (2001) dependency
    * accumulation from K deterministic pivot sources, truncated at
    * `maxDepth` hops (bounded-distance / κ-betweenness, the standard
    * practical cut for the same reason [[harmonicCentralityMicro]]
    * truncates: the near field carries the mass). Betweenness is THE
    * brokerage centrality — a node can have low degree and low
    * PageRank yet sit on every shortest path between two communities;
    * for corpus curation that is the "bridge host" a crawler must not
    * drop. Sampling pivots is the published scale recipe
    * (Brandes–Pich 2007): exact per-pivot dependencies, summed over a
    * hash-picked pivot set instead of all sources.
    *
    * Determinism contract, end to end:
    *   - pivots = the K smallest (knuthMix(node), node) pairs — no
    *     RNG, replayable in SQL ([[knuthMixSql]]);
    *   - forward pass: BFS from every pivot with exact integer path
    *     counts σ (overflow throws, as the ANSI BIGINT sum does);
    *   - backward pass: δ_micro(p,v) = Σ over shortest-path-DAG edges
    *     (v,w) of floor(σ_v · (10⁶ + δ_micro(p,w)) / σ_w) — each term
    *     floors INDEPENDENTLY (the product in 128-bit range, so σ near
    *     the int64 edge cannot wrap) and the terms sum as BIGINT:
    *     association-order-free, bit-identical across engines and
    *     partitionings. DAG edges are recovered level-to-level
    *     (dist(w) = dist(v)+1 in an unweighted graph), so no parent
    *     pointers are ever materialized.
    *   - bc_micro(v) = Σ_pivots δ_micro(p, v); running with
    *     pivots = ALL nodes on an undirected graph yields exactly
    *     2 × 10⁶ × the textbook betweenness (each unordered pair seen
    *     from both endpoints).
    *
    * 100 TB posture: two paths with one output (same rows and schema),
    * picked by the distinct edge count against the session broadcast
    * threshold ([[BroadcastGuard.maxRows]]).
    *   - While |E| fits, the pivots are the queries and the graph is
    *     the index: one collect of at most maxRows + 1 edges (|E| fits
    *     iff no more come back) builds a broadcast CSR adjacency, the
    *     driver picks the pivots from its sorted node ids, and each
    *     task runs a plain Brandes pass per pivot (resetting only what
    *     that pivot touched: O(|ball|), not O(|V|)) into per-node sums
    *     the driver merges into a local frame: no cache, pin or join.
    *   - Past the threshold the shuffled level loop runs: per round
    *     (forward and backward) the edge list is touched by ONE
    *     equi-join keyed on the node, frontier rows carry three longs,
    *     and every round is pinned with an eager localCheckpoint (the
    *     kCorePeel lineage-blowup lesson). State is O(K · |ball|) rows
    *     — K bounds the multiplier, exactly the knob the Brandes–Pich
    *     estimator exposes; nothing is collected but per-round counts,
    *     and a pinned per-node sum/count + node left join ends it.
    *
    * @return (node, bc_micro, n_piv) — n_piv = pivots whose truncated
    *         BFS assigned the node a dependency row (0 ≤ n_piv ≤ K);
    *         every graph node appears, untouched nodes with bc 0
    */
  def betweennessSampled(edges: DataFrame, src: String, dst: String,
      k: Int = 16, maxDepth: Int = 4,
      directed: Boolean = false): DataFrame = PinScope { pins =>
    require(k >= 1 && k <= 4096, s"k must be in [1, 4096], got $k")
    require(maxDepth >= 2 && maxDepth <= 10,
      s"maxDepth must be in [2, 10], got $maxDepth")
    val e0 = edges.select(col(src).cast("long").as("esrc"),
        col(dst).cast("long").as("edst"))
      .filter(col("esrc") =!= col("edst"))
    val eAll = (if (directed) e0
        else e0.union(e0.select(col("edst").as("esrc"),
          col("esrc").as("edst"))))
      .distinct()
    val maxRows = math.min(Int.MaxValue - 9L, // the largest Java array, less 1
      BroadcastGuard.maxRows(edges.sparkSession, BroadcastGuard.RowBytesNarrow))
    val pairs = if (maxRows < 0L) Array.empty[(Long, Long)] // off: 0 > maxRows
      else eAll.limit(maxRows.toInt + 1)
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    if (pairs.length <= maxRows) betweennessLocal(eAll, pairs, k, maxDepth)
    else betweennessShuffled(pins, eAll, k, maxDepth)
  }

  /** Out-adjacency in CSR form: `ids` are the sorted distinct node ids,
    * and the out-neighbours of ids(i) are `nbr(off(i) until off(i+1))`,
    * given as indices into `ids`. */
  private final case class Csr(ids: Array[Long], off: Array[Int],
      nbr: Array[Int])

  private object Csr {
    def fromEdges(src: Array[Long], dst: Array[Long]): Csr = {
      val ids = (src ++ dst).distinct.sorted
      val n = ids.length
      val si = src.map(java.util.Arrays.binarySearch(ids, _))
      val off = new Array[Int](n + 1)
      si.foreach(s => off(s + 1) += 1)
      for (i <- 0 until n) off(i + 1) += off(i)
      val fill = off.clone()
      val nbr = new Array[Int](si.length)
      for (j <- si.indices) {
        nbr(fill(si(j))) = java.util.Arrays.binarySearch(ids, dst(j))
        fill(si(j)) += 1
      }
      Csr(ids, off, nbr)
    }
  }

  /** One Brandes dependency term, floor(σ_v · (10⁶ + δ_w) / σ_w), with
    * the product in 128-bit range. Throws where the shuffled path's
    * ANSI BIGINT add and DECIMAL-to-BIGINT cast throw. */
  private def brandesTerm(sv: Long, dw: Long, sw: Long): Long = {
    val m = Math.addExact(1000000L, dw)
    val lo = sv * m
    if (Math.multiplyHigh(sv, m) == 0L && lo >= 0L) lo / sw
    else java.math.BigInteger.valueOf(sv)
      .multiply(java.math.BigInteger.valueOf(m))
      .divide(java.math.BigInteger.valueOf(sw)).longValueExact()
  }

  /** Per-task state of the local path: |V|-sized arrays allocated once,
    * with only the entries a pivot touched reset after it, so each
    * pivot costs O(|ball|). */
  private final class BrandesPass(g: Csr, maxDepth: Int) {
    private val dist = Array.fill(g.ids.length)(-1)
    private val sigma = new Array[Long](g.ids.length)
    private val delta = new Array[Long](g.ids.length)
    // the pivot's ball in BFS order; level d is ball(bound(d) until bound(d+1))
    private val ball = new Array[Int](g.ids.length)
    private val bound = new Array[Int](maxDepth + 2)
    // Σδ and pivot count per node, over every pivot added so far
    val bc = new Array[Long](g.ids.length)
    val nPiv = new Array[Long](g.ids.length)

    /** Adds δ_micro of pivot index `p` to every node at distance 1..top
      * from it, the deepest level with δ = 0. */
    def add(p: Int): Unit = {
      dist(p) = 0; sigma(p) = 1L; ball(0) = p
      bound(0) = 0; bound(1) = 1
      var size = 1
      var top = 0
      var growing = true
      while (growing && top < maxDepth) {
        var i = bound(top)
        while (i < bound(top + 1)) {
          val v = ball(i)
          var j = g.off(v)
          while (j < g.off(v + 1)) {
            val w = g.nbr(j)
            if (dist(w) < 0) {
              dist(w) = top + 1; sigma(w) = sigma(v); ball(size) = w; size += 1
            } else if (dist(w) == top + 1) {
              sigma(w) = Math.addExact(sigma(w), sigma(v))
            }
            j += 1
          }
          i += 1
        }
        if (size > bound(top + 1)) { top += 1; bound(top + 1) = size }
        else growing = false
      }
      var d = top - 1
      while (d >= 1) {
        var i = bound(d)
        while (i < bound(d + 1)) {
          val v = ball(i)
          var acc = 0L
          var j = g.off(v)
          while (j < g.off(v + 1)) {
            val w = g.nbr(j)
            if (dist(w) == d + 1)
              acc = Math.addExact(acc, brandesTerm(sigma(v), delta(w), sigma(w)))
            j += 1
          }
          delta(v) = acc
          i += 1
        }
        d -= 1
      }
      for (i <- 0 until size) {
        val v = ball(i)
        if (i > 0) { bc(v) = Math.addExact(bc(v), delta(v)); nPiv(v) += 1L }
        dist(v) = -1; sigma(v) = 0L; delta(v) = 0L
      }
    }
  }

  /** [[betweennessSampled]] over `pairs`, the whole distinct edge list
    * of `eAll`: each task sends back the sums of the nodes it touched,
    * merged on the driver as they arrive. */
  private def betweennessLocal(eAll: DataFrame, pairs: Array[(Long, Long)],
      k: Int, maxDepth: Int): DataFrame = {
    val sc = eAll.sparkSession.sparkContext
    val g = Csr.fromEdges(pairs.map(_._1), pairs.map(_._2))
    val bc = new Array[Long](g.ids.length)
    val nPiv = new Array[Long](g.ids.length)
    val pivots = g.ids.indices.sortBy(i => (knuthMix(g.ids(i)), g.ids(i)))
      .take(k)
    if (pivots.nonEmpty) {
      val csr = sc.broadcast(g)
      try sc.runJob(sc.parallelize(pivots,
          math.min(pivots.length, sc.defaultParallelism)),
        (it: Iterator[Int]) => {
          val pass = new BrandesPass(csr.value, maxDepth)
          it.foreach(pass.add)
          pass.nPiv.indices.filter(pass.nPiv(_) > 0L)
            .map(v => (v, pass.bc(v), pass.nPiv(v)))
        },
        (_: Int, sums: Seq[(Int, Long, Long)]) => for ((v, b, n) <- sums) {
          bc(v) = Math.addExact(bc(v), b); nPiv(v) += n })
      finally csr.destroy()
    }
    // node is nullable as the shuffled path's union of both edge ends is
    val schema = new StructType()
      .add("node", LongType, eAll.schema.exists(_.nullable))
      .add("bc_micro", LongType, false).add("n_piv", LongType, false)
    eAll.sparkSession.createDataFrame(java.util.Arrays.asList(
      g.ids.indices.map(i => Row(g.ids(i), bc(i), nPiv(i))): _*), schema)
  }

  /** Level-synchronous [[betweennessSampled]] over the shuffled edge
    * list — the path past the broadcast threshold. */
  private def betweennessShuffled(pins: PinScope, eAll: DataFrame, k: Int,
      maxDepth: Int): DataFrame = {
    val e = pins.cache(eAll)
    val nodes = pins.cache(e.select(col("esrc").as("node"))
      .union(e.select(col("edst").as("node"))).distinct())
    val piv = pins.pin(nodes.withColumn("hk", expr(knuthMixExpr("node")))
      .orderBy(col("hk"), col("node")).limit(k)
      .select(col("node").as("p")))
    // ---- forward: levels(d) = (p, v, sigma) at exact distance d ----
    val levels = scala.collection.mutable.ArrayBuffer(
      pins.pin(piv.select(col("p"), col("p").as("v"), lit(1L).as("sigma"))))
    var visited = levels.head.select(col("p"), col("v"))
    var d = 1
    var emptied = false
    while (d <= maxDepth && !emptied) {
      val last = levels.last
      val next = pins.pin(last.join(e, last("v") === e("esrc"))
        .select(col("p"), col("edst").as("v"), col("sigma"))
        .join(visited, Seq("p", "v"), "left_anti")
        .groupBy(col("p"), col("v")).agg(sum(col("sigma")).as("sigma")))
      if (next.isEmpty) emptied = true
      else {
        levels += next
        visited = visited.union(next.select(col("p"), col("v")))
        d += 1
      }
    }
    // ---- backward: deepest level's delta is 0 (truncation bound) ----
    // (depthTop == 0 — pivots with no out-edges — leaves no delta
    // row: every node then gets bc 0 and n_piv 0)
    val depthTop = levels.size - 1
    var below = levels(depthTop)
      .select(col("p"), col("v"), lit(0L).as("delta"))
    val deltaParts = scala.collection.mutable.ArrayBuffer(
      below.filter(lit(depthTop >= 1)))
    var i = depthTop - 1
    while (i >= 1) {
      val lvl = levels(i)
      val terms = lvl.join(e, lvl("v") === e("esrc"))
        .select(col("p"), col("v"), col("sigma"), col("edst").as("w"))
        .join(below.select(col("p"), col("v").as("w"),
            col("delta").as("dw")).join(
            levels(i + 1).select(col("p"), col("v").as("w"),
              col("sigma").as("sw")), Seq("p", "w")),
          Seq("p", "w"))
        .select(col("p"), col("v"),
          expr("""CAST((CAST(sigma AS DECIMAL(38,0)) * (1000000 + dw))
                |  div sw AS BIGINT)""".stripMargin).as("term"))
      val deltaI = pins.pin(lvl.select(col("p"), col("v"))
        .join(terms.groupBy(col("p"), col("v"))
          .agg(sum(col("term")).as("delta")), Seq("p", "v"), "left")
        .na.fill(0L, Seq("delta")))
      deltaParts += deltaI
      below = deltaI
      i -= 1
    }
    // every graph node kept (bc 0, n_piv 0 when no pivot reached it)
    val touched = deltaParts.reduce(_ unionByName _)
      .groupBy(col("v").as("node"))
      .agg(sum(col("delta")).as("bc_micro"), count(lit(1)).as("n_piv"))
    pins.pin(nodes.join(touched, Seq("node"), "left")
      .na.fill(0L, Seq("bc_micro", "n_piv")))
  }
}
