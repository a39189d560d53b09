package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Graph, Linalg}

/** Unit specs for the link-graph (ops.Graph) and embedding-linalg
  * (ops.Linalg) operators. The e2e DuckDB gates are q171/q171b and
  * q172/q172b; these specs pin the kernel math on hand-checkable
  * inputs plus partition-count invariance (the property a distributed
  * Gramian must hold by construction).
  */
class GraphLinalgSpec extends SparkSpec {
  import spark.implicits._

  // --- bipartiteProject ------------------------------------------------

  test("bipartiteProject: weights count shared baskets; incidence dedup") {
    val inc = Seq(
      ("b1", 10L), ("b1", 20L), ("b1", 30L),
      ("b2", 10L), ("b2", 20L),
      ("b2", 20L),              // duplicate incidence row — counts once
      ("b3", 10L), ("b3", 20L)
    ).toDF("b", "i")
    val out = Graph.bipartiteProject(inc, "b", "i", maxPerBasket = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out == Map((10L, 20L) -> 3L, (10L, 30L) -> 1L, (20L, 30L) -> 1L))
  }

  test("bipartiteProject: the cap bounds a viral basket's fan-out deterministically") {
    // basket "hot" holds items 1..100 → uncapped emits C(100,2)=4950
    // pairs; cap=4 keeps the 4 SMALLEST ids, so exactly C(4,2)=6 pairs
    // survive and they are the pairs over {1,2,3,4}
    val hot = (1L to 100L).map(i => ("hot", i))
    val cold = Seq(("c", 200L), ("c", 201L))
    val out = Graph.bipartiteProject((hot ++ cold).toDF("b", "i"), "b", "i",
        maxPerBasket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectHot = (for (x <- 1L to 4L; y <- 1L to 4L if x < y) yield (x, y)).toSet
    assert(out == expectHot + ((200L, 201L)))
    // null basket/item rows drop instead of pairing
    val withNull = Seq((null, 1L), ("b", 2L)).toDF("b", "i")
    assert(Graph.bipartiteProject(withNull, "b", "i", 4).count() == 0L)
    intercept[IllegalArgumentException] {
      Graph.bipartiteProject(inc2, "b", "i", 1)
    }
  }
  private lazy val inc2 = Seq(("b", 1L)).toDF("b", "i")

  // --- pageRankPpb ---------------------------------------------------

  test("pageRankPpb: symmetric 2-node graph stays uniform") {
    // a <-> b: each node's contribution equals its own rank, so the
    // fixpoint is the initial mass exactly: 0.15e9 + 0.85e9 = 1e9
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRankPpb(edges, "src", "dst", iterations = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 1000000000L, 2L -> 1000000000L))
  }

  test("pageRankPpb: star center outranks leaves, hand-checked round") {
    // leaves 2,3,4 -> center 1, center -> 2. One round:
    //   center: 0.15e9 + 85*(3 * 1e9) / 100          = 2700000000
    //   leaf 2: 0.15e9 + 85*(1e9 div 1) div 100      = 1000000000
    //   leaves 3,4 (no in-edges): 150000000
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L)).toDF("src", "dst")
    val r1 = Graph.pageRankPpb(edges, "src", "dst", iterations = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r1 == Map(1L -> 2700000000L, 2L -> 1000000000L,
      3L -> 150000000L, 4L -> 150000000L))
    // more rounds keep the ordering: center stays the top authority
    val r3 = Graph.pageRankPpb(edges, "src", "dst", iterations = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r3(1L) > r3(2L) && r3(2L) > r3(3L) && r3(3L) == r3(4L))
  }

  test("pageRankPpb is partition-count invariant") {
    val edges = (1L to 40L).map(i => (i, i % 7 + 100L)) ++
      (1L to 6L).map(i => (i + 100L, i))
    val df1 = edges.toDF("src", "dst").repartition(1)
    val df7 = edges.toDF("src", "dst").repartition(7)
    val a = Graph.pageRankPpb(df1, "src", "dst", iterations = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    val b = Graph.pageRankPpb(df7, "src", "dst", iterations = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(a == b)
  }

  test("pageRankPpb rejects bad knobs fast") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    assertThrows[IllegalArgumentException] {
      Graph.pageRankPpb(edges, "src", "dst", iterations = 0)
    }
    assertThrows[IllegalArgumentException] {
      Graph.pageRankPpb(edges, "src", "dst", dampingPct = 101)
    }
  }

  test("pageRankWeightedPpb: weighted split, w=1 degenerates to unweighted, weight hygiene") {
    // star 1→2 (w=3), 1→3 (w=1): node 1's rank splits 3:1.
    // round 1: r(2) = base + 85% · floor(1e9·3/4), r(3) = base + 85% · floor(1e9/4)
    val star = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r1 = Graph.pageRankWeightedPpb(star, "src", "dst", "w", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(2L) == 150000000L + 85L * 750000000L / 100L)
    assert(r1(3L) == 150000000L + 85L * 250000000L / 100L)
    assert(r1(1L) == 150000000L)
    // w ≡ 1 equals the unweighted op exactly
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val unw = Graph.pageRankPpb(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = Graph.pageRankWeightedPpb(
      edges.withColumn("w", lit(1L)), "src", "dst", "w", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unw == w1)
    // null/non-positive weights drop the edge; duplicate rows add
    val messy = Seq((1L, 2L, Some(2L)), (1L, 2L, Some(1L)),
      (1L, 3L, Some(0L)), (1L, 4L, None)).toDF("src", "dst", "w")
    val rm = Graph.pageRankWeightedPpb(messy, "src", "dst", "w", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // only 1→2 (w=3) survives: nodes {1,2}, all of 1's mass to 2
    assert(rm.keySet == Set(1L, 2L))
    assert(rm(2L) == 150000000L + 85L * 1000000000L / 100L)
    // partition invariance
    val a = Graph.pageRankWeightedPpb(
      star.repartition(1), "src", "dst", "w", 2)
      .orderBy("node").collect().toSeq
    val b = Graph.pageRankWeightedPpb(
      star.repartition(9), "src", "dst", "w", 2)
      .orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("hitsCounts: hand-unrolled 2-round path counts on a bipartite graph") {
    // 1→10, 2→10, 2→11 with h0≡1:
    // a1 = indeg: 10→2, 11→1; h1: 1→2, 2→3;
    // a2: 10→h1(1)+h1(2)=5, 11→h1(2)=3; h2: 1→5, 2→8
    val e = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val r = Graph.hitsCounts(e, "src", "dst", iterations = 2)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map(1L -> (0L, 5L), 2L -> (0L, 8L),
      10L -> (5L, 0L), 11L -> (3L, 0L)))
    intercept[IllegalArgumentException] {
      Graph.hitsCounts(e, "src", "dst", iterations = 5)
    }
  }

  test("hitsMilli: hand-unrolled rescaled rounds; deep iterations stay bounded") {
    // same graph, h0≡1000:
    // a1 raw: 10→2000, 11→1000; max 2000 → a1: 10→1000, 11→500
    // h1 raw: 1→1000, 2→1500; max 1500 → h1: 1→666, 2→1000
    // a2 raw: 10→666+1000=1666, 11→1000; max 1666 → 10→1000, 11→600
    // h2 raw: 1→1000, 2→1600; max 1600 → 1→625, 2→1000
    val e = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val r = Graph.hitsMilli(e, "src", "dst", iterations = 2)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(r == Map(1L -> (0L, 625L), 2L -> (0L, 1000L),
      10L -> (1000L, 0L), 11L -> (600L, 0L)))
    // depth the unscaled form cannot reach: values stay in [0, 1000]
    val deep = Graph.hitsMilli(e, "src", "dst", iterations = 12)
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    assert(deep.values.forall { case (a, h) =>
      a >= 0L && a <= 1000L && h >= 0L && h <= 1000L })
    // the argmax nodes pin each scale at exactly 1000
    assert(deep.values.exists(_._1 == 1000L))
    assert(deep.values.exists(_._2 == 1000L))
  }

  test("hitsMilliWeighted: w=1 degenerates to hitsMilli; weight shifts authority") {
    val e = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val ew1 = e.withColumn("w", lit(1L))
    val a = Graph.hitsMilli(e, "src", "dst", iterations = 3)
      .orderBy("node").collect().map(_.toSeq).toSeq
    val b = Graph.hitsMilliWeighted(ew1, "src", "dst", "w", iterations = 3)
      .orderBy("node").collect().map(_.toSeq).toSeq
    assert(a == b)
    // a heavy 1->11 edge flips which sink is the top authority
    val ew = Seq((1L, 10L, 1L), (2L, 10L, 1L), (2L, 11L, 1L), (1L, 11L, 50L))
      .toDF("src", "dst", "w")
    val r = Graph.hitsMilliWeighted(ew, "src", "dst", "w", iterations = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r(11L) == 1000L && r(10L) < 1000L)
    // non-positive weights are filtered (edge absent), never folded —
    // a negative weight would break the milli-rescale's non-negativity
    // invariant (floor vs trunc divergence in the DuckDB replay)
    val ewNeg = Seq((1L, 10L, 1L), (2L, 10L, 1L), (2L, 11L, 1L),
      (1L, 11L, -50L), (3L, 12L, 0L))
      .toDF("src", "dst", "w")
    val filtered = Graph.hitsMilliWeighted(ewNeg, "src", "dst", "w",
        iterations = 3)
      .orderBy("node").collect().map(_.toSeq).toSeq
    assert(filtered == b) // == the w=1 graph without the bad edges
  }

  test("modularityMicro: two bridged triangles, singleton defaults, invariance") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4; labels = triangle.
    // m=7; each community: e_c=3, d_c=7 (2+2+3) ->
    // term = 3/7 - (7/14)^2 = 0.178571... -> floor-micro 178571
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val lab = Seq((1L, "t1"), (2L, "t1"), (3L, "t1"),
      (4L, "t2"), (5L, "t2"), (6L, "t2")).toDF("n", "l")
    val r = Graph.modularityMicro(e, "src", "dst", lab, "n", "l")
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    assert(r == Map("t1" -> ((3L, 3L, 7L, 178571L)),
      "t2" -> ((3L, 3L, 7L, 178571L))))
    // conductance: cut = 7 - 2*3 = 1, min(vol, 2m-vol) = 7 ->
    // floor(1e6/7) = 142857; a whole-graph community scores 0
    val cond = Graph.modularityMicro(e, "src", "dst", lab, "n", "l")
      .collect().map(x => x.getString(0) -> x.getLong(5)).toMap
    assert(cond == Map("t1" -> 142857L, "t2" -> 142857L))
    val whole = Seq((1L, "g"), (2L, "g"), (3L, "g"), (4L, "g"),
      (5L, "g"), (6L, "g")).toDF("n", "l")
    val cw = Graph.modularityMicro(e, "src", "dst", whole, "n", "l")
      .collect().map(x => x.getString(0) -> x.getLong(5)).toMap
    assert(cw == Map("g" -> 0L))
    // duplicate/reversed/self edges canonicalize away
    val messy = e.union(Seq((2L, 1L), (3L, 3L)).toDF("src", "dst"))
    val r2 = Graph.modularityMicro(messy.repartition(5), "src", "dst",
      lab, "n", "l").collect()
      .map(x => x.getString(0) -> x.getLong(4)).toMap
    assert(r2 == Map("t1" -> 178571L, "t2" -> 178571L))
    // unlabeled nodes become singletons labeled by their id
    val partial = Seq((1L, "t1"), (2L, "t1"), (3L, "t1")).toDF("n", "l")
    val r3 = Graph.modularityMicro(e, "src", "dst", partial, "n", "l")
      .collect().map(_.getString(0)).toSet
    assert(r3 == Set("t1", "4", "5", "6"))
  }

  test("modularityWeightedMicro: w=1 degenerates; weighting shifts Q") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val lab = Seq((1L, "t1"), (2L, "t1"), (3L, "t1"),
      (4L, "t2"), (5L, "t2"), (6L, "t2")).toDF("n", "l")
    val a = Graph.modularityMicro(e, "src", "dst", lab, "n", "l")
      .orderBy("label").collect().map(_.toSeq).toSeq
    val b = Graph.modularityWeightedMicro(e.withColumn("w", lit(1L)),
        "src", "dst", "w", lab, "n", "l")
      .orderBy("label").collect().map(_.toSeq).toSeq
    assert(a == b)
    // heavy bridge (3-4, w=100) dominates the mass -> per-community
    // modularity terms collapse toward negative (cross-community edge
    // carries nearly all weight)
    val ew = e.withColumn("w",
      when(col("src") === 3L && col("dst") === 4L, 100L).otherwise(1L))
    val q = Graph.modularityWeightedMicro(ew, "src", "dst", "w",
        lab, "n", "l")
      .agg(sum(col("term_micro"))).head.getLong(0)
    val q1 = Graph.modularityMicro(e, "src", "dst", lab, "n", "l")
      .agg(sum(col("term_micro"))).head.getLong(0)
    assert(q < q1 && q < 0L)
  }

  test("assortativityMicro: star = -1e6, path = -1e6, regular graph = 0") {
    // star K1,3: S1=6 S2=12 S3=30 Se=18 -> r = -36/36 = -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val rs = Graph.assortativityMicro(star, "src", "dst").head
    assert((rs.getLong(0), rs.getLong(1), rs.getLong(6)) == ((4L, 3L, -1000000L)))
    // path 1-2-3: also perfectly disassortative
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(Graph.assortativityMicro(path, "src", "dst")
      .head.getLong(6) == -1000000L)
    // triangle: regular -> degenerate denominator -> 0 by convention
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.assortativityMicro(tri, "src", "dst")
      .head.getLong(6) == 0L)
    // duplicate/reversed edges canonicalize away
    val messy = star.union(Seq((2L, 1L), (3L, 1L)).toDF("src", "dst"))
    assert(Graph.assortativityMicro(messy.repartition(4), "src", "dst")
      .head.getLong(6) == -1000000L)
  }

  test("degreeStats: hand-checked degrees incl. pure-sink and pure-source") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val r = Graph.degreeStats(edges, "src", "dst")
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r == Map(1L -> ((2L, 0L, 2L)), 2L -> ((1L, 1L, 2L)), 3L -> ((0L, 2L, 2L))))
  }

  // --- kCorePeel -----------------------------------------------------

  test("kCorePeel: triangle survives k=2, pendant chain cascades away") {
    // triangle 1-2-3 plus chain 3-4-5: at k=2 the chain peels over two
    // rounds (5 first, then 4), the triangle keeps degree 2 everywhere
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val r = Graph.kCorePeel(edges, "src", "dst", k = 2, rounds = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // one round only removes the degree-1 tail, not the cascade
    val r1 = Graph.kCorePeel(edges, "src", "dst", k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(r1 == Set(1L, 2L, 3L, 4L))
  }

  test("kCorePeel rounds = -1 peels to the exact fixpoint past fixed depth") {
    // 8-node chain welded to a triangle: the cascade needs ~8 rounds,
    // far past the fixed-3-round approximation — fixpoint must strip
    // the whole chain and return exactly the triangle
    val chain = (1L to 7L).map(i => (i, i + 1)) :+ (8L -> 100L)
    val tri = Seq((100L, 101L), (101L, 102L), (102L, 100L))
    val edges = (chain ++ tri).toDF("src", "dst")
    val fix = Graph.kCorePeel(edges, "src", "dst", k = 2, rounds = -1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(fix == Map(100L -> 2L, 101L -> 2L, 102L -> 2L))
    // fixed 3 rounds on the same graph is NOT yet converged
    val approx = Graph.kCorePeel(edges, "src", "dst", k = 2, rounds = 3)
      .collect().map(_.getLong(0)).toSet
    assert(approx.size > 3)
    // an already-stable graph converges immediately
    val stable = Graph.kCorePeel(tri.toDF("src", "dst"), "src", "dst",
      k = 2, rounds = -1).collect().map(_.getLong(0)).toSet
    assert(stable == Set(100L, 101L, 102L))
  }

  test("harmonicCentralityMicro: hand-checked path graph, directed vs undirected") {
    // undirected path a(1)-b(2)-c(3), depth 3:
    //   b: two nodes at d=1            -> 2,000,000
    //   a: b at d=1 + c at d=2         -> 1,500,000
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val und = Graph.harmonicCentralityMicro(path, "src", "dst", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(und == Map(1L -> (1500000L, 2L), 2L -> (2000000L, 2L),
      3L -> (1500000L, 2L)))
    // directed 1→2→3: centrality counts IN-reachability (being linked
    // to): node 3 sees 2 at d=1 and 1 at d=2; node 1 sees nothing
    val dir = Graph.harmonicCentralityMicro(path, "src", "dst",
      maxDepth = 3, directed = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dir == Map(1L -> 0L, 2L -> 1000000L, 3L -> 1500000L))
    // depth truncation: a 4-chain at maxDepth=1 only counts neighbors
    val chain4 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val d1 = Graph.harmonicCentralityMicro(chain4, "src", "dst", maxDepth = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 == Map(1L -> 1000000L, 2L -> 2000000L, 3L -> 2000000L,
      4L -> 1000000L))
  }

  test("harmonicCentralityHyperBall: exact on small graphs (linear-counting range)") {
    // with m = 4096 registers and balls of size <= 4, linear counting
    // m*ln(m/zeros) rounds to the exact count (error ~ n^2/2m < 0.01),
    // so the sketch must agree with the exact op BIT-FOR-BIT here
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val hb = Graph.harmonicCentralityHyperBall(path, "src", "dst",
        maxDepth = 3, p = 12)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hb == Map(1L -> (1500000L, 2L), 2L -> (2000000L, 2L),
      3L -> (1500000L, 2L)))
    // directed semantics match the exact op: in-reachability
    val dir = Graph.harmonicCentralityHyperBall(path, "src", "dst",
        maxDepth = 3, directed = true, p = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dir == Map(1L -> 0L, 2L -> 1000000L, 3L -> 1500000L))
  }

  test("harmonicCentralityHyperBall: bounded error vs exact on a random graph") {
    // 400-node random graph, ~1200 edges: balls reach hundreds of
    // nodes by depth 3 — still linear-counting at m = 4096 but no
    // longer trivially exact. Gate mean relative error on BOTH the
    // ball size and the harmonic sum well inside the q209b envelope.
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(1200)((rnd.nextInt(400).toLong,
      rnd.nextInt(400).toLong)).filter(e => e._1 != e._2)
      .toDF("src", "dst").repartition(7)
    val exact = Graph.harmonicCentralityMicro(edges, "src", "dst", maxDepth = 3)
    val est = Graph.harmonicCentralityHyperBall(edges, "src", "dst",
      maxDepth = 3, p = 12)
    val joined = exact.join(est, Seq("node"))
      .select(col("n_reached"), col("n_reached_est"),
        col("harmonic_micro"), col("harmonic_est_micro"))
      .collect()
    assert(joined.nonEmpty)
    val relBall = joined.map(r =>
      math.abs(r.getLong(1) - r.getLong(0)).toDouble / math.max(1L, r.getLong(0)))
    val relHarm = joined.map(r =>
      math.abs(r.getLong(3) - r.getLong(2)).toDouble / math.max(1L, r.getLong(2)))
    assert(relBall.sum / relBall.length < 0.03,
      s"mean ball rel err ${relBall.sum / relBall.length}")
    assert(relHarm.sum / relHarm.length < 0.03,
      s"mean harmonic rel err ${relHarm.sum / relHarm.length}")
    assert(relBall.max < 0.1, s"max ball rel err ${relBall.max}")
    // determinism: a second run returns the identical sketch output
    val again = Graph.harmonicCentralityHyperBall(edges, "src", "dst",
      maxDepth = 3, p = 12)
    assert(est.orderBy("node").collect().toSeq ==
      again.orderBy("node").collect().toSeq)
  }

  test("harmonicCentralityHyperBall is partition-count invariant") {
    // register-max is commutative/associative and the hash is fixed,
    // so the sketch result cannot depend on physical partitioning
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val a = Graph.harmonicCentralityHyperBall(
      edges.toDF("src", "dst").repartition(1), "src", "dst", p = 8)
    val b = Graph.harmonicCentralityHyperBall(
      edges.toDF("src", "dst").repartition(13), "src", "dst", p = 8)
    assert(a.orderBy("node").collect().toSeq == b.orderBy("node").collect().toSeq)
  }

  test("neighborhoodFunction: exact hand-check, sketch agreement, effective diameter") {
    // path 1-2-3-4: N(0)=4, N(1)=4+6 (ends reach 1, middles 2),
    // N(2)=10+4, N(3)=14+2=16 (all pairs reached)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val nf = Graph.neighborhoodFunctionExact(path, "src", "dst", maxDepth = 3)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(nf == Map(0 -> 4L, 1 -> 10L, 2 -> 14L, 3 -> 16L))
    // HyperBall totals agree exactly in the linear-counting range
    val hb = Graph.neighborhoodFunctionHyperBall(path, "src", "dst",
        maxDepth = 3, p = 12)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hb == nf)
    // effective diameter at 90%: target = 16*0.9 = 14.4 ⇒ crossing
    // step is d ∈ (2, 3]: 2 + (144000-140000)/(160000-140000) = 2.2
    val eff = Graph.effectiveDiameterMicro(
      Graph.neighborhoodFunctionExact(path, "src", "dst", 3), "n_pairs")
      .head.getLong(0)
    assert(eff == 2200000L, s"eff=$eff")
    // degenerate: a triangle saturates at d=1; target inside (0,1]
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val effTri = Graph.effectiveDiameterMicro(
      Graph.neighborhoodFunctionExact(tri, "src", "dst", 3), "n_pairs")
      .head.getLong(0)
    // N(0)=3, N(1..3)=9; target 8.1 ⇒ 0 + (81000-30000)/(90000-30000)
    assert(effTri == 850000L, s"effTri=$effTri")
  }

  test("kCorePeel fixpoint mode aborts at maxFixpointRounds instead of looping") {
    // a 12-chain needs ~12 cascading peels at k=2; capping at 3 must
    // throw loudly rather than silently return a non-fixpoint
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Graph.kCorePeel(chain, "src", "dst", k = 2, rounds = -1,
        maxFixpointRounds = 3).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // a generous cap still converges to the exact (empty) fixpoint
    val ok = Graph.kCorePeel(chain, "src", "dst", k = 2, rounds = -1,
      maxFixpointRounds = 50).collect()
    assert(ok.isEmpty)
  }

  test("kCorePeel symmetrizes and dedups directed/duplicate input") {
    // one-directional + duplicate edges must count as a single
    // undirected neighbor relation
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val r = Graph.kCorePeel(edges, "src", "dst", k = 2, rounds = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  // --- labelPropagate ------------------------------------------------

  test("labelPropagate: two-hop spread, clamped seeds, majority + tie-break") {
    // 1(A), 2(B) seeded; 3 hears A twice + B once -> A; 4 hears A and B
    // once each -> tie -> 'A' (lexicographic); 5 only reachable via 3's
    // round-1 label -> labeled A in round 2; seed 2 keeps B even though
    // a neighbor would vote A at it
    val edges = Seq(
      (1L, 3L), (6L, 3L), (2L, 3L), // 6 is a second A-seed
      (1L, 4L), (2L, 4L),
      (3L, 5L),
      (1L, 2L) // vote into a seed must not flip it
    ).toDF("src", "dst")
    val seeds = Seq((1L, "A"), (6L, "A"), (2L, "B")).toDF("node", "label")
    val r = Graph.labelPropagate(edges, "src", "dst", seeds, "node", "label", 2)
      .collect().map(x => (x.getLong(0), (x.getString(1), x.getBoolean(2)))).toMap
    assert(r == Map(
      1L -> (("A", true)), 6L -> (("A", true)), 2L -> (("B", true)),
      3L -> (("A", false)), 4L -> (("A", false)), 5L -> (("A", false))))
  }

  test("labelPropagate: one iteration reaches only direct neighbors") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq((1L, "X")).toDF("node", "label")
    val r1 = Graph.labelPropagate(edges, "src", "dst", seeds, "node", "label", 1)
      .collect().map(_.getLong(0)).toSet
    assert(r1 == Set(1L, 2L))
    val r2 = Graph.labelPropagate(edges, "src", "dst", seeds, "node", "label", 2)
      .collect().map(_.getLong(0)).toSet
    assert(r2 == Set(1L, 2L, 3L))
  }

  // --- gramianMicro / columnSumsMicro --------------------------------

  private def vecsDf(rows: Seq[Seq[Float]]) =
    rows.map(Tuple1(_)).toDF("embedding")

  test("gramianMicro: hand-computed 2-dim case") {
    // rows (1,2) and (3,4):
    //   g(0,0)=1+9=10; g(0,1)=2+12=14; g(1,1)=4+16=20 — in micro-units
    val df = vecsDf(Seq(Seq(1f, 2f), Seq(3f, 4f)))
    val g = Linalg.gramianMicro(df, "embedding", 2)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(g == Map((0, 0) -> 10000000L, (0, 1) -> 14000000L, (1, 1) -> 20000000L))
  }

  test("gramianMicro is partition-count invariant (integer pre-sum)") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)(Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    val a = Linalg.gramianMicro(vecsDf(rows).repartition(1), "embedding", 8)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val b = Linalg.gramianMicro(vecsDf(rows).repartition(13), "embedding", 8)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(a == b && a.size == 36)
  }

  test("columnSumsMicro: sums and counts match a driver-side fold") {
    val rows = Seq(Seq(0.5f, -0.25f), Seq(1.5f, 0.75f), Seq(-1.0f, 2.0f))
    val r = Linalg.columnSumsMicro(vecsDf(rows), "embedding", 2)
      .collect().map(x => (x.getInt(0), (x.getLong(1), x.getLong(2)))).toMap
    val expect = (0 until 2).map { i =>
      i -> ((rows.map(v => math.floor(v(i).toDouble * 1e6).toLong).sum, 3L))
    }.toMap
    assert(r == expect)
  }

  test("topEigen recovers the dominant axis of an anisotropic cloud") {
    // points stretched along (1,1)/√2 — the top eigenvector of X^T X
    // must align with it (up to sign)
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(500) {
      val t = rnd.nextGaussian() * 10
      val n = rnd.nextGaussian() * 0.1
      Seq((t + n).toFloat, (t - n).toFloat)
    }
    val gram = Linalg.gramianMicro(vecsDf(rows), "embedding", 2)
    val (v, lam) = Linalg.topEigen(gram, 2)
    assert(math.abs(math.abs(v(0)) - math.sqrt(0.5)) < 0.01)
    assert(math.abs(math.abs(v(1)) - math.sqrt(0.5)) < 0.01)
    assert(lam > 0)
  }

  test("topEigenMilli aligns with the double topEigen direction") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(500) {
      val t = rnd.nextGaussian() * 10
      val n = rnd.nextGaussian() * 0.1
      Seq((t + n).toFloat, (t - n).toFloat)
    }
    val gram = Linalg.gramianMicro(vecsDf(rows), "embedding", 2).cache()
    val (vd, _) = Linalg.topEigen(gram, 2)
    val vi = Linalg.topEigenMilli(gram, 2, iterations = 6)
    // cosine between the integer milli vector and the double one
    val dot = vi(0) * vd(0) + vi(1) * vd(1)
    val ni = math.sqrt((vi(0) * vi(0) + vi(1) * vi(1)).toDouble)
    assert(math.abs(dot) / ni > 0.999,
      s"integer eigenvector ${vi.toSeq} vs double ${vd.toSeq}")
    // deterministic: a second run is bit-identical
    assert(Linalg.topEigenMilli(gram, 2, iterations = 6).toSeq == vi.toSeq)
    intercept[IllegalArgumentException] {
      Linalg.topEigenMilli(gram, 2, iterations = 0)
    }
  }

  test("projectMicroMilli: hand-checked exact integer projection") {
    val df = vecsDf(Seq(Seq(3f, 4f), Seq(-1f, 2f)))
    val out = Linalg.projectMicroMilli(df, "embedding",
        Array(1000L, -500L))
      .select(col("proj")).collect().map(_.getLong(0)).toSet
    // floor(3e6)·1000 + floor(4e6)·(−500); floor(−1e6)·1000 + floor(2e6)·(−500)
    assert(out == Set(3000000L * 1000 - 4000000L * 500,
      -1000000L * 1000 - 2000000L * 500))
  }

  test("projectTo: projection onto an axis-aligned basis picks coordinates") {
    val df = vecsDf(Seq(Seq(3f, 4f), Seq(-1f, 2f)))
    val out = Linalg.projectTo(df, "embedding",
        Seq(Array(1.0, 0.0), Array(0.0, 1.0)))
      .select(col("proj")).collect().map(_.getSeq[Double](0).toList).toSet
    assert(out == Set(List(3.0, 4.0), List(-1.0, 2.0)))
  }

  // --- personalizedPageRankPpb ----------------------------------------

  test("personalized pagerank: seed mass, hand-checked round, dead zones") {
    // a→b, c→d; seed {a}: nv=4, ns=1 → base = 15e9·4/100 = 6e8 on a
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = Graph.personalizedPageRankPpb(edges, "src", "dst",
        seeds, "node", iterations = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r(1L) == 600000000L)                 // teleport only
    assert(r(2L) == 600000000L * 85 / 100)      // 85% of a's round-0 rank
    assert(r(3L) == 0L && r(4L) == 0L)          // unreachable from seeds
  }

  test("personalized pagerank is partition invariant and guards empty seeds") {
    val edges = (1L to 30L).map(i => (i, i % 5 + 100L)).toDF("src", "dst")
    val seeds = Seq(1L, 2L, 3L).toDF("node")
    val a = Graph.personalizedPageRankPpb(edges.repartition(1), "src", "dst",
      seeds, "node", iterations = 3).collect().map(_.toSeq).toSet
    val b = Graph.personalizedPageRankPpb(edges.repartition(7), "src", "dst",
      seeds, "node", iterations = 3).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
    assertThrows[IllegalArgumentException] {
      Graph.personalizedPageRankPpb(edges, "src", "dst",
        Seq(999L).toDF("node"), "node")
    }
  }

  // --- triangleCount -------------------------------------------------

  private def triMap(edges: Seq[(Long, Long)], parts: Int = 3) = {
    val df = edges.toDF("src", "dst").repartition(parts)
    Graph.triangleCount(df, "src", "dst").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
  }

  test("triangleCount: K4 — every node in 3 triangles, cc = 10000 bp") {
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val r = triMap(e)
    assert(r.keySet == Set(1L, 2L, 3L, 4L))
    r.values.foreach { case (deg, tri, cc) =>
      assert(deg == 3L && tri == 3L && cc == 10000L)
    }
  }

  test("triangleCount: triangle plus pendant, hand-checked coefficients") {
    // 1-2-3 closed; 4 hangs off 1. cc(1) = 2·1/(3·2) = 3333 bp floored,
    // cc(2) = cc(3) = 2·1/(2·1) = 10000, deg-1 node 4 → null cc
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    val r = triMap(e)
    assert(r(1L) == ((3L, 1L, 3333L)))
    assert(r(2L) == ((2L, 1L, 10000L)))
    assert(r(3L) == ((2L, 1L, 10000L)))
    assert(r(4L) == ((1L, 0L, -1L)))
  }

  test("triangleCount normalizes duplicates, reversals, self-loops") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (1L, 1L), (3L, 3L))
    val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(triMap(messy) == triMap(clean))
  }

  test("triangleCount matches brute-force enumeration on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L if rnd.nextDouble() < 0.25
    } yield (a, b)).toSeq
    val adj = edges.toSet
    def conn(x: Long, y: Long) = adj((x min y, x max y))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val brute = nodes.map { v =>
      val tri = (for {
        x <- nodes; y <- nodes
        if x < y && conn(v, x) && conn(v, y) && conn(x, y)
      } yield 1).size.toLong
      v -> tri
    }.toMap
    val r = triMap(edges, parts = 5)
    nodes.foreach { v => assert(r(v)._2 == brute(v), s"node $v") }
    // total census: each triangle attributed to exactly 3 corners
    assert(r.values.map(_._2).sum == brute.values.sum)
  }

  test("triangleCount is partition-count invariant") {
    val rnd = new scala.util.Random(7)
    val edges = (for {
      a <- 1L to 40L; b <- (a + 1) to 40L if rnd.nextDouble() < 0.2
    } yield (a, b)).toSeq
    assert(triMap(edges, parts = 1) == triMap(edges, parts = 11))
  }

  // --- linkPredict ---------------------------------------------------

  private def lpMap(edges: Seq[(Long, Long)], maxDeg: Int = 1000,
      minCn: Int = 1) = {
    val df = edges.toDF("src", "dst").repartition(3)
    Graph.linkPredict(df, "src", "dst", maxPivotDeg = maxDeg,
        minCommon = minCn)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
  }

  test("linkPredict: path endpoints predicted, existing edges excluded") {
    // path 1-2-3 plus 1-4: (1,3) share pivot 2; (2,4) share pivot 1;
    // no other pair has a common neighbor
    val e = Seq((1L, 2L), (2L, 3L), (1L, 4L))
    val r = lpMap(e)
    // both pivots have degree 2: aa = floor(1e9/ln 2)
    val aa2 = math.floor(1e9 / math.log(2)).toLong
    assert(r == Map((1L, 3L) -> (1L, aa2), (2L, 4L) -> (1L, aa2)))
  }

  test("linkPredict: triangle has no candidates; minCommon prunes") {
    assert(lpMap(Seq((1L, 2L), (2L, 3L), (1L, 3L))).isEmpty)
    // square 1-2-3-4-1: diagonals share TWO neighbors
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val r = lpMap(sq, minCn = 2)
    val aa2 = math.floor(1e9 / math.log(2)).toLong
    assert(r == Map((1L, 3L) -> (2L, 2 * aa2), (2L, 4L) -> (2L, 2 * aa2)))
  }

  test("linkPredict: hub pivots above maxPivotDeg contribute nothing") {
    // star center 10 with leaves 1..5: every leaf pair shares only the
    // hub; capping the pivot degree below 5 erases all candidates
    val star = (1L to 5L).map(i => (10L, i))
    assert(lpMap(star).size == 10) // C(5,2) pairs via the hub
    assert(lpMap(star, maxDeg = 4).isEmpty)
  }

  test("linkPredict is partition-count invariant") {
    val rnd = new scala.util.Random(11)
    val edges = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L if rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    val df1 = edges.toDF("src", "dst").repartition(1)
    val df9 = edges.toDF("src", "dst").repartition(9)
    val a = Graph.linkPredict(df1, "src", "dst").collect().map(_.toSeq).toSet
    val b = Graph.linkPredict(df9, "src", "dst").collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("neighborAgg: hand-checked two-hop integer folds, isolated nodes keep nulls") {
    // 1 -> 3, 2 -> 3, 3 -> 4; node 5 isolated. feats: 1=10, 2=-20,
    // 3=5, 4=7, 5=9. h1(3) = (deg 2, sum -10, min -20, max 10);
    // h1(4) = (1, 5, 5, 5); h2(4) = sums of h1(3) = (deg2 2, sum2 -10)
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val f = Seq((1L, 10L), (2L, -20L), (3L, 5L), (4L, 7L), (5L, 9L))
      .toDF("n", "x")
    val r = Graph.neighborAgg(e, "src", "dst", f, "n", "x")
      .orderBy("node").collect()
      .map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) null else x.getLong(2),
        if (x.isNullAt(3)) null else x.getLong(3),
        if (x.isNullAt(4)) null else x.getLong(4),
        if (x.isNullAt(5)) null else x.getLong(5),
        if (x.isNullAt(6)) null else x.getLong(6),
        if (x.isNullAt(7)) null else x.getLong(7)))
    assert(r.toSeq == Seq(
      (1L, 10L, null, null, null, null, null, null),
      (2L, -20L, null, null, null, null, null, null),
      (3L, 5L, 2L, -10L, -20L, 10L, null, null),
      (4L, 7L, 1L, 5L, 5L, 5L, 2L, -10L),
      (5L, 9L, null, null, null, null, null, null)), r.mkString(","))
  }

  test("kTruss: K4 survives k=4, weak appendages peel, cascades need their round") {
    // K4 over {1,2,3,4} (every edge in 2 triangles) + pendant triangle
    // {4,5,6} (support-1 edges) + dangling edge (7,8): k=4 keeps
    // exactly the K4 with support 2 per edge
    val k4 = for (x <- 1L to 4L; y <- 1L to 4L if x < y) yield (x, y)
    val extra = Seq((4L, 5L), (4L, 6L), (5L, 6L), (7L, 8L))
    val e = (k4 ++ extra).toDF("src", "dst")
    val r = Graph.kTruss(e, "src", "dst", k = 4, rounds = 2)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(r.keySet == k4.toSet && r.values.forall(_ == 2L), r)
    // two triangles sharing edge (2,3): the shared edge has support 2
    // and survives round 1 at k=4, but its triangles die with the
    // support-1 edges — round 2 must cascade it away
    val twoTri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val r1 = Graph.kTruss(twoTri, "src", "dst", k = 4, rounds = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r1.toSeq == Seq((2L, 3L, 0L)), r1.mkString(","))
    assert(Graph.kTruss(twoTri, "src", "dst", k = 4, rounds = 2).count() == 0L)
    // k=3 keeps any triangle; canonicalization dedups reversed edges
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L))
      .toDF("src", "dst")
    val r3 = Graph.kTruss(messy, "src", "dst", k = 3, rounds = 2)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(r3 == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 1L), r3)
  }

  test("kTruss rounds = -1 peels to the exact fixpoint past fixed depth") {
    // the q251b cascade: 8-cycle + distance-2 chords, each chord
    // reinforced by an apex triangle, plus a disjoint K5. At k=4 the
    // layers peel one round apiece (apexes -> chords -> bare cycle),
    // so rounds=2 still carries the dead cycle at support 0 while the
    // fixpoint is exactly the K5 at support 3
    val cycle = (0 until 8).map(i => (i.toLong, ((i + 1) % 8).toLong))
    val chords = (0 until 8).map(i => (i.toLong, ((i + 2) % 8).toLong))
    val apexes = (0 until 8).flatMap(i => Seq(
      (i.toLong, (20 + i).toLong), ((20 + i).toLong, ((i + 2) % 8).toLong)))
    val k5 = for (x <- 100L to 104L; y <- (x + 1) to 104L) yield (x, y)
    val e = (cycle ++ chords ++ apexes ++ k5).toDF("src", "dst")
    val fix = Graph.kTruss(e, "src", "dst", k = 4, rounds = -1)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(fix.keySet == k5.toSet && fix.values.forall(_ == 3L), fix)
    // bounded-2 differs: the bare cycle is still present (support 0)
    val b2 = Graph.kTruss(e, "src", "dst", k = 4, rounds = 2)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(b2.keySet == (k5 ++ cycle.map { case (a, b) =>
      (math.min(a, b), math.max(a, b)) }).toSet, b2)
    assert(cycle.forall { case (a, b) =>
      b2((math.min(a, b), math.max(a, b))) == 0L }, b2)
  }

  test("kTruss fixpoint mode aborts at maxFixpointRounds instead of looping") {
    val cycle = (0 until 8).map(i => (i.toLong, ((i + 1) % 8).toLong))
    val chords = (0 until 8).map(i => (i.toLong, ((i + 2) % 8).toLong))
    val apexes = (0 until 8).flatMap(i => Seq(
      (i.toLong, (20 + i).toLong), ((20 + i).toLong, ((i + 2) % 8).toLong)))
    val e = (cycle ++ chords ++ apexes).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Graph.kTruss(e, "src", "dst", k = 4, rounds = -1,
        maxFixpointRounds = 2).count()
    }
    assert(ex.getMessage.contains("maxFixpointRounds"), ex.getMessage)
  }

  test("kTruss support matches brute-force triangle support on random graphs") {
    val rnd = new scala.util.Random(251)
    for (trial <- 1 to 3) {
      val n = 12
      val edges = (for {
        a <- 0 until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.35
      } yield (a.toLong, b.toLong)).toSeq
      val eSet = edges.toSet
      // brute-force per-edge support, then iterate peel locally
      def support(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
        def adj(x: Long, y: Long) =
          es.contains((math.min(x, y), math.max(x, y)))
        es.iterator.map { case (a, b) =>
          (a, b) -> (0L until n.toLong)
            .count(c => c != a && c != b && adj(a, c) && adj(b, c)).toLong
        }.toMap
      }
      def peel(es: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
        val s = support(es)
        val next = es.filter(e => s(e) >= k - 2)
        if (next == es) es else peel(next, k)
      }
      for (k <- Seq(3, 4)) {
        val want = {
          val surv = peel(eSet, k)
          val s = support(surv)
          surv.map(e => e -> s(e)).toMap
        }
        val got = Graph.kTruss(edges.toDF("src", "dst"), "src", "dst",
            k = k, rounds = -1)
          .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2)))
          .toMap
        assert(got == want, s"trial $trial k=$k: $got vs $want")
      }
    }
  }

  test("associationRules: hand-checked confidence and lift, both directions") {
    // baskets: {1,2} x3, {1,3} x1, {2} alone x1 -> N=5 baskets
    // item baskets: 1 -> 4, 2 -> 4, 3 -> 1; pair (1,2) support 3
    val inc = Seq(("b1", 1L), ("b1", 2L), ("b2", 1L), ("b2", 2L),
      ("b3", 1L), ("b3", 2L), ("b4", 1L), ("b4", 3L), ("b5", 2L))
      .toDF("b", "i")
    val r = Graph.associationRules(inc, "b", "i", maxPerBasket = 8,
        minSupport = 2L)
      .collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getLong(2), x.getLong(5), x.getLong(6)))).toMap
    // conf(1->2) = 3/4 = 750000 ppm; lift = 3*5/(4*4) = 937500 ppm
    assert(r == Map(
      (1L, 2L) -> ((3L, 750000L, 937500L)),
      (2L, 1L) -> ((3L, 750000L, 937500L))), r)
    // minSupport prunes the support-1 pair (1,3)
    assert(!r.contains((1L, 3L)))
  }

  // --- betweennessSampled ---------------------------------------------

  /** Runs `f` on both sides of the ops' broadcast guards: the session
    * default (these graphs fit; for betweennessSampled, the
    * pivot-parallel path over the broadcast adjacency) and a disabled
    * threshold (-1; the shuffled level loop). */
  test("betweennessSampled: bridge node beats higher-degree clique hubs") {
    // two triangles {1,2,3} and {5,6,7} joined by bridge 4:
    //   deg(3) = deg(5) = 3, deg(4) = 2 — yet every one of the 9
    //   cross-clique pairs runs through 4, so betweenness and degree
    //   DISAGREE: bc(4) > bc(3) = bc(5). All sigma are 1 (unique
    //   shortest paths), so the micro floors are exact and full-pivot
    //   bc_micro = 2e6 x textbook betweenness.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (5L, 7L), (6L, 7L)).toDF("src", "dst")
    onBothPaths {
      val bc = Graph.betweennessSampled(edges, "src", "dst", k = 7,
          maxDepth = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // textbook: bc(4) = 9 (3x3 cross pairs), bc(3) = bc(5) = 8
      // ({1,2} x {4,5,6,7}), clique leaves 0
      assert(bc == Map(1L -> 0L, 2L -> 0L, 3L -> 16000000L,
        4L -> 18000000L, 5L -> 16000000L, 6L -> 0L, 7L -> 0L), bc)
    }
  }

  test("betweennessSampled: path graph dependencies and n_piv; partition invariance") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    // textbook path bc: ends 0, next-in 3, middle 4; every node is
    // reached by the 4 OTHER pivots within depth 4
    val expect = Map(1L -> ((0L, 4L)), 2L -> ((6000000L, 4L)),
      3L -> ((8000000L, 4L)), 4L -> ((6000000L, 4L)), 5L -> ((0L, 4L)))
    onBothPaths {
      val out = Graph.betweennessSampled(edges, "src", "dst", k = 5,
          maxDepth = 4)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(out == expect, out)
      // partition invariance: 7-way repartition of the edge list yields
      // the identical frame (the localCheckpoint pinning discipline)
      val out7 = Graph.betweennessSampled(edges.repartition(7), "src",
          "dst", k = 5, maxDepth = 4)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(out7 == expect, out7)
    }
  }

  test("betweennessSampled: sigma multiplicity floors per-term (4-cycle)") {
    // square 1-2-4-3-1: from pivot 1 there are TWO shortest paths to 4
    // (sigma = 2); dependency of 2 (and 3) on behalf of 1 is
    // floor(1 * 1e6 * 1 / 2) = 500000 — the floor-per-term contract
    val edges = Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    onBothPaths {
      val bc = Graph.betweennessSampled(edges, "src", "dst", k = 4,
          maxDepth = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // each corner node carries half a pair from each of its two
      // adjacent pivots: 2 x 500000 = 1000000
      assert(bc == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L,
        4L -> 1000000L), bc)
    }
  }

  test("betweennessSampled: k pivots are the smallest knuth-mix ranks") {
    // k = 1 on the path: only ONE pivot contributes, so total bc mass
    // shrinks accordingly and results stay deterministic run-to-run
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    onBothPaths {
      val a = Graph.betweennessSampled(edges, "src", "dst", k = 1,
          maxDepth = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = Graph.betweennessSampled(edges, "src", "dst", k = 1,
          maxDepth = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b)
      // with a single pivot the dependency chain is a straight line:
      // one endpoint-path worth of mass, strictly less than the k=5 run
      assert(a.map(_._2).sum < 28000000L)
    }
  }

  test("betweennessSampled: an all-self-loop edge list is an empty graph") {
    // self-loops are dropped before anything else, so no node remains
    val loops = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("src", "dst")
    onBothPaths {
      val out = Graph.betweennessSampled(loops, "src", "dst", k = 4,
        maxDepth = 3)
      assert(out.columns.toSeq == Seq("node", "bc_micro", "n_piv"))
      assert(out.count() == 0L)
    }
  }

  test("betweennessSampled: sink pivots (depthTop == 0) give every node bc 0 and n_piv 0") {
    // a directed out-star whose hub has the LARGEST (knuth-mix, node)
    // rank: k = 7 of 8 nodes picks exactly the leaves, none of which
    // has an out-edge, so no BFS leaves its pivot
    val hub = (1L to 8L).toDF("id")
      .select(col("id"), expr(Graph.knuthMixExpr("id")).as("hk"))
      .orderBy(col("hk").desc, col("id").desc).first().getLong(0)
    val edges = (1L to 8L).filter(_ != hub).map(v => (hub, v))
      .toDF("src", "dst")
    onBothPaths {
      val out = Graph.betweennessSampled(edges, "src", "dst", k = 7,
          maxDepth = 3, directed = true)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(out == (1L to 8L).map(_ -> ((0L, 0L))).toMap, out)
    }
  }

  // --- pin hygiene ------------------------------------------------------

  test("every ported graph and CC op leaves only the pins its result reads") {
    // two triangles sharing edge 2-3, a pendant 5 and a chord 2-4: every
    // op has rounds to run and pins to drop
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L),
      (4L, 5L)).toDF("src", "dst")
    val weighted = edges.withColumn("w", col("src") + col("dst"))
    val labels = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
      .toDF("node", "label")
    val seeds = Seq((1L, "a"), (5L, "b")).toDF("node", "label")
    val pairs = edges.select(least(col("src"), col("dst")).as("id_a"),
      greatest(col("src"), col("dst")).as("id_b"))
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRankPpb" -> (() => Graph.pageRankPpb(edges, "src", "dst")),
      "pageRankWeightedPpb" -> (() =>
        Graph.pageRankWeightedPpb(weighted, "src", "dst", "w")),
      "personalizedPageRankPpb" -> (() => Graph.personalizedPageRankPpb(
        edges, "src", "dst", seeds, "node")),
      "hitsCounts" -> (() => Graph.hitsCounts(edges, "src", "dst")),
      "hitsMilli" -> (() => Graph.hitsMilli(edges, "src", "dst", 3)),
      "hitsMilliWeighted" -> (() =>
        Graph.hitsMilliWeighted(weighted, "src", "dst", "w", 3)),
      "modularityMicro" -> (() =>
        Graph.modularityMicro(edges, "src", "dst", labels, "node", "label")),
      "modularityWeightedMicro" -> (() => Graph.modularityWeightedMicro(
        weighted, "src", "dst", "w", labels, "node", "label")),
      "labelPropagate" -> (() => Graph.labelPropagate(edges, "src", "dst",
        seeds, "node", "label")),
      "kCorePeel" -> (() => Graph.kCorePeel(edges, "src", "dst", k = 2)),
      "kCorePeel fixpoint" -> (() =>
        Graph.kCorePeel(edges, "src", "dst", k = 2, rounds = -1)),
      "triangleCount" -> (() => Graph.triangleCount(edges, "src", "dst")),
      "linkPredict" -> (() =>
        Graph.linkPredict(edges, "src", "dst", minCommon = 1)),
      "assortativityMicro" -> (() =>
        Graph.assortativityMicro(edges, "src", "dst")),
      "harmonicCentralityMicro" -> (() =>
        Graph.harmonicCentralityMicro(edges, "src", "dst")),
      "neighborhoodFunctionExact" -> (() =>
        Graph.neighborhoodFunctionExact(edges, "src", "dst")),
      "harmonicCentralityHyperBall" -> (() =>
        Graph.harmonicCentralityHyperBall(edges, "src", "dst")),
      "neighborhoodFunctionHyperBall" -> (() =>
        Graph.neighborhoodFunctionHyperBall(edges, "src", "dst")),
      "kTruss" -> (() => Graph.kTruss(edges, "src", "dst", k = 4)),
      "kTruss fixpoint" -> (() =>
        Graph.kTruss(edges, "src", "dst", k = 4, rounds = -1)),
      "associationRules" -> (() => Graph.associationRules(edges, "src",
        "dst", maxPerBasket = 4, minSupport = 1L)),
      "betweennessSampled" -> (() => Graph.betweennessSampled(edges, "src",
        "dst", k = 3, maxDepth = 3)),
      "connectedComponents" -> (() => Dedup.connectedComponents(pairs)),
      "connectedComponentsStar" -> (() =>
        Dedup.connectedComponentsStar(pairs)))
    onBothPaths(ops.foreach { case (name, op) =>
      assertLeavesOnlyResultPins(name)(op())
    })
  }

  test("kCorePeel and kTruss release every pin when the fixpoint cap aborts") {
    val chain = (1L to 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val ops: Seq[(String, () => Any)] = Seq(
      "kCorePeel" -> (() => Graph.kCorePeel(chain, "src", "dst", k = 2,
        rounds = -1, maxFixpointRounds = 1)),
      "kTruss" -> (() => Graph.kTruss(chain, "src", "dst", k = 3,
        rounds = -1, maxFixpointRounds = 1)))
    ops.foreach { case (name, op) =>
      val added = persistedBy {
        val ex = intercept[IllegalStateException](op())
        assert(ex.getMessage.contains(s"$name fixpoint did not converge"),
          ex.getMessage)
      }
      assert(added.isEmpty, s"$name left $added")
    }
  }

  // --- topEigenK / pcaWhitenCheck (r15) -------------------------------

  test("topEigenK + pcaWhitenCheck: exact diagonal spectrum earns every flag") {
    // 4-dim vectors c_k = scale_k * (-1)^(bit k of id) over a full
    // 16-cycle id range: the sign products cancel EXACTLY, so the
    // Gramian is diagonal n * scale_k^2 with spectrum 16n > 9n > 4n > n
    val scales = Seq(4.0, 3.0, 2.0, 1.0)
    val vec = array(scales.zipWithIndex.map { case (s, k) =>
      when(pmod(floor(col("id") / (1 << k)), lit(2)) === 0, lit(s))
        .otherwise(lit(-s)).cast("float")
    }: _*)
    val df = spark.range(1600).select(col("id"), vec.as("embedding"))
    val (basis, lambda) = Linalg.topEigenK(
      Linalg.gramianMicro(df, "embedding", 4), dim = 4, r = 4)
    // eigenvalues: n * scale^2 within the micro-floor noise
    lambda.zip(scales).foreach { case (l, s) =>
      assert(math.abs(l - 1600.0 * s * s) < 1600.0 * 0.01, s"lambda $l for scale $s")
    }
    // each recovered vector is a coordinate axis (up to sign)
    basis.zipWithIndex.foreach { case (v, k) =>
      assert(math.abs(math.abs(v(k)) - 1.0) < 1e-6, s"component $k: ${v.mkString(",")}")
    }
    val flags = Linalg.pcaWhitenCheck(df, "embedding", dim = 4, r = 4)
      .collect()
    assert(flags.length == 10)
    assert(flags.forall(r => r.getInt(3) == 1 && r.getInt(4) == 1),
      flags.mkString("; "))
    // diagnostic column: diagonal ~ 1e6 ppm, off-diagonal ~ 0
    flags.foreach { r =>
      val (i, j, ppm) = (r.getInt(0), r.getInt(1), r.getLong(2))
      if (i == j) assert(math.abs(ppm - 1000000L) < 50000L, r.toString)
      else assert(math.abs(ppm) < 50000L, r.toString)
    }
  }
}
