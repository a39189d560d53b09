package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.TextHashes._

/** Similarity search over an embedding column (M6c; the reference
  * delegates this to cuml/raft out-of-repo — here it's a first-class
  * operator set).
  *
  * Three tiers, all shuffle-based:
  *  1. [[bruteForceTopK]] — exact: broadcast the (small) query set
  *     against the corpus, codegen'd dot product, per-query top-k via
  *     TakeOrdered-style window. Scales linearly in corpus size: the
  *     corpus is never shuffled, only scanned.
  *  2. [[lshTopK]] — approximate: join queries to corpus on a signed
  *     random-projection bucket (RandomProjectionBits expression), then
  *     top-k within bucket. At 100 TB the bucket column is also the
  *     natural parquet partition/bucketing key, turning ANN into a
  *     partition-pruned scan.
  *  3. [[ivfTopK]] — approximate: coarse quantizer = per-cluster
  *     centroids (tiny, broadcast); queries probe their nearest
  *     `nProbe` clusters and search only those corpus slices.
  */
object Similarity {

  /** Exact top-k neighbors by dot product (cosine for unit vectors).
    * `queries` must be broadcast-small (the usual ANN asymmetry).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_vec"))
    val scored = corpus.select(col(id).as("n_id"), col(vec).as("n_vec"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", dot_f(col("q_vec"), col("n_vec")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** MUTUAL nearest-neighbor pairs between two corpora — the
    * bitext/parallel-corpus mining primitive (Artetxe & Schwenk's
    * margin-mining family starts exactly here): emit (a, b) iff b is
    * a's top-1 in B AND a is b's top-1 in A. Mutuality is the cheap
    * high-precision filter — one-directional nearest neighbors are
    * full of hubs; mutual ones are overwhelmingly true pairs.
    *
    * A and B are DIFFERENT corpora, so a coinciding id on both sides
    * is a legitimate candidate (in aligned corpora the same-id pair is
    * often precisely the true match) — no id-based exclusion happens
    * by default. Pass `excludeSelf = true` only for the self-join use
    * (A == B, mining duplicates within one corpus), where the diagonal
    * is trivially rank-1 and must be masked.
    *
    * Scores are computed ONCE (one broadcast join over the codegen'd
    * dot), then two partitioned rank-1 windows (per a, per b) and a
    * semi-join keep the mutual pairs. Ties break by lowest partner id
    * — deterministic, and the rounded cosine makes the frame
    * hash-gatable. At 100 TB neither side is broadcast-small: run each
    * direction through the IVF tier ([[ivfTopKLearned]] k = 1) and
    * feed the two rank-1 frames to the same mutual semi-join — the
    * mutuality logic is this op's last three lines, unchanged.
    *
    * @return (a_id, b_id, cos) for every mutual pair
    */
  def mutualNearestPairs(a: DataFrame, b: DataFrame, id: String,
      vec: String, excludeSelf: Boolean = false): DataFrame = PinScope { pins =>
    val av = a.select(col(id).as("a_id"), col(vec).as("a_vec"))
    val bv = b.select(col(id).as("b_id"), col(vec).as("b_vec"))
    val cond = if (excludeSelf) col("a_id") =!= col("b_id") else lit(true)
    val scored = pins.cache(av.join(broadcast(bv), cond)
      .withColumn("cos", dot_f(col("a_vec"), col("b_vec")))
      .select(col("a_id"), col("b_id"), col("cos")))
    val wa = Window.partitionBy(col("a_id"))
      .orderBy(col("cos").desc, col("b_id").asc)
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(col("cos").desc, col("a_id").asc)
    val topA = scored.withColumn("r", row_number().over(wa))
      .filter(col("r") === 1).drop("r")
    val topB = scored.withColumn("r", row_number().over(wb))
      .filter(col("r") === 1).drop("r")
    pins.pin(topA
      .join(topB.select(col("a_id"), col("b_id")), Seq("a_id", "b_id"),
        "left_semi")
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos")))
  }

  /** MARGIN-scored bitext mining (Artetxe & Schwenk 2019's ratio
    * margin — the step AFTER [[mutualNearestPairs]]'s mutuality
    * filter): raw cosine is hub-biased (some vectors are close to
    * everything), so each candidate pair is scored RELATIVE to its
    * endpoints' neighborhoods — margin(x, y) = cos(x, y) / ((avg top-k
    * cos of x in B + avg top-k cos of y in A) / 2) — and the mined
    * pair per anchor is its rank-1 BY MARGIN above `minMarginPpm`
    * (1 050 000 ppm = the classic 1.05 ratio threshold).
    *
    * Exactness tier: similarities are floored to integer micro-units
    * FIRST, so the top-k neighborhood sums are integer additions
    * (association-order-free) and the margin is one integer division,
    * margin_ppm = (2k · cos_u6 · 1e6) div (sumA_u6 + sumB_u6) — the
    * whole frame replays bit-for-bit in SQL. Only pairs with
    * cos_u6 > 0 and a positive denominator are scored (both filters
    * replay; they also keep the truncating div on positive operands,
    * where Spark's `div` and DuckDB's `//` agree).
    *
    * Scale shape: scores are computed ONCE (broadcast join over the
    * codegen'd dot, persisted); then two per-side rank-k windows for
    * the neighborhood sums and one rank-1 window for the emission. At
    * 100 TB feed the scored frame from the IVF tier per direction
    * (the q234 composition note) — the margin arithmetic is unchanged.
    *
    * @return (a_id, b_id, cos_u6, margin_ppm) — the best-margin b per
    *         a with margin above threshold (ties: lowest b_id)
    */
  def marginMinedPairs(a: DataFrame, b: DataFrame, id: String,
      vec: String, k: Int = 4, minMarginPpm: Long = 1050000L): DataFrame = PinScope { pins =>
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    val av = a.select(col(id).as("a_id"), col(vec).as("a_vec"))
    val bv = b.select(col(id).as("b_id"), col(vec).as("b_vec"))
    val scored = pins.cache(av.join(broadcast(bv), lit(true))
      .withColumn("cos_u6",
        floor(dot_f(col("a_vec"), col("b_vec")) * lit(1000000.0d))
          .cast("long"))
      .select(col("a_id"), col("b_id"), col("cos_u6")))
    pins.pin(marginPick(scored, scored, k, minMarginPpm))
  }

  /** The margin step shared by both mining tiers over scored
    * (a_id, b_id, cos_u6) pairs: sa = top-k sum per a over `ab`, sb =
    * top-k sum per b over `ba`, then the best-margin b per a of `ab`
    * above threshold. */
  private def marginPick(ab: DataFrame, ba: DataFrame, k: Int,
      minMarginPpm: Long): DataFrame = {
    val wa = Window.partitionBy(col("a_id"))
      .orderBy(col("cos_u6").desc, col("b_id").asc)
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(col("cos_u6").desc, col("a_id").asc)
    val sumA = ab.withColumn("r", row_number().over(wa))
      .filter(col("r") <= k)
      .groupBy(col("a_id")).agg(sum(col("cos_u6")).as("sa"))
    val sumB = ba.withColumn("r", row_number().over(wb))
      .filter(col("r") <= k)
      .groupBy(col("b_id")).agg(sum(col("cos_u6")).as("sb"))
    val wm = Window.partitionBy(col("a_id"))
      .orderBy(col("margin_ppm").desc, col("b_id").asc)
    ab.filter(col("cos_u6") > 0)
      .join(sumA, "a_id").join(sumB, "b_id")
      .filter(col("sa") + col("sb") > 0)
      .withColumn("margin_ppm",
        expr(s"(cos_u6 * ${2L * k}L * 1000000L) div (sa + sb)"))
      .withColumn("rm", row_number().over(wm))
      .filter(col("rm") === 1 && col("margin_ppm") >= minMarginPpm)
      .select(col("a_id"), col("b_id"), col("cos_u6"), col("margin_ppm"))
  }

  /** The SCALE tier of [[marginMinedPairs]] — the q96b discipline
    * applied to bitext mining: instead of the quadratic a × broadcast-b
    * score matrix, each direction's candidate set comes from the IVF
    * coarse quantizer ([[kmeansCentroids]] + probes), so the pair space
    * is Σ_probe |cluster| per anchor, not |A|·|B|.
    *
    * Per direction src→dst: centroids are learned on DST (the corpus
    * being searched), dst rows are assigned to their cluster, each src
    * anchor probes its `nProbe` best centroids (rank by float dot,
    * ties → lowest cluster id — the [[ivfSqTopKLearned]] probe rule),
    * and only same-cluster (anchor, candidate) pairs are scored. The
    * margin arithmetic is [[marginMinedPairs]]' unchanged: micro-unit
    * floors, integer top-k neighborhood sums PER DIRECTION (sa over
    * the a→B candidates, sb over the b→A candidates), one integer
    * division, rank-1 by margin per anchor. The recall trade is the
    * IVF trade — an out-of-probe true pair is missed, and a
    * neighborhood sum over fewer than k in-probe candidates RAISES the
    * margin of what was found (the denominator shrinks) — both are the
    * documented behavior of production IVF-fed mining, and both replay
    * in the oracle (which re-runs the same k-means, assignment, probe
    * selection, and in-probe scoring in SQL), so the trade itself is
    * hash-gated rather than prose.
    *
    * Scale shape: candidate generation is one equi-join ON THE CLUSTER
    * ID per direction (shuffle-partitioned by cl — nClusters keys,
    * sized ~√N at 100 TB so the join is wide, not skewed); no
    * broadcast of either corpus. Two k-means chains (one per
    * direction's dst), each a fixed number of scan+bounded-agg rounds.
    *
    * @return (a_id, b_id, cos_u6, margin_ppm) — best-margin in-probe b
    *         per a above threshold (ties: lowest b_id)
    */
  def marginMinedPairsIvf(a: DataFrame, b: DataFrame, id: String,
      vec: String, k: Int = 4, minMarginPpm: Long = 1050000L,
      nClusters: Int = 8, nProbe: Int = 2, itersCoarse: Int = 3): DataFrame = PinScope { pins =>
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    require(nProbe >= 1 && nProbe <= nClusters,
      s"nProbe must be in [1, $nClusters], got $nProbe")
    // src anchors probe the centroids learned on dst; emit scored
    // in-probe pairs (src id, dst id, cos_u6)
    def candidates(src: DataFrame, srcCol: String,
        dst: DataFrame, dstCol: String): DataFrame = {
      val cents = kmeansCentroids(dst, id, vec, nClusters, itersCoarse)
      val dstA = kmeansAssign(dst, id, vec, cents)
        .select(col(id).as(dstCol), col(vec).as("d_vec"), col("cl"))
      val wProbe = Window.partitionBy(col(srcCol))
        .orderBy(col("c_dist").desc, col("cl").asc)
      val probes = src.select(col(id).as(srcCol), col(vec).as("s_vec"))
        .join(broadcast(cents))
        .withColumn("c_dist", dot_f(col("s_vec"), col("c_vec")))
        .withColumn("p", row_number().over(wProbe))
        .filter(col("p") <= nProbe)
        .select(col(srcCol), col("s_vec"), col("cl"))
      dstA.join(probes, Seq("cl"))
        .withColumn("cos_u6",
          floor(dot_f(col("s_vec"), col("d_vec")) * lit(1000000.0d))
            .cast("long"))
        .select(col("a_id"), col("b_id"), col("cos_u6"))
    }
    pins.pin(marginPick(pins.cache(candidates(a, "a_id", b, "b_id")),
      pins.cache(candidates(b, "b_id", a, "a_id")), k, minMarginPpm))
  }

  /** Deterministic negative sampling for contrastive training — k
    * pseudo-random negatives per anchor, WITHOUT an RNG: candidates
    * sit on a 2³² hash ring (position = Knuth multiplicative hash of
    * the id mod 2³² — odd multiplier, so positions are distinct for
    * distinct ids < 2³²; larger ids are valid but alias mod 2³², and
    * negative ids are filtered out). The multiply itself is computed
    * as a 2×16-bit decomposition so no intermediate exceeds 2⁴⁸ —
    * overflow-free over the FULL non-negative 64-bit id domain in
    * both Spark and DuckDB. Each (anchor, j) probe hashes to a ring
    * point, and
    * the negative is the candidate at the smallest forward ring
    * distance within the probe's ring bucket (top `bucketBits` bits).
    *
    * The BUCKETED-successor contract is the scale design: a strict
    * global successor needs a sorted structure; restricting to the
    * probe's bucket makes the lookup ONE equi-join on the bucket key +
    * a per-(anchor, j) argmin — hash-partitioned, skew-free (buckets
    * are hash-uniform by construction). With |pool| ≫ 2^bucketBits
    * every bucket is populated and the choice distribution is
    * indistinguishable from uniform; an empty bucket yields no row for
    * that probe (size bucketBits so E[bucket] ≥ ~100 candidates).
    * Everything is 64-bit integer arithmetic — the sample replays
    * bit-for-bit in any engine, unlike rand()-based negative mining.
    *
    * The anchor itself is excluded in the join (a positive must never
    * surface as its own negative); distinct probes may return the same
    * candidate (sampling with replacement across j — standard for
    * contrastive batches).
    *
    * @return (anchor_id, j, neg_id, ring_dist)
    */
  def negativeSampleRing(pool: DataFrame, poolId: String,
      anchors: DataFrame, anchorId: String, k: Int,
      bucketBits: Int = 6): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    require(bucketBits >= 1 && bucketBits <= 20,
      s"bucketBits must be in [1, 20], got $bucketBits")
    val M = 4294967296L            // 2^32 ring size
    val bucketDiv = M >> bucketBits
    // Knuth multiply mod 2^32, overflow-safe for ANY non-negative
    // 64-bit input: reduce x mod 2^32 first, then split the 32-bit
    // residue as hi·2^16 + lo so every intermediate stays below 2^48
    // (naive x·2654435761 wraps signed-64 silently in Spark for
    // x ≥ ~3.47e9 while DuckDB raises — either way no replay). Pure
    // integer SQL, so the oracle runs the IDENTICAL decomposition.
    def knuthRing(x: String): String = {
      val xm = s"(($x) % ${M}L)"
      s"((($xm div 65536L) * 2654435761L % ${M}L) * 65536L % ${M}L" +
        s" + ($xm % 65536L) * 2654435761L % ${M}L) % ${M}L"
    }
    val cand = pool.select(col(poolId).cast("long").as("cid"))
      .filter(col("cid").isNotNull && col("cid") >= 0).distinct()
      .withColumn("cpos", expr(knuthRing("cid")))
      .withColumn("bkt", expr(s"cpos div ${bucketDiv}L"))
    val probes = anchors.select(col(anchorId).cast("long").as("aid"))
      .filter(col("aid").isNotNull && col("aid") >= 0).distinct()
      .withColumn("j", explode(sequence(lit(0L), lit((k - 1).toLong))))
      .withColumn("probe",
        expr(knuthRing(s"(aid % ${M}L) * 37L + j * 1009L + 17L")))
      .withColumn("bkt", expr(s"probe div ${bucketDiv}L"))
    probes.join(cand, probes("bkt") === cand("bkt") &&
        col("cid") =!= col("aid"))
      .withColumn("d", (col("cpos") - col("probe") + M) % M)
      .groupBy(col("aid").as("anchor_id"), col("j"))
      .agg(min(struct(col("d"), col("cid"))).as("m"))
      .select(col("anchor_id"), col("j"), col("m.cid").as("neg_id"),
        col("m.d").as("ring_dist"))
  }

  /** Bucket assignment for the LSH tier (exposed for audits/bench). */
  def withBucket(df: DataFrame, vec: String, nBits: Int = 8): DataFrame =
    df.withColumn("bucket", rp_bits(col(vec), nBits))

  /** Approximate top-k: candidates restricted to the query's RP bucket.
    * Recall is tunable via nBits (fewer bits → bigger buckets → higher
    * recall, more compute).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int, nBits: Int = 8): DataFrame = {
    val c = withBucket(corpus, vec, nBits)
      .select(col(id).as("n_id"), col(vec).as("n_vec"), col("bucket"))
    val q = withBucket(queries, vec, nBits)
      .select(col(id).as("q_id"), col(vec).as("q_vec"), col("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", dot_f(col("q_vec"), col("n_vec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** Per-cluster mean vectors (float), computed distributed: explode to
    * (cluster, pos, v), average, re-assemble. Result is #clusters × dim —
    * broadcast-small by construction.
    */
  private def centroidMeans(assigned: DataFrame, vec: String): DataFrame =
    assigned
      .select(col("cl"), posexplode(col(vec)).as(Seq("pos", "v")))
      .groupBy(col("cl"), col("pos"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("cl"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cl"), transform(col("pm"), p => p.getField("m").cast("float")).as("c_vec"))

  /** Nearest-centroid assignment: argmax dot product against the (tiny)
    * centroid set, ties → lowest cluster id. Returns (id, vec, cl).
    *
    * The centroid table is collected (k × dim floats — driver-trivial
    * by the coarse-quantizer contract) and broadcast as a VARIABLE, and
    * the whole argmax runs inside one UDF per corpus row: a zero-
    * shuffle, zero-row-expansion map stage. Two earlier formulations
    * measured progressively worse at 100×: a row_number window over the
    * N×k broadcast-join expansion shuffled N×k rows (~190 GB/iter at
    * k=3175), and a map-side max(struct) still paid the N×k BNLJ row
    * materialization (~80 s/iter at k=448 — the dominant cost, since
    * the per-expanded-row join machinery is ~10× a fused dot product).
    * The UDF loop is the shape a native engine uses: k fused dots per
    * row, nothing allocated, nothing joined. Scores replay dot_f's
    * index-order float→double accumulation exactly, so the winner is
    * bit-identical to the expression path the oracles replay.
    */
  def kmeansAssign(df: DataFrame, id: String, vec: String,
      centroids: DataFrame): DataFrame = {
    val cents: Array[(Long, Array[Float])] = centroids
      .select(col("cl").cast("long"), col("c_vec"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val bc = df.sparkSession.sparkContext.broadcast(cents)
    val assignUdf = udf { (v: Seq[Float]) =>
      val cs = bc.value
      val vl = v.length
      var best = 0L; var bestScore = Double.NegativeInfinity
      var j = 0
      while (j < cs.length) {
        val c = cs(j)._2
        val n = math.min(vl, c.length)
        var s = 0.0; var i = 0
        while (i < n) { s += v(i).toDouble * c(i).toDouble; i += 1 }
        // strict > keeps the FIRST maximum; cs is sorted by cl, so ties
        // resolve to the lowest cluster id (the window's tie-break)
        if (s > bestScore) { bestScore = s; best = cs(j)._1 }
        j += 1
      }
      best
    }
    df.select(col(id), col(vec), assignUdf(col(vec)).as("cl"))
  }

  /** Learned coarse quantizer: deterministic shuffle-based k-means.
    * Seeds = the k lowest-id vectors (no RNG — reproducible across runs
    * and engines); a FIXED iteration count, each round one broadcast
    * join (assign) + one aggregation (recompute means) — no driver-side
    * data, no convergence collect. Each round's centroids are a pin of
    * the op's [[PinScope]], so the iteration does not nest Catalyst
    * plans; only the last round's pin outlives the call. At 100 TB the
    * corpus is scanned once per round; k and dim stay driver-trivial.
    */
  def kmeansCentroids(corpus: DataFrame, id: String, vec: String,
      k: Int, iters: Int = 3, seeding: String = "lowest-id"): DataFrame = PinScope { pins =>
    val wSeed = Window.orderBy(col(id))
    var cents = pins.pin(seeding match {
      case "farthest" => kmeansSeedsFarthest(corpus, id, vec, k)
      case _ => corpus.orderBy(col(id)).limit(k)
        .select((row_number().over(wSeed) - 1).cast("long").as("cl"), col(vec).as("c_vec"))
    })
    for (_ <- 1 to iters)
      cents = pins.pin(centroidMeans(kmeansAssign(corpus, id, vec, cents), vec))
    cents
  }

  /** Deterministic k-means++-style farthest-point seeding (r13 verdict
    * item 4). The `lowest-id` seeds above can all land in one region of
    * embedding space when ids correlate with content (crawl order,
    * shard order), silently degrading every IVF/SemDeDup tier built on
    * the clustering. This maxmin traversal is RNG-free like the
    * Efraimidis–Spirakis sampler: the anchor is the vector with the
    * smallest xxhash64(id) (uniform over the corpus, independent of id
    * order), then each round adds the point FARTHEST (squared
    * euclidean) from its nearest already-chosen seed, ties broken by
    * (hash asc, id asc) — fully reproducible across runs and cluster
    * sizes.
    *
    * Cost: one scan of the (checkpointed) projection per seed — k
    * scans, each ending in a 1-row TakeOrdered. At 100 TB one seeds on
    * a `Corpus.sampleByHash` slice, exactly like codebook training:
    * seed quality needs thousands of candidates, not the corpus.
    * If the corpus has fewer than k rows the traversal stops early and
    * returns what exists (downstream assign handles any cluster count).
    */
  def kmeansSeedsFarthest(corpus: DataFrame, id: String, vec: String,
      k: Int): DataFrame = PinScope { pins =>
    require(k >= 1, s"kmeansSeedsFarthest: k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val pts = pins.pin(corpus.select(col(id).cast("long").as("__id"), col(vec).as("__v"),
        xxhash64(col(id).cast("long")).as("__h")))
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    val anchor = pts.orderBy(col("__h").asc, col("__id").asc).limit(1).collect()
    if (anchor.nonEmpty) {
      seeds += ((anchor(0).getLong(0), anchor(0).getSeq[Float](1).toArray))
      var exhausted = false
      while (seeds.length < k && !exhausted) {
        val bcSeeds = spark.sparkContext.broadcast(seeds.map(_._2).toArray)
        val minD = udf { (v: Seq[Float]) =>
          val ss = bcSeeds.value
          var best = Double.MaxValue; var j = 0
          while (j < ss.length) {
            val c = ss(j); val n = math.min(v.length, c.length)
            var s = 0.0; var i = 0
            while (i < n) { val dd = v(i).toDouble - c(i).toDouble; s += dd * dd; i += 1 }
            if (s < best) best = s
            j += 1
          }
          best
        }
        val next = pts.filter(!col("__id").isInCollection(seeds.map(_._1)))
          .select(col("__id"), col("__v"), col("__h"), minD(col("__v")).as("__d"))
          .orderBy(col("__d").desc, col("__h").asc, col("__id").asc)
          .limit(1).collect()
        bcSeeds.destroy()
        if (next.isEmpty) exhausted = true
        else seeds += ((next(0).getLong(0), next(0).getSeq[Float](1).toArray))
      }
    }
    seeds.toSeq.zipWithIndex
      .map { case ((_, v), i) => (i.toLong, v) }
      .toDF("cl", "c_vec")
  }

  /** IVF with a LEARNED coarse quantizer: k-means centroids → assign the
    * corpus → probe-and-search via [[ivfTopK]]. The end-to-end ANN a
    * user calls when no partition column exists.
    */
  def ivfTopKLearned(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nClusters: Int, nProbe: Int = 2,
      iters: Int = 3, seeding: String = "lowest-id"): DataFrame = PinScope { _ =>
    val cents = kmeansCentroids(corpus, id, vec, nClusters, iters, seeding)
    ivfTopK(kmeansAssign(corpus, id, vec, cents), queries, id, vec, "cl", k, nProbe)
  }

  /** Product-quantization codebooks (tier 4 — the memory-bandwidth
    * scale path): split the `dim`-wide vector into `nSub` contiguous
    * subspaces and train the SAME deterministic k-means
    * ([[kmeansCentroids]]: lowest-id seeds, fixed rounds, float-cast
    * means) independently on each slice. Returns (sub, cl, c_vec) —
    * nSub × k × (dim/nSub) floats, driver/broadcast-trivial by
    * construction.
    *
    * 100 TB posture: training scans the corpus nSub × iters times but
    * each pass is a map + one bounded aggregation (the centroid
    * recompute); in production one trains on a [[Corpus.sampleByHash]]
    * slice — codebook quality needs thousands of vectors, not the
    * corpus. The payoff is [[pqAssign]]'s output: 8·nSub bytes per
    * vector instead of 4·dim (32 B vs 256 B at dim=64) — the ANN scan
    * becomes an 8× smaller, cache-resident pass over codes.
    */
  def pqCodebooks(corpus: DataFrame, id: String, vec: String,
      dim: Int, nSub: Int, k: Int, iters: Int = 2): DataFrame = PinScope { pins =>
    require(nSub > 0 && dim % nSub == 0,
      s"pqCodebooks: dim=$dim must divide evenly into nSub=$nSub subspaces")
    val sd = dim / nSub
    val spark = corpus.sparkSession
    val subIdx = array((0 until nSub).map(lit(_)): _*)
    // ALL subspaces train in one dataflow: explode each vector to
    // (sub, slice) rows so every k-means round is ONE corpus scan +
    // one bounded aggregation, independent of nSub — the sequential
    // per-subspace formulation scanned the corpus nSub× per round.
    // Per-subspace arithmetic is identical to kmeansCentroids (same
    // lowest-id seeds, same strict-argmax dot assignment, same
    // float-cast means), which the q99c oracle replays chain-by-chain.
    val exploded = corpus.select(col(id).as("__id"), col(vec).as("__v"))
      .select(col("__id"), explode(subIdx).as("sub"), col("__v"))
      .select(col("sub"), col("__id"),
        slice(col("__v"), col("sub") * sd + 1, lit(sd)).as("v"))
    var cents = pins.pin(corpus.orderBy(col(id)).limit(k)
      .select(col(id).as("__id"), col(vec).as("__v"))
      .withColumn("cl",
        (row_number().over(Window.orderBy(col("__id"))) - 1).cast("long"))
      .select(explode(subIdx).as("sub"), col("cl"), col("__v"))
      .select(col("sub"), col("cl"),
        slice(col("__v"), col("sub") * sd + 1, lit(sd)).as("c_vec")))
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(collectBooks(cents))
      val assignUdf = udf { (sub: Int, v: Seq[Float]) =>
        val book = bc.value(sub)
        var best = 0L; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < book.length) {
          val w = book(c)
          var acc = 0.0; var i = 0
          while (i < w.length) { acc += v(i).toDouble * w(i).toDouble; i += 1 }
          if (acc > bestScore) { bestScore = acc; best = c.toLong }
          c += 1
        }
        best
      }
      cents = pins.pin(exploded
        .withColumn("cl", assignUdf(col("sub"), col("v")))
        .select(col("sub"), col("cl"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cl"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("sub"), col("cl"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("sub"), col("cl"),
          transform(col("pm"), p => p.getField("m").cast("float")).as("c_vec")))
      // the pin above is the round's only reader of bc
      bc.destroy()
    }
    cents
  }

  /** PQ code assignment: per subspace, the nearest codeword by dot
    * product (strict-max → ties resolve to the lowest code id, the
    * same contract as [[kmeansAssign]]). Pure map stage: codebooks ride
    * a broadcast variable, nothing is joined or shuffled. Output
    * (id, codes array<long> in subspace order) — the compressed row
    * that replaces the raw vector at scan time.
    */
  def pqAssign(corpus: DataFrame, id: String, vec: String,
      codebooks: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(collectBooks(codebooks))
    val codeUdf = udf { (v: Seq[Float]) =>
      val books = bc.value
      val nSub = books.length
      val sd = v.length / nSub
      val out = new Array[Long](nSub)
      var s = 0
      while (s < nSub) {
        val book = books(s)
        var best = 0L; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < book.length) {
          val w = book(c)
          var acc = 0.0; var i = 0
          while (i < sd) { acc += v(s * sd + i).toDouble * w(i).toDouble; i += 1 }
          if (acc > bestScore) { bestScore = acc; best = c.toLong }
          c += 1
        }
        out(s) = best
        s += 1
      }
      out.toSeq
    }
    corpus.select(col(id) +: keep.map(col) :+ codeUdf(col(vec)).as("codes"): _*)
  }

  /** Codebook rows → sub-indexed, code-indexed float arrays. */
  private def collectBooks(codebooks: DataFrame): Array[Array[Array[Float]]] =
    codebooks
      .select(col("sub").cast("int"), col("cl").cast("long"), col("c_vec"))
      .collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getLong(1)).map(_.getSeq[Float](2).toArray))

  /** The ADC scorer: one running double sum over the 64 products of
    * query × reconstructed codewords, index order across subspace
    * boundaries — replayed by the oracle's single list_sum.
    */
  private def adcUdfFor(df: DataFrame, codebooks: DataFrame)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = df.sparkSession.sparkContext.broadcast(collectBooks(codebooks))
    udf { (q: Seq[Float], cs: Seq[Long]) =>
      val books = bc.value
      var acc = 0.0
      var s = 0
      while (s < books.length) {
        val w = books(s)(cs(s).toInt)
        val off = s * w.length
        var i = 0
        while (i < w.length) { acc += q(off + i).toDouble * w(i).toDouble; i += 1 }
        s += 1
      }
      acc
    }
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: score(q, x) =
    * dot(q, reconstruction(x)) where reconstruction = the concatenation
    * of x's chosen codewords. The UDF accumulates the 64 products in
    * index order across subspace boundaries — one running double sum,
    * bit-replayable by the oracle's single list_sum over the
    * reconstructed vector. Queries are broadcast (ANN asymmetry); the
    * corpus side is scanned as CODES ONLY — at 100 TB this is the tier
    * where the scan reads 32 B/row instead of 256 B and the codebook
    * (nSub·k·subDim floats) lives in L2. A production variant
    * precomputes per-query lookup tables (nSub·k dots, then nSub table
    * hits per row); the fused form here keeps the score a pure function
    * of (q_vec, codes) for the differential gate.
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, id: String, vec: String,
      k: Int, codebooks: DataFrame): DataFrame = {
    val adcUdf = adcUdfFor(codes, codebooks)
    val q = queries.select(col(id).as("q_id"), col(vec).as("q_vec"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    codes.select(col(id).as("n_id"), col("codes"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("cos", adcUdf(col("q_vec"), col("codes")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** End-to-end PQ ANN: train codebooks → encode the corpus → ADC scan. */
  def pqTopKLearned(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, dim: Int, k: Int, nSub: Int, nCodes: Int,
      iters: Int = 2): DataFrame = PinScope { _ =>
    val books = pqCodebooks(corpus, id, vec, dim, nSub, nCodes, iters)
    pqTopK(pqAssign(corpus, id, vec, books), queries, id, vec, k, books)
  }

  /** IVF-PQ (the FAISS "IVFADC" architecture, Jégou et al. 2011): a
    * learned coarse quantizer prunes the candidate set to `nProbe`
    * clusters AND the scan inside those clusters reads PQ codes, not
    * vectors. The two compressions compose: at 100 TB the probe cuts
    * the scan to nProbe/nClusters of the corpus, and the code scan
    * cuts bytes-per-row by 4·dim/(8·nSub) — with cluster as the
    * parquet partition key, the probe is partition pruning and the
    * whole search is a pruned scan of 32-byte rows plus one
    * |queries|·k-row window.
    *
    * Scoring uses the learned centroids for the probe (dot(q, c_vec),
    * ties → lowest cl — kmeansAssign's contract) and raw ADC for
    * ranking (no residual encoding: codebooks are trained on absolute
    * vectors, so scores are comparable ACROSS probed clusters without
    * per-cluster correction — simpler than FAISS's residual variant
    * and exactly replayable by the oracle).
    */
  def ivfPqTopKLearned(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, dim: Int, k: Int, nClusters: Int, nProbe: Int,
      nSub: Int, nCodes: Int, itersCoarse: Int = 3,
      itersPq: Int = 2): DataFrame = PinScope { _ =>
    val cents = kmeansCentroids(corpus, id, vec, nClusters, itersCoarse)
    val books = pqCodebooks(corpus, id, vec, dim, nSub, nCodes, itersPq)
    // one pass emits (id, cl, codes): the stored index row
    val coded = pqAssign(kmeansAssign(corpus, id, vec, cents), id, vec,
      books, keep = Seq("cl"))
    val qc = queries.select(col(id).as("q_id"), col(vec).as("q_vec"))
      .join(broadcast(cents))
      .withColumn("c_dist", dot_f(col("q_vec"), col("c_vec")))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("c_dist").desc, col("cl").asc)
    val probes = qc.withColumn("p", row_number().over(wProbe)).filter(col("p") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("cl"))
    val adcUdf = adcUdfFor(coded, books)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    coded.select(col(id).as("n_id"), col("cl"), col("codes"))
      .join(broadcast(probes), Seq("cl"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", adcUdf(col("q_vec"), col("codes")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998): greedily pick `k` of each query's candidates maximizing
    * λ·rel − (1−λ)·max_{s∈selected} dot(vec, vec_s) — the diversity
    * re-rank step between ANN/BM25 candidate generation and serving.
    * Per-query candidate lists are bounded (the ANN asymmetry), so the
    * greedy loop runs inside flatMapGroups: ONE shuffle on q_id, no
    * cross-query state, O(k·C) dots per query. Every number is an IEEE
    * op over engine-identical inputs (rel is already rounded, sims are
    * index-order dots), argmax ties → lowest n_id, and the emitted
    * score is FLOORED to ppm so the gate compares exact integers.
    *
    * `candidates`: (q_id, n_id, rel); `vectors`: id → vec for n_ids.
    */
  def mmrRerank(candidates: DataFrame, vectors: DataFrame, id: String,
      vec: String, k: Int, lambda: Double): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    candidates.select(col("q_id"), col("n_id"), col("rel").cast("double"))
      .join(vectors.select(col(id).as("n_id"), col(vec).as("n_vec")), Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("rel"), col("n_vec"))
      .as[(Long, Long, Double, Seq[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cand = it.toArray.sortBy(_._2) // n_id order → deterministic argmax
        val n = cand.length
        val vecs = cand.map(_._4.toArray)
        val picked = Array.fill(n)(false)
        val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
        var r = 1
        while (r <= math.min(k, n)) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < n) {
            if (!picked(i)) {
              var maxSim = 0.0
              if (sel.nonEmpty) {
                maxSim = Double.NegativeInfinity
                sel.foreach { j =>
                  val a = vecs(i); val b = vecs(j)
                  val len = math.min(a.length, b.length)
                  var acc = 0.0; var p = 0
                  while (p < len) { acc += a(p).toDouble * b(p).toDouble; p += 1 }
                  if (acc > maxSim) maxSim = acc
                }
              }
              val score = lambda * cand(i)._3 - (1 - lambda) * maxSim
              if (score > bestScore) { bestScore = score; best = i }
            }
            i += 1
          }
          picked(best) = true; sel += best
          out += ((qid, r, cand(best)._2, math.floor(bestScore * 1e6).toLong))
          r += 1
        }
        out.iterator
      }
      .toDF("q_id", "rank", "n_id", "score_ppm")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): combine any number
    * of per-query rankings of the same item space into one list by
    * score(n) = Σ_r 1/(c + rank_r(n)), items absent from a ranking
    * contributing 0. The standard hybrid-retrieval combiner (BM25 ⊕
    * ANN ⊕ ...). Each input is (q_id, n_id, rnk). Deterministic: the
    * per-ranker terms are summed in RANKER ORDER (a fixed expression
    * tree, not an aggregation), the fused score is floored to ppm
    * BEFORE the final ordering, and ties break on lowest n_id. One
    * full-outer equi-join per extra ranking + the per-query top-k
    * window — rankings are top-k-bounded, so every side is tiny
    * relative to the corpus.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val renamed = rankings.zipWithIndex.map { case (df, i) =>
      df.select(col("q_id"), col("n_id"), col("rnk").cast("long").as(s"__r$i"))
    }
    val joined = renamed.reduce((a, b) => a.join(b, Seq("q_id", "n_id"), "full_outer"))
    val score = renamed.indices
      .map(i => coalesce(lit(1.0) / (lit(c) + col(s"__r$i")), lit(0.0)))
      .reduce(_ + _)
    val w = Window.partitionBy(col("q_id")).orderBy(col("rrf_ppm").desc, col("n_id").asc)
    joined.withColumn("rrf_ppm", floor(score * 1e6).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("rrf_ppm"))
  }

  /** IVF-style search with a provided coarse partition (cluster column):
    * centroids = per-cluster mean vector (computed distributed, result is
    * broadcast-small); each query probes its nProbe nearest centroids and
    * searches only those clusters.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      cluster: String, k: Int, nProbe: Int = 2): DataFrame = {
    // centroids: explode to (cluster, pos, v), average, re-assemble —
    // all shuffle-side; the result is #clusters × dim, tiny
    val centroids = corpus
      .select(col(cluster).as("cl"), posexplode(col(vec)).as(Seq("pos", "v")))
      .groupBy(col("cl"), col("pos"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("cl"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cl"), transform(col("pm"), p => p.getField("m").cast("float")).as("c_vec"))

    val qc = queries.select(col(id).as("q_id"), col(vec).as("q_vec"))
      .join(broadcast(centroids))
      .withColumn("c_dist", dot_f(col("q_vec"), col("c_vec")))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("c_dist").desc, col("cl").asc)
    val probes = qc.withColumn("p", row_number().over(wProbe)).filter(col("p") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("cl"))

    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    corpus.select(col(id).as("n_id"), col(vec).as("n_vec"), col(cluster).as("cl"))
      .join(broadcast(probes), Seq("cl"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", dot_f(col("q_vec"), col("n_vec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), round(col("cos"), 6).as("cos"))
  }

  /** Recall@k of an approximate ANN tier against the exact one — the
    * evaluation loop every ANN deployment runs when tuning nBits /
    * nProbe / codebook size. Both inputs are (q_id, rnk, n_id, ...)
    * frames as produced by the tier ops; recall is reported in integer
    * basis points (floor), so the number is engine- and
    * partitioning-exact.
    *
    * @return (q_id, n_exact, n_hit, recall_bp)
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = approx.filter(col("rnk") <= k).select(col("q_id"), col("n_id"))
    val e = exact.filter(col("rnk") <= k).select(col("q_id"), col("n_id"))
    val hits = e.join(a, Seq("q_id", "n_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    e.groupBy(col("q_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_hit"))
      .withColumn("recall_bp", expr("(n_hit * 10000L) div n_exact"))
  }

  /** Ranking quality per query — MRR and binary-relevance nDCG@k —
    * for an approximate ranking judged against an exact one (the
    * rank-sensitive companions to [[recallAtK]]: recall says WHETHER
    * the right items surfaced, these say WHERE). Same input contract
    * as recallAtK: both frames carry (q_id, n_id, rnk) with rnk
    * 1-based dense per q_id.
    *
    * Integer determinism: reciprocal rank is `1e6 div first_rel`
    * (floor); each DCG position gain is floor(1e9·ln 2 / ln(rnk+1))
    * via ONE shared expression string ([[dcgGainExpr]]), summed as
    * BIGINT, and nDCG is the floor-micro ratio of the two integer
    * sums — bit-identical in any engine, no reduction-order exposure.
    * Queries whose approx top-k contains no relevant item score 0 on
    * both metrics (not null — a whiffed query is a measured zero).
    *
    * 100 TB posture: two equi-joins on (q_id, n_id) and bounded
    * per-query aggregations over ≤ k rows each; nothing collected.
    */
  def rankingMetrics(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = approx.filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"))
    val e = exact.filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"))
    val rel = a.join(e.select(col("q_id"), col("n_id")),
      Seq("q_id", "n_id"), "left_semi")
    val perQ = rel.groupBy(col("q_id")).agg(
      min(col("rnk")).as("first_rel"),
      sum(expr(dcgGainExpr)).as("dcg_nano"))
    val ideal = e.groupBy(col("q_id")).agg(
      sum(expr(dcgGainExpr)).as("idcg_nano"),
      count(lit(1)).as("n_exact"))
    ideal.join(perQ, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(expr("1000000L div first_rel"), lit(0L)).as("rr_micro"),
        coalesce(expr("(1000000L * dcg_nano) div idcg_nano"), lit(0L))
          .as("ndcg_micro"))
  }

  /** Floor-nano DCG gain at 1-based rank `rnk`: 1e9·ln 2 / ln(rnk+1),
    * i.e. 1/log2(rnk+1) — one string, parsed by both engines.
    */
  def dcgGainExpr: String =
    "CAST(FLOOR(1000000000.0 * LN(2.0) / LN(CAST(rnk AS DOUBLE) + 1.0)) AS BIGINT)"

  // --- SQ8 scalar quantization (NEW r9) ------------------------------

  /** Corpus-wide max |v_i| — the per-tensor symmetric-quantization
    * scale for [[sqAssign]]: one bounded aggregation, one scalar.
    */
  def sqMaxAbs(corpus: DataFrame, vec: String): Float = {
    // max over an empty/all-null corpus is NULL — map it to the
    // documented zero-scale path (everything codes to 0) instead of
    // letting getFloat throw an opaque NPE.
    val row = corpus.select(explode(col(vec)).as("x"))
      .agg(max(abs(col("x")))).head()
    if (row.isNullAt(0)) 0f else row.getFloat(0)
  }

  /** Scalar (SQ8 / int8) quantization, per-tensor SYMMETRIC — the
    * simplest and most widely deployed ANN compression tier,
    * completing the ladder exact → RP-LSH → IVF → PQ:
    * code_i = clamp(floor(v_i·127/maxAbs), −127, 127) with ONE global
    * scale. 4 B/dim floats become 1 B/dim codes (64-dim rows go
    * 256 B → 64 B on the search scan). The single shared scale is
    * load-bearing for search: Σ codeQ·codeX ≈ (127/maxAbs)²·dot — a
    * MONOTONE image of the true inner product up to quantization
    * error, so integer code-dots rank like float dots. (The unsigned
    * per-dim affine form quantizes values fine but its raw code-dot
    * is dominated by the shift cross-terms — measured 5% recall@5 on
    * the fixture vs ~100% for this form — so per-dim affine is NOT
    * offered for search.) Codes are INTEGERS produced by one fixed
    * IEEE double sequence on identical operands — bit-identical
    * across engines, so unlike the float-cosine tiers the whole
    * search result hash-gates. A zero scale codes everything 0.
    */
  def sqAssign(corpus: DataFrame, id: String, vec: String,
      maxAbs: Float, keep: Seq[String] = Nil): DataFrame = {
    val codeUdf = udf { (v: Seq[Float]) =>
      v.map { x =>
        if (maxAbs <= 0f) 0
        else {
          val c = math.floor(x.toDouble * 127.0 / maxAbs.toDouble).toInt
          math.max(-127, math.min(127, c))
        }
      }
    }
    corpus.select(col(id) +: keep.map(col) :+
      codeUdf(col(vec)).as("sq_codes"): _*)
  }

  /** Top-k in QUANTIZED space: score = Σ codeQ_i·codeX_i as exact
    * BIGINT (the int8-dot SIMD kernel production SQ8 deployments run).
    * Recall vs the exact tier is spec-gated.
    */
  def sqTopK(corpusCodes: DataFrame, queryCodes: DataFrame,
      k: Int): DataFrame = {
    val dotUdf = udf { (a: Seq[Int], b: Seq[Int]) =>
      var s = 0L
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toLong * b(i).toLong; i += 1 }
      s
    }
    val q = queryCodes.select(col(queryCodes.columns.head).as("q_id"),
      col("sq_codes").as("q_codes"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("code_dot").desc, col("n_id").asc)
    corpusCodes.select(col(corpusCodes.columns.head).as("n_id"),
        col("sq_codes"))
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("code_dot", dotUdf(col("q_codes"), col("sq_codes")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), col("code_dot"))
  }

  /** End-to-end SQ8 ANN: learn ranges → encode corpus and queries with
    * the SAME ranges → integer-dot scan. At 100 TB the ranges frame is
    * dim rows (one bounded agg), the corpus re-scan writes 1 B/dim
    * codes, and the search scan reads codes only.
    */
  def sqTopKLearned(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int): DataFrame = {
    val scale = sqMaxAbs(corpus, vec)
    sqTopK(sqAssign(corpus, id, vec, scale).select(col(id), col("sq_codes")),
      sqAssign(queries, id, vec, scale).select(col(id), col("sq_codes")), k)
  }

  /** IVF-SQ (the FAISS IVFScalarQuantizer architecture): the learned
    * coarse quantizer prunes the candidate set to `nProbe` clusters
    * AND the scan inside them reads 1 B/dim SQ8 codes scored by exact
    * BIGINT code-dot — so unlike IVF-PQ's double-valued ADC, the
    * WHOLE result hash-gates. Completes the tier matrix:
    * {flat, PQ, SQ8} × {exhaustive, IVF-pruned}. Probe selection
    * ranks centroids by the float query vector (the index stores
    * centroids full-precision — standard IVFSQ), then scoring is all
    * integers.
    */
  def ivfSqTopKLearned(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, k: Int, nClusters: Int, nProbe: Int,
      itersCoarse: Int = 3): DataFrame = PinScope { _ =>
    val cents = kmeansCentroids(corpus, id, vec, nClusters, itersCoarse)
    val scale = sqMaxAbs(corpus, vec)
    // the stored index row: (id, cl, sq_codes)
    val coded = sqAssign(kmeansAssign(corpus, id, vec, cents), id, vec,
      scale, keep = Seq("cl"))
    val qc = queries.select(col(id).as("q_id"), col(vec).as("q_vec"))
      .join(broadcast(cents))
      .withColumn("c_dist", dot_f(col("q_vec"), col("c_vec")))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("c_dist").desc, col("cl").asc)
    val probes = qc.withColumn("p", row_number().over(wProbe))
      .filter(col("p") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("cl"))
    val qCoded = sqAssign(
      probes.select(col("q_id"), col("q_vec"), col("cl")),
      "q_id", "q_vec", scale, keep = Seq("cl"))
      .withColumnRenamed("sq_codes", "q_codes")
    val dotUdf = udf { (a: Seq[Int], b: Seq[Int]) =>
      var s = 0L
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toLong * b(i).toLong; i += 1 }
      s
    }
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("code_dot").desc, col("n_id").asc)
    coded.select(col(id).as("n_id"), col("cl"), col("sq_codes"))
      .join(broadcast(qCoded), Seq("cl"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("code_dot", dotUdf(col("q_codes"), col("sq_codes")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), col("code_dot"))
  }
}
