package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Count-Min Sketch as a relational program (Cormode & Muthukrishnan
  * 2005; reference counterpart: the frequency-sketch layer next to
  * SURVEY §2.4's approx-distinct rows — Spark ships `count_min_sketch`
  * as an opaque binary agg, but its seeded murmur hashes cannot be
  * replayed by an external oracle, so this implementation uses an
  * explicit pairwise-independent hash family that both Spark and DuckDB
  * evaluate bit-identically).
  *
  * The sketch IS a DataFrame: (j, bucket, cnt) with j < depth,
  * bucket < width — at most depth·width rows regardless of input size.
  * Construction is explode(depth)→groupBy, a single map-side-combined
  * shuffle whose combined output is bounded by tasks·depth·width, and
  * sketches MERGE by unioning and re-summing (SketchSpec proves
  * shard-merge ≡ whole-corpus build). Estimation joins probes against
  * the sketch — a broadcast by construction (the sketch is tiny) — and
  * takes min over j; estimates never undercount, overcount bounded by
  * e·N/width with probability 1 − e^(−depth).
  *
  * Hash family: h_j(x) = ((a_j·(x mod p) + b_j) mod p) mod width with
  * p = 2^31 − 1 (Mersenne) and a_j, b_j fixed affine functions of j.
  * Reducing x mod p FIRST keeps every product under 2^62 — no int64
  * overflow for any long key (the [[Corpus.hashBucket]] lesson). Keys
  * must be non-negative integral (`pmod` guards the residue).
  */
object Sketches {

  private val P = 2147483647L // 2^31 - 1

  private def aj(j: Int): Long = (2654435761L * (j + 1)) % P
  private def bj(j: Int): Long = (40503L * (j + 1) * (j + 1) + 7L) % P

  private def bucketExpr(key: Column, j: Int, width: Int): Column =
    pmod(pmod(lit(aj(j)) * pmod(key.cast("long"), lit(P)) + lit(bj(j)),
      lit(P)), lit(width))

  /** Build the (j, bucket, cnt) sketch frame for `key` occurrences
    * (optionally weighted by `weight`, the turnstile form).
    */
  def cmsBuild(df: DataFrame, key: String, depth: Int, width: Int,
      weight: Option[String] = None): DataFrame = {
    require(depth > 0 && width > 0, "need depth > 0 and width > 0")
    val rows = (0 until depth).map(j =>
      struct(lit(j).as("j"), bucketExpr(col(key), j, width).as("bucket")))
    // the weight column must survive the explode projection — selecting
    // only (key, e) dropped it and sum() failed to resolve (ADVICE r7)
    val exploded = df.select(
      col(key) +: weight.map(c => col(c).as("__w")).toSeq :+
        explode(array(rows: _*)).as("e"): _*)
    val w = weight.map(_ => sum(col("__w")).as("cnt"))
      .getOrElse(count(lit(1)).as("cnt"))
    exploded
      .groupBy(col("e.j").as("j"), col("e.bucket").as("bucket"))
      .agg(w)
  }

  /** Merge sketches built with the same (depth, width): union + re-sum.
    * Counts are additive per cell, the defining CMS property.
    */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy(col("j"), col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** Point-query `probes`' `key` column against a sketch: estimate =
    * min over j of the key's bucket count (0 when the bucket is empty —
    * keys never inserted estimate 0 unless every row collides).
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, key: String,
      depth: Int, width: Int, as: String = "cms_est"): DataFrame = {
    val rows = (0 until depth).map(j =>
      struct(lit(j).as("j"), bucketExpr(col(key), j, width).as("bucket")))
    probes.select(col(key), explode(array(rows: _*)).as("e"))
      .select(col(key), col("e.j").as("j"), col("e.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(col(key))
      .agg(min(coalesce(col("cnt"), lit(0L))).as(as))
  }

  /** CMS inner-product join-size estimate (the AMS/Count-Min
    * equi-join cardinality estimator — Alon–Matias–Szegedy's F₂ idea
    * applied to two relations): |A ⋈_key B| = Σ_k f_A(k)·f_B(k), and
    * each sketch row j overestimates it as Σ_bucket cntA·cntB (hash
    * collisions only ever ADD mass), so min over j is the classic
    * never-undercounting estimate. THE planning primitive at 100 TB:
    * both sketches are one scan + a (depth·width)-row frame each, so
    * the engine can predict whether a join explodes before paying for
    * it — no row of either table crosses the wire.
    *
    * Entirely integer arithmetic on the shared explicit hash family —
    * DuckDB replays the whole estimator bit-for-bit. Overflow bound:
    * Σ cntA·cntB ≤ |A|·|B|, so the estimate itself must fit a long —
    * fine until both sides exceed ~3·10⁹ rows; beyond that route the
    * products through DECIMAL(38,0).
    *
    * @return one row: (join_size_est, depth, width)
    */
  def cmsJoinSizeEstimate(a: DataFrame, b: DataFrame, key: String,
      depth: Int, width: Int): DataFrame = {
    val sa = cmsBuild(a, key, depth, width)
    val sb = cmsBuild(b, key, depth, width).withColumnRenamed("cnt", "cnt_b")
    sa.join(sb, Seq("j", "bucket"))
      .groupBy(col("j"))
      .agg(sum(col("cnt") * col("cnt_b")).as("dot"))
      .agg(min(col("dot")).as("join_size_est"))
      .select(col("join_size_est"),
        lit(depth).as("depth"), lit(width).as("width"))
  }

  /** Mergeable one-pass histogram build over a fixed value range: the
    * shard-mergeable quantile substrate (the third tier beside q23's
    * exact sort-based quantile and q23b's approx_percentile contract).
    * At 100 TB every shard builds its own `nBuckets`-row histogram in
    * one scan; merging is integer addition of bucket counts
    * ([[histMerge]]) and the quantile walk runs on the merged
    * `nBuckets`-row frame — no re-scan, no sort, deterministic. The
    * worst-case estimate error is one bucket width, (hi−lo)/nBuckets,
    * by construction.
    *
    * Values are clamped into [lo, hi] (the under/overflow rows land in
    * the first/last bucket — size the range from a [[graft.ops.Validate.profile]]
    * pass). Bucket assignment is ONE expression string
    * ([[histBucketExpr]]) parsed identically by Spark and DuckDB.
    */
  def histBuild(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"need nBuckets >= 2, got $nBuckets")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .selectExpr(histBucketExpr(lo, hi, nBuckets) + " AS bucket")
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Densified [[histBuild]] collected to the driver — the FROZEN
    * reference ladder for streaming drift correction
    * ([[graft.streaming.Streams.quantileMapStream]]): nBuckets longs,
    * absent buckets 0, vocabulary-sized by contract (≤ 64 entries).
    */
  def histReferenceCounts(ref: DataFrame, valueCol: String, lo: Double,
      hi: Double, nBuckets: Int): Seq[Long] = {
    val m = histBuild(ref, valueCol, lo, hi, nBuckets)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until nBuckets).map(b => m.getOrElse(b.toLong, 0L))
  }

  /** Merge shard histograms: integer addition per bucket. */
  def histMerge(shards: Seq[DataFrame]): DataFrame = {
    require(shards.nonEmpty, "need at least one shard histogram")
    shards.reduce(_ unionByName _)
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
  }

  /** Quantile estimates from a (merged) histogram: for each q the
    * first bucket whose cumulative count reaches ceil(q·N), linearly
    * interpolated inside the bucket. Runs entirely on the
    * `nBuckets`-row frame (one tiny window + a |qs|-row cross join);
    * the estimate expression is ONE string ([[histEstExpr]]) shared
    * with the SQL replay, rounded to 6 decimals.
    *
    * @return (q, n, est) per requested quantile
    */
  def histQuantile(hist: DataFrame, lo: Double, hi: Double, nBuckets: Int,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must be in (0, 1]")
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cume", sum(col("cnt")).over(w))
      .crossJoin(broadcast(hist.agg(sum(col("cnt")).as("n"))))
    // CAST each literal: a bare 0.25 parses as DECIMAL in both engines
    val qf = qs.map(q => s"CAST($q AS DOUBLE)").mkString(", ")
    val targets = cum.sparkSession.range(1)
      .selectExpr(s"explode(array($qf)) AS q")
    targets.join(cum,
        expr("cume >= CAST(CEIL(q * n) AS BIGINT)" +
          " AND cume - cnt < CAST(CEIL(q * n) AS BIGINT)"))
      .selectExpr("q", "n", histEstExpr(lo, hi, nBuckets) + " AS est")
  }

  /** Grouped [[histBuild]]: one histogram per key of `group` — the
    * distributed per-group quantile substrate (per-source length
    * distributions, per-tenant latency percentiles). Same mergeable
    * contract: shard results add by (grp, bucket).
    */
  def histBuildBy(df: DataFrame, group: String, valueCol: String,
      lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"need nBuckets >= 2, got $nBuckets")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    df.select(col(group).as("grp"), col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .selectExpr("grp", histBucketExpr(lo, hi, nBuckets) + " AS bucket")
      .groupBy(col("grp"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Grouped [[histQuantile]]: per (group, q) estimate. The quantile
    * walk runs on |groups|·nBuckets rows; within each group the
    * cumulative intervals partition [1..n], so the inequality join
    * matches exactly one bucket per (group, q).
    */
  def histQuantileBy(hist: DataFrame, lo: Double, hi: Double,
      nBuckets: Int, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must be in (0, 1]")
    val w = Window.partitionBy(col("grp")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cume", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("grp"))))
    val qf = qs.map(q => s"CAST($q AS DOUBLE)").mkString(", ")
    val targets = cum.sparkSession.range(1)
      .selectExpr(s"explode(array($qf)) AS q")
    targets.join(cum,
        expr("cume >= CAST(CEIL(q * n) AS BIGINT)" +
          " AND cume - cnt < CAST(CEIL(q * n) AS BIGINT)"))
      .selectExpr("grp", "q", "n", histEstExpr(lo, hi, nBuckets) + " AS est")
  }

  // --- KMV distinct / overlap sketch (NEW r10) -----------------------

  /** KMV (k-minimum-values) distinct sketch of a string column: the k
    * SMALLEST distinct scrambled hash values (Bar-Yossef et al. 2002)
    * — k rows per corpus regardless of size, built by ONE distributed
    * top-k (Catalyst's TakeOrderedAndProject: per-partition heaps + a
    * k-row merge, no global sort, no single-partition window).
    * Mergeable by construction: union two sketches and re-take the k
    * smallest — exactly how shard sketches combine at 100 TB.
    *
    * The raw [[graft.expressions.TextHashes.poly_hash]] is a ROLLING
    * polynomial — near-identical inputs give near-identical values
    * (sequential doc texts were measured hashing to CONSECUTIVE
    * integers), which wrecks the order statistics KMV estimates from.
    * [[kmvScramble]] composes it with a fixed affine bijection mod
    * P (prime), mapping step-1 input runs to step-c runs that the
    * three-distance theorem equidistributes over [0, P) — and, being
    * one integer expression, it replays in SQL exactly like the poly
    * hash itself. So unlike HLL tiers the WHOLE sketch AND its
    * estimates hash-gate bit-for-bit cross-engine.
    *
    * @return (rk, h): rank 1..k by ascending hash (the window runs on
    *         the k-row result — bounded by construction)
    */
  def kmvSketch(df: DataFrame, value: Column, k: Int): DataFrame = {
    require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")
    val p = graft.expressions.HashSpec.P
    val mixed = (graft.expressions.TextHashes.poly_hash(value)
      * lit(kmvMixA) + lit(kmvMixB)) % lit(p)
    val top = df.select(mixed.as("h"))
      .filter(col("h").isNotNull)
      .distinct()
      .orderBy(col("h"))
      .limit(k)
    top.withColumn("rk", row_number().over(Window.orderBy(col("h"))))
      .select(col("rk"), col("h"))
  }

  /** Fixed affine-scramble constants (odd multiplier coprime to P). */
  val kmvMixA: Long = 961748927L
  val kmvMixB: Long = 322193L

  /** [[kmvSketch]] collected to its k sorted hash values — the
    * compute-once-FREEZE producer for monitors that pin a reference
    * sketch as a literal (the [[Validate.psiReferenceCounts]] pattern):
    * run once when the reference corpus is blessed, ship the ≤ k longs
    * in config, and no live query ever rescans the reference. Bounded
    * k-row collect by construction.
    */
  def kmvSketchValues(df: DataFrame, value: Column, k: Int): Seq[Long] =
    kmvSketch(df, value, k).orderBy(col("rk"))
      .collect().map(_.getAs[Long]("h")).toSeq

  /** DuckDB replay of the KMV scrambled hash over a poly-hash SQL
    * expression — shared verbatim with the oracle.
    */
  def kmvScrambleSql(polySql: String): String =
    s"($kmvMixA * ($polySql) + $kmvMixB) % ${graft.expressions.HashSpec.P}"

  /** DuckDB replay of [[graft.expressions.HashSpec.polyHash]] over a
    * string SQL expression (the same list_reduce form the minhash
    * oracles use) — so any KMV consumer can build the full scrambled
    * hash as `kmvScrambleSql(polyHashSql(e))`.
    */
  def polyHashSql(e: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, x) -> (a * 31 + x) % ${graft.expressions.HashSpec.P})"

  /** Grouped [[kmvSketch]]: the k smallest distinct scrambled hashes
    * PER KEY of `group` — per-source/tenant distinct estimates at
    * O(k) rows per key. One aggregation on (grp, h) then a
    * grp-PARTITIONED rank filter (scalable — never a global window);
    * same mergeable contract per group.
    *
    * @return (grp, rk, h)
    */
  def kmvSketchBy(df: DataFrame, group: String, value: Column,
      k: Int): DataFrame = {
    require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")
    val p = graft.expressions.HashSpec.P
    val mixed = (graft.expressions.TextHashes.poly_hash(value)
      * lit(kmvMixA) + lit(kmvMixB)) % lit(p)
    val w = Window.partitionBy(col("grp")).orderBy(col("h"))
    df.select(col(group).as("grp"), mixed.as("h"))
      .filter(col("h").isNotNull && col("grp").isNotNull)
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("grp"), col("rk"), col("h"))
  }

  /** Per-group distinct estimate from a [[kmvSketchBy]] result — same
    * floor arithmetic as [[kmvDistinct]], one bounded agg per group.
    *
    * @return (grp, n_sketch, est_distinct)
    */
  def kmvDistinctBy(sketch: DataFrame, k: Int): DataFrame = {
    val p = graft.expressions.HashSpec.P
    sketch.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("hk"))
      .select(col("grp"), col("n_sketch"),
        when(col("n_sketch") < k, col("n_sketch"))
          .otherwise(expr(s"(${k - 1}L * ${p}L) div hk"))
          .as("est_distinct"))
  }

  /** Pairwise overlap MATRIX from a grouped sketch ([[kmvSketchBy]]):
    * the [[kmvOverlap]] estimator for EVERY pair of groups at once —
    * the full shard-contamination triage a curation run wants, costing
    * |pairs|·2k bounded rows instead of |pairs| distinct joins over
    * the corpora. Merged per-pair top-k via one rank over the unioned
    * sketch rows (partitioned by pair — never global), membership via
    * two semi-join flags on the k-row frames.
    *
    * SHARD-COUNT posture: the matrix is quadratic in |groups| — S
    * shards ⇒ S·(S−1)/2 pairs ⇒ ~S²·k intermediate rows. That stays a
    * small bounded frame for fleet-scale shard counts (S = 10³, k = 64
    * ⇒ ~500k pairs, ~64 M narrow rows through two HASH equi-joins —
    * measured receipt in PLANS.md), but is the wrong tool at S ≫ 10³:
    * there, prefilter the pair list by a cheap blocking key (e.g.
    * bucket shards by [[kmvDistinctBy]]'s estimate, or restrict to
    * new-shard × blessed-shard pairs) before calling this with the
    * reduced `sketches` — the exact-containment gate then runs only on
    * flagged pairs, as in the q219b triage pipeline.
    *
    * @return (grp_a, grp_b, k_used, jaccard_bp, est_union,
    *         est_intersect) for every a < b
    */
  def kmvOverlapMatrix(sketches: DataFrame, k: Int): DataFrame = {
    require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")
    val p = graft.expressions.HashSpec.P
    // Collapse each group's k-row sketch to ONE sorted-array row (S
    // rows total), pair with a self-join, and do the per-pair merge /
    // membership entirely with codegen'd array functions. The whole
    // matrix is then one S-row shuffle + an S²/2-row map stage — no
    // per-(pair, h) row explosion (the previous formulation shuffled
    // |pairs|·2k rows and ran a per-pair rank window: measured 137 s /
    // 1.5 GB shuffle at S=1000, k=64 vs seconds for this form).
    // array_union dedups; array_intersect keeps each value once —
    // sketch hashes are distinct per group by construction.
    val arrs = sketches.groupBy(col("grp"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
    arrs.as("x").join(arrs.as("y"), col("x.grp") < col("y.grp"))
      .select(col("x.grp").as("grp_a"), col("y.grp").as("grp_b"),
        expr(s"slice(array_sort(array_union(x.hs, y.hs)), 1, $k)").as("mk"),
        array_intersect(col("x.hs"), col("y.hs")).as("both"))
      .select(col("grp_a"), col("grp_b"),
        size(col("mk")).cast("long").as("k_used"),
        size(array_intersect(col("mk"), col("both"))).cast("long")
          .as("n_both"),
        element_at(col("mk"), size(col("mk"))).as("hk"))
      .select(col("grp_a"), col("grp_b"), col("k_used"),
        when(col("k_used") === 0, lit(0L))
          .otherwise(expr("(10000L * n_both) div k_used")).as("jaccard_bp"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(s"(${k - 1}L * ${p}L) div hk")).as("est_union"))
      .withColumn("est_intersect",
        expr("(jaccard_bp * est_union) div 10000"))
  }

  /** Distinct-count estimate from a KMV sketch: if the sketch holds
    * fewer than k hashes the count is EXACT (= sketch size); else the
    * standard unbiased estimate floor((k−1)·P / h_k) with hashes
    * uniform on [0, P). Pure integers.
    *
    * @return one row (n_sketch, est_distinct)
    */
  def kmvDistinct(sketch: DataFrame, k: Int): DataFrame = {
    val p = graft.expressions.HashSpec.P
    sketch.agg(count(lit(1)).as("n_sketch"),
        max(col("h")).as("hk"))
      .select(col("n_sketch"),
        when(col("n_sketch") < k, col("n_sketch"))
          .otherwise(expr(s"(${k - 1}L * ${p}L) div hk"))
          .as("est_distinct"))
  }

  /** Corpus-overlap estimate from two KMV sketches — the
    * decontamination question ("how much of the eval shard leaked into
    * the train shard?") answered from 2·k rows instead of a distinct
    * join of two corpora. Merge the sketches, take the k smallest of
    * the union (the KMV of A ∪ B), and count how many of those appear
    * in BOTH input sketches: jaccard_bp = 10000·|both|/k', union from
    * the merged h_k, intersection = jaccard · union (floor at bp
    * precision). Exact-count degenerate cases (either side < k) stay
    * correct because the merged sketch is then the true union set.
    *
    * @return one row (k_used, jaccard_bp, est_union, est_intersect)
    */
  def kmvOverlap(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val merged = a.select(col("h")).unionByName(b.select(col("h")))
      .distinct().orderBy(col("h")).limit(k)
      .withColumn("rk", row_number().over(Window.orderBy(col("h"))))
    val inBoth = merged
      .join(a.select(col("h")), Seq("h"), "left_semi")
      .join(b.select(col("h")), Seq("h"), "left_semi")
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_both"))
    val stats = merged.agg(count(lit(1)).as("k_used"), max(col("h")).as("hk"))
    val p = graft.expressions.HashSpec.P
    // k_used = 0 (both corpora empty) would divide by zero — an empty
    // pair trivially has jaccard 0 / union 0 / intersection 0
    stats.crossJoin(broadcast(inBoth))
      .select(col("k_used"),
        when(col("k_used") === 0, lit(0L))
          .otherwise(expr("(10000L * n_both) div k_used")).as("jaccard_bp"),
        when(col("k_used") < k, col("k_used"))
          .otherwise(expr(s"(${k - 1}L * ${p}L) div hk")).as("est_union"))
      .withColumn("est_intersect",
        expr("(jaccard_bp * est_union) div 10000"))
  }

  /** Full KMV set ALGEBRA from two sketches — [[kmvOverlap]] extended
    * with the per-side and DIFFERENCE estimates: est_a/est_b from each
    * sketch's own (count, h_k), union/intersection from the merged
    * top-k (the kmvOverlap math verbatim), and
    * est_a_only = max(0, est_a − est_intersect) (same for b) — the
    * incremental-ingest question ("how many documents in the new
    * shard are genuinely NEW") answered from 2·k rows instead of an
    * anti-join of two corpora. The difference inherits both
    * estimators' error, so it is a TRIAGE number (the exact
    * anti-join runs only on shards this flags) — the same contract as
    * q219's intersection. All arithmetic is the established integer
    * floor math; the whole row hash-gates.
    *
    * @return one row (k_used, est_a, est_b, est_union, est_intersect,
    *         est_a_only, est_b_only, jaccard_bp)
    */
  def kmvSetAlgebra(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val p = graft.expressions.HashSpec.P
    def side(df: DataFrame, tag: String) = df
      .agg(count(lit(1)).as(s"k$tag"), max(col("h")).as(s"hk$tag"))
      .select(when(col(s"k$tag") < k, col(s"k$tag"))
        .otherwise(expr(s"(${k - 1}L * ${p}L) div hk$tag"))
        .as(s"est_$tag"))
    kmvOverlap(a, b, k)
      .crossJoin(broadcast(side(a, "a")))
      .crossJoin(broadcast(side(b, "b")))
      .select(col("k_used"), col("est_a"), col("est_b"),
        col("est_union"), col("est_intersect"),
        greatest(lit(0L), col("est_a") - col("est_intersect"))
          .as("est_a_only"),
        greatest(lit(0L), col("est_b") - col("est_intersect"))
          .as("est_b_only"),
        col("jaccard_bp"))
  }

  /** Clamped equi-width bucket index of `v` — shared verbatim with the
    * oracle. Every literal is CAST to DOUBLE: Spark parses a bare
    * `15.0` as DECIMAL and then ROUNDS the decimal division
    * `15.0/256` to 0.058594, while DuckDB computes the exact double
    * 0.05859375 — a one-bucket flip on boundary values (caught by
    * q151d; earlier ranges like 200/32 = 6.25 were decimal-exact by
    * luck, the same trap histQuantile's q-literals already document).
    */
  def histBucketExpr(lo: Double, hi: Double, nBuckets: Int): String =
    s"LEAST(GREATEST(CAST(FLOOR((v - CAST($lo AS DOUBLE)) /" +
      s" ((CAST($hi AS DOUBLE) - CAST($lo AS DOUBLE)) / $nBuckets))" +
      s" AS BIGINT), 0), ${nBuckets - 1})"

  /** Linear interpolation inside the quantile's bucket — shared
    * verbatim with the oracle. Uses (bucket, cnt, cume, n, q).
    */
  def histEstExpr(lo: Double, hi: Double, nBuckets: Int): String =
    s"ROUND(CAST($lo AS DOUBLE) + ((CAST($hi AS DOUBLE)" +
      s" - CAST($lo AS DOUBLE)) / $nBuckets) * (CAST(bucket AS DOUBLE)" +
      " + (CAST(CEIL(q * n) AS DOUBLE) - (CAST(cume AS DOUBLE)" +
      " - CAST(cnt AS DOUBLE))) / CAST(cnt AS DOUBLE)), 6)"

  /** IN-ROW quantile walk over ladder-count columns n0..n{B-1} plus a
    * total column `n` — [[histEstExpr]]'s arithmetic restated for the
    * single-row histogram shape the streaming monitor carries (one
    * column per bucket, not one row per bucket): the estimate for `q`
    * is the first bucket whose in-row cumulative sum reaches
    * ceil(q·n), linearly interpolated inside it. SQL CASE picks the
    * FIRST matching arm in both engines, so the walk is deterministic
    * and the oracle replays this string verbatim over FILTER-counted
    * buckets. Textually O(B²) in the cumulative sums — fine at the
    * ladder widths a monitor uses (B ≤ 64).
    */
  def histLadderQuantileExpr(lo: Double, hi: Double, nBuckets: Int,
      q: Double): String = {
    val width = s"((CAST($hi AS DOUBLE) - CAST($lo AS DOUBLE)) / $nBuckets)"
    val tgt = s"CAST(CEIL(CAST($q AS DOUBLE) * n) AS BIGINT)"
    def cume(i: Int) = (0 to i).map(j => s"n$j").mkString("(", " + ", ")")
    val arms = (0 until nBuckets).map { i =>
      s"WHEN ${cume(i)} >= $tgt THEN CAST($lo AS DOUBLE) + $width *" +
        s" (CAST($i AS DOUBLE) + (CAST($tgt AS DOUBLE) -" +
        s" CAST(${cume(i)} - n$i AS DOUBLE)) / CAST(n$i AS DOUBLE))"
    }.mkString(" ")
    s"ROUND(CASE $arms END, 6)"
  }

  /** EXACT heavy hitters without a full-tail shuffle: every value with
    * frequency STRICTLY ABOVE N/k, with its exact count. The
    * THRESHOLD-contract sibling of [[graft.ops.Corpus.heavyHitters]]
    * (top-k ranked, whose per-row `ok` displacement proof can fail on
    * adversarial distributions): here the threshold IS the MG bound,
    * so completeness is unconditional — no distribution can hide a
    * qualifying value. Two passes:
    *
    *  1. per-partition Misra–Gries with k counters (`mapPartitions`,
    *     O(k) state, no shuffle) → candidate values. MG's guarantee
    *     lifts by pigeonhole: if freq(v) > N/k globally then
    *     freq_p(v) > n_p/k in some partition p, so v survives p's
    *     summary — candidates ⊇ all true heavy hitters, NO false
    *     negatives regardless of partitioning.
    *  2. exact recount of candidates only (broadcast semi-join of a
    *     ≤ k·|partitions| value list into one scan) and the integer
    *     filter cnt·k > N — false positives vanish here, so the OUTPUT
    *     is a pure function of (multiset, k): deterministic under any
    *     partitioning, hash-gatable against a plain GROUP BY / HAVING.
    *
    * The 100 TB point: a naive value_counts shuffles the full tail
    * (distinct-values-sized); this shuffles ≤ k rows per partition for
    * the sketch plus the candidate-filtered counts — heavy-hitter cost
    * tracks k·partitions, not cardinality.
    *
    * @return (value, cnt, n_total) for every value with cnt·k > N,
    *         one row per heavy hitter
    */
  def heavyHitters(df: DataFrame, valueCol: String, k: Int): DataFrame = PinScope { pins =>
    require(k >= 2 && k <= 100000, s"k must be in [2, 100000], got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull)
    // pass 1 emits candidates AND the partition row count in one scan
    // (a null-keyed count row per partition), so the whole op is TWO
    // scans — sketch+count, then the candidate recount — not three
    val summary = pins.cache(vals.as[String].mapPartitions { it =>
      // Misra–Gries: k counters; decrement-all on overflow admission.
      // Each trigger removes k mass and mass added ≤ n_p, so triggers
      // ≤ n_p/k and the O(k) sweep amortizes to O(1)/row.
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { v =>
        n += 1L
        if (m.contains(v)) m(v) += 1L
        else if (m.size < k) m(v) = 1L
        else {
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          m.keysIterator.foreach { kk =>
            val nv = m(kk) - 1L
            if (nv == 0L) dead += kk else m(kk) = nv
          }
          dead.foreach(m.remove)
        }
      }
      Iterator.single((Option.empty[String], n)) ++
        m.keysIterator.map(v => (Option(v), 0L))
    }.toDF("v", "n"))
    val candidates = summary.filter(col("v").isNotNull)
      .select(col("v")).distinct()
    val total = summary.filter(col("v").isNull)
      .agg(sum(col("n")).as("n_total"))
    pins.pin(vals.join(broadcast(candidates), Seq("v"), "left_semi")
      .groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("n_total"))
      .select(col("v").as("value"), col("cnt"), col("n_total")))
  }

  /** Grouped [[heavyHitters]]: per-group exact heavy hitters (every
    * value with within-group frequency above N_g/k) — per-source
    * boilerplate/stopword discovery. Pass 1 runs one MG summary PER
    * GROUP PER PARTITION (state k·|groups in partition| — fine for
    * dashboard-grade group counts; shard first at millions of groups),
    * carrying per-(partition, group) row counts in the same scan; the
    * pigeonhole lift holds within each group, so per-group candidates
    * have no false negatives. Pass 2 recounts (group, value)
    * candidates exactly and filters cnt·k > N_g — deterministic,
    * hash-gatable per group.
    *
    * The O(G_p·k) pass-1 state and the |groups|·k candidate broadcast
    * make group cardinality the scale bound, so it is GUARDED, not
    * prose: a cheap exact count-distinct over the group column runs
    * first and the op fails fast above `maxGroups` with the shard
    * guidance in the message (one extra column-pruned scan — noise
    * next to pass 1 + recount).
    *
    * @return (grp, value, cnt, n_total) per heavy hitter
    */
  def heavyHittersBy(df: DataFrame, group: String, valueCol: String,
      k: Int, maxGroups: Int = 100000): DataFrame = PinScope { pins =>
    require(k >= 2 && k <= 100000, s"k must be in [2, 100000], got $k")
    require(maxGroups >= 1, s"maxGroups must be >= 1, got $maxGroups")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(col(group).cast("string").as("g"),
        col(valueCol).cast("string").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val nGroups = vals.select(countDistinct(col("g"))).head().getLong(0)
    require(nGroups <= maxGroups,
      s"heavyHittersBy: $nGroups distinct groups exceeds maxGroups=" +
        s"$maxGroups — pass-1 task state is O(groups-per-partition x k) " +
        "and the candidate broadcast is O(groups x k); shard by the " +
        "group column and run per shard, or raise maxGroups if the " +
        "driver/executor memory budget allows")
    val summary = pins.cache(vals.as[(String, String)].mapPartitions { it =>
      val ms = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.HashMap[String, Long]]
      val ns = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { case (g, v) =>
        ns(g) = ns.getOrElse(g, 0L) + 1L
        val m = ms.getOrElseUpdate(g,
          scala.collection.mutable.HashMap.empty[String, Long])
        if (m.contains(v)) m(v) += 1L
        else if (m.size < k) m(v) = 1L
        else {
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          m.keysIterator.foreach { kk =>
            val nv = m(kk) - 1L
            if (nv == 0L) dead += kk else m(kk) = nv
          }
          dead.foreach(m.remove)
        }
      }
      ns.iterator.map { case (g, n) => (g, Option.empty[String], n) } ++
        ms.iterator.flatMap { case (g, m) =>
          m.keysIterator.map(v => (g, Option(v), 0L)) }
    }.toDF("g", "v", "n"))
    val candidates = summary.filter(col("v").isNotNull)
      .select(col("g"), col("v")).distinct()
    val totals = summary.filter(col("v").isNull)
      .groupBy(col("g")).agg(sum(col("n")).as("n_total"))
    pins.pin(vals.join(broadcast(candidates), Seq("g", "v"), "left_semi")
      .groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), Seq("g"))
      .filter(col("cnt") * k > col("n_total"))
      .select(col("g").as("grp"), col("v").as("value"), col("cnt"),
        col("n_total")))
  }
}
