package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.TextHashes._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * The reference exposes the kernels (nvtext minhash / jaccard,
  * [cpp/src/text/minhash.cu], [python/cudf/cudf/core/column/string.py
  * (nvtext section)]) but leaves pipeline assembly to the user; here the
  * full pipelines are first-class operators.
  *
  * 100 TB posture — every pipeline is pure shuffle-based dataflow:
  *  - no driver-side collection anywhere; candidate generation is an
  *    equi-join on fingerprint / band-key / n-gram / bucket columns, so
  *    Catalyst plans ordinary shuffled hash joins that AQE can re-split
  *    on skew;
  *  - signatures are computed by codegen'd expressions (one pass over
  *    the text, SURVEY §7.3) before the shuffle, so shuffled rows carry
  *    only (id, small signature), never the document body;
  *  - banding (minhash) and blocking (jaccard/simhash) bound the join
  *    fan-out; a pathological hot band (e.g. billions of empty docs)
  *    surfaces as a skewed key — cap it upstream by filtering
  *    `bucketSize > threshold` buckets into a quarantine pass.
  */
object Dedup {

  /** Whitespace-collapse + trim + lowercase — the canonical text
    * normalization shared by every fingerprint here and the DuckDB
    * oracles.
    */
  def normText(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Exact dedup: md5 over normalized text (SURVEY §7.2 M6a).
    * Returns one row per duplicate group: fingerprint, member count,
    * canonical (min) id.
    */
  def exactDuplicateGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.select(md5(normText(col(text))).as("fp"), col(id))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_members"), min(col(id)).as("keep_id"))

  /** Duplication-multiplicity profile — the corpus-health report run
    * BEFORE committing to a dedup pass: per power-of-two multiplicity
    * bucket (1, 2–3, 4–7, …), how many exact-duplicate clusters land
    * there, how many documents they hold, how many of those documents
    * are redundant (cluster size − 1 each), and each bucket's share of
    * the corpus in floor basis points. A crawl whose mass sits in the
    * high buckets pays for [[dedupCorpus]]; one that is 99% singletons
    * does not — this one scan answers that before the LSH spend.
    *
    * Composition: [[exactDuplicateGroups]]'s fingerprint substrate
    * (md5 over [[normText]]) flowing into [[Validate.skewProfile]]'s
    * bin()-length bucketing (engine-identical integer string ops,
    * never float log2 at bucket boundaries), plus the share/redundancy
    * columns neither parent has.
    *
    * 100 TB posture: one groupBy on the 16-byte fingerprint (documents
    * never shuffle — the fp is computed map-side), then a second
    * aggregation over cluster rows, then a ≤64-row result crossed with
    * a broadcast 1-row total. Cost ≈ the fingerprint leg of exact
    * dedup itself.
    */
  def duplicationProfile(df: DataFrame, text: String): DataFrame = {
    val clusters = df.select(md5(normText(col(text))).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("sz"))
    val buckets = clusters
      .withColumn("bucket", (length(expr("bin(sz)")) - 1).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1L).as("n_redundant"), max(col("sz")).as("max_sz"))
    val total = df.agg(count(lit(1)).as("t"))
    buckets.crossJoin(broadcast(total))
      .select(col("bucket"), expr("CAST(1 AS BIGINT) << bucket").as("lo_sz"),
        col("n_clusters"), col("n_docs"), col("n_redundant"), col("max_sz"),
        expr("(10000 * n_docs) div t").as("docs_bp"))
  }

  /** Incremental exact dedup: rows of `fresh` whose normalized-content
    * fingerprint does not already exist in `ingested` — the shape of
    * every snapshot-over-snapshot corpus refresh (dedupe the new crawl
    * against the existing corpus WITHOUT re-clustering the whole
    * corpus). Left-anti join on the fingerprint; at 100 TB the ingested
    * side is a persisted fingerprint table (bucketed by fp), so the new
    * shard's shuffle is its own size only.
    */
  def dedupAgainst(fresh: DataFrame, ingested: DataFrame, id: String,
      text: String): DataFrame = {
    val fp = md5(normText(col(text)))
    fresh.withColumn("fp", fp)
      .join(ingested.select(fp.as("fp")).distinct(), Seq("fp"), "left_anti")
  }

  /** MinHash signatures: id → array<long> length n over k-char shingles.
    * The pre-repartition spreads signature computation (n hash passes
    * per character) across cores even when the scan yields few
    * partitions (single file / large row-groups); the one-time shuffle
    * of raw text costs less than serializing the hashing.
    */
  def minhashSignatures(df: DataFrame, id: String, text: String,
      k: Int = 5, n: Int = 16): DataFrame =
    graft.Tables.spread(df.select(col(id), col(text)), id)
      .select(col(id), minhash_sig(normText(col(text)), k, n).as("sig"))

  /** Corpus snapshot diff — the data-versioning dashboard between two
    * crawls: per id, `added` (only in new), `removed` (only in old),
    * `changed` (both, normalized text differs), `unchanged`. One
    * full-outer join on id; shuffled rows carry md5 fingerprints, not
    * text — the same posture as every dedup op here.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: String,
      text: String): DataFrame = {
    // presence markers, not fingerprint nullness: a null text hashes to
    // null and must still count as present on its side
    val o = oldDf.select(col(id), md5(normText(col(text))).as("__fp_old"),
      lit(1).as("__in_old"))
    val n = newDf.select(col(id), md5(normText(col(text))).as("__fp_new"),
      lit(1).as("__in_new"))
    o.join(n, Seq(id), "full_outer")
      .select(col(id),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(not(col("__fp_old") <=> col("__fp_new")), "changed")
          .otherwise("unchanged").as("verdict"))
  }

  /** LSH banding parameter planner (the MMDS ch.3 S-curve analysis):
    * for every (bands, rowsPerBand) factorization of `nPerm`, the
    * midpoint-rule false-positive / false-negative areas of the
    * detection curve P(s) = 1 − (1 − s^r)^b around `threshold`, plus
    * the argmin row — the (b, r) a user should pass to
    * [[minhashCandidatePairs]] for a target similarity.
    *
    * Determinism: each grid cell's probability is FLOORED to parts-
    * per-billion before summing, so the two integral columns are exact
    * integer sums (association-order-free — the q152b quantization
    * trick) and the argmin cannot flip on last-ulp drift. Pure
    * planning math over a |divisors|×grid literal frame; no input
    * table, trivially driver-safe at any corpus scale.
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, nPerm: Int = 16,
      threshold: Double = 0.5, grid: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = (1 to nPerm).filter(nPerm % _ == 0)
    val pdf = spark.createDataFrame(pairs.map(b => (b, nPerm / b)))
      .toDF("bands", "rows_per_band")
    val g = spark.range(grid)
      .select(((col("id").cast("double") + 0.5) / grid).as("s"))
    val ppb = lit(1000000000L)
    val j = pdf.crossJoin(g)
      .withColumn("p_ppb", floor((lit(1.0) -
        pow(lit(1.0) - pow(col("s"), col("rows_per_band")), col("bands"))) * 1e9).cast("long"))
    val w = Window.orderBy(col("score_ppb").asc, col("bands").asc)
    j.groupBy("bands", "rows_per_band")
      .agg(
        sum(when(col("s") <= threshold, col("p_ppb")).otherwise(0L)).as("fp_ppb"),
        sum(when(col("s") > threshold, ppb - col("p_ppb")).otherwise(0L)).as("fn_ppb"))
      .withColumn("score_ppb", col("fp_ppb") + col("fn_ppb"))
      .withColumn("chosen", row_number().over(w) === 1)
  }

  /** MinHash + LSH banding candidate pairs (SURVEY §7.2 M6b).
    * n/bands rows per band; docs sharing any band key become a candidate
    * pair; est_jaccard = fraction of equal signature positions.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, distinct.
    */
  /** (id, sig, band, bkey) rows: minhash signatures exploded to one row
    * per LSH band. The n×8B sig rides the Generate + shuffle (~200B/row)
    * — cheaper than recomputing the signature on both sides of a
    * pair⋈sigs join (the previous shape evaluated minhash_sig 3×).
    */
  /** LSH band-key array from a minhash signature column: element b is
    * the "-"-joined slice of rows n/bands·b .. n/bands·(b+1) — THE band
    * arithmetic every LSH consumer here (batch q92 family, streaming
    * near-dup monitor) shares, so oracles replay one construction.
    */
  def bandKeyArray(sig: Column, n: Int, bands: Int): Column = {
    require(n % bands == 0, s"bands=$bands must divide n=$n")
    val rows = n / bands
    array((0 until bands).map { b =>
      concat_ws("-", (0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*)
    }: _*)
  }

  /** Banded signatures of a BOUNDED blessed corpus collected to
    * literal (band, bkey) values — the compute-once producer for
    * streaming near-dup monitors (the [[graft.ops.Sketches.kmvSketchValues]]
    * pattern: the stream carries only literals, no reference scan).
    * Size is |blessed docs|·bands rows: call this on a bounded
    * reference sample (an eval set, a blocklist), never a full corpus.
    */
  def bandKeyValues(df: DataFrame, id: String, text: String,
      k: Int = 5, n: Int = 16, bands: Int = 4): Seq[(Int, String)] =
    bandedSigs(df, id, text, k, n, bands)
      .select(col("band"), col("bkey")).distinct()
      .orderBy(col("band"), col("bkey"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq

  private def bandedSigs(df: DataFrame, id: String, text: String,
      k: Int, n: Int, bands: Int): DataFrame = {
    minhashSignatures(df, id, text, k, n)
      .select(col(id), col("sig"),
        posexplode(bandKeyArray(col("sig"), n, bands)).as(Seq("band", "bkey")))
  }

  /** Estimated Jaccard from two signature array columns. */
  private def estJaccard(a: Column, b: Column, n: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / n

  def minhashCandidatePairs(df: DataFrame, id: String, text: String,
      k: Int = 5, n: Int = 16, bands: Int = 4): DataFrame = {
    val banded = bandedSigs(df, id, text, k, n, bands)

    val a = banded.select(col(id).as("id_a"), col("sig").as("sig_a"), col("band"), col("bkey"))
    val b = banded.select(col(id).as("id_b"), col("sig").as("sig_b"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), n).as("est_jaccard"))
      // est_jaccard is deterministic per pair, so distinct-after-compute
      // collapses multi-band collisions exactly like distinct-on-ids did
      .distinct()
  }

  /** Incremental NEAR-dedup: fresh-shard documents whose minhash
    * signature LSH-collides with an already-ingested document and whose
    * estimated Jaccard clears the threshold — the fuzzy companion of
    * [[dedupAgainst]]. At 100 TB the ingested side is a persisted
    * banded-signature table (append-only, bucketed by band key), so
    * each refresh shuffles only the NEW shard's bands against it;
    * nothing of the old corpus is rescanned or re-hashed.
    */
  def nearDupAgainst(fresh: DataFrame, ingested: DataFrame, id: String,
      text: String, k: Int = 5, n: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.5): DataFrame = {
    val f = bandedSigs(fresh, id, text, k, n, bands)
      .select(col(id).as("fresh_id"), col("sig").as("sig_f"),
        col("band"), col("bkey"))
    val g = bandedSigs(ingested, id, text, k, n, bands)
      .select(col(id).as("ingested_id"), col("sig").as("sig_i"),
        col("band"), col("bkey"))
    f.join(g, Seq("band", "bkey"))
      .select(col("fresh_id"), col("ingested_id"),
        estJaccard(col("sig_f"), col("sig_i"), n).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Connected components over near-duplicate pairs (SURVEY §7.2 M6b:
    * minhash → LSH banding → connected components): assigns every doc
    * the minimum id reachable through the pair graph, so each duplicate
    * cluster gets one canonical representative to keep.
    *
    * Iterative min-label propagation: labels(v) ← min(labels(v),
    * min labels(neighbors)) until fixpoint — converges in
    * graph-diameter rounds (near-dup clusters are near-cliques, so 2–3).
    * Each round is one shuffle join + one aggregation; the driver only
    * checks a changed-count per round (no data collected). At 100 TB
    * this is the standard large/small-star regime; cap `maxIter`.
    *
    * @param pairs (id_a, id_b) candidate edges, id_a < id_b
    * @return (id, cluster) — cluster = min id in the component;
    *         singletons (ids absent from pairs) are not emitted
    */
  def connectedComponents(pairs: DataFrame,
      maxIter: Int = 10): DataFrame = PinScope { pins =>
    // persist the edge list: every round joins against it AND the
    // upstream (e.g. the whole minhash-LSH pipeline) would otherwise be
    // re-executed per iteration (measured 3× the total runtime)
    val edges = pins.cache(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    // seed with the 1-hop minimum (min over neighbors ∪ self): the same
    // single aggregation a distinct would cost, but it folds what would
    // be the first propagation round into initialization — near-clique
    // dup graphs then converge in 2 rounds instead of 3 (measured ~0.8 s
    // per CC call at sf0.1)
    var labels = pins.cache(edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("lbl")))
    // r17 OPTIMIZATION (opt guide §2.4, §3.1): the label frame is
    // checkpointed per round (no stats), so the propagation join
    // defaulted to sort-merge — the symmetric edge list reshuffled and
    // re-sorted every round. labels is exactly one row per node; the
    // count below (which also materializes the persist the loop needs
    // anyway) picks the join strategy deliberately: broadcast while
    // |V| fits the session threshold, the unchanged shuffled join past
    // it. Identical labels either way.
    val sparkS = pairs.sparkSession
    val nV = labels.count()
    val bcastOk = BroadcastGuard.fits(sparkS, nV, BroadcastGuard.RowBytesNarrow)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // self rows carry the previous label in `old` (typed-null on
      // neighbor rows), so convergence falls out of the same aggregation
      // — no second labels join per round. Every dst is also a src
      // (edges are symmetric), so max(old) is never null after grouping.
      val lbl = labels.withColumnRenamed("id", "src")
      val viaNeighbor = edges.join(if (bcastOk) broadcast(lbl) else lbl, "src")
        .select(col("dst").as("id"), col("lbl"),
          when(lit(false), col("lbl")).as("old"))
      labels = pins.pin(labels
        .select(col("id"), col("lbl"), col("lbl").as("old")).union(viaNeighbor)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"), max(col("old")).as("old")))
      changed = labels.filter(col("lbl") =!= col("old")).count()
      iter += 1
    }
    // the last round's pin is the result (maxIter = 0 pins the seed)
    pins.pin(labels).select(col("id"), col("lbl").as("cluster"))
  }

  /** Connected components via alternating large-star/small-star edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the high-diameter complement to
    * [[connectedComponents]]: label propagation needs diameter rounds
    * (fine for near-clique dup clusters, fatal for chain-shaped graphs);
    * star rewriting contracts the graph toward component-minimum stars
    * in O(log n) rounds regardless of diameter.
    *
    * Each round is two rewrites, each one aggregation + one broadcast-or-
    * shuffle join on a shrinking edge list; the driver sees only a
    * per-round convergence count. Same contract as connectedComponents:
    * (id, cluster=min id in component), singletons not emitted.
    *
    *  - large-star(u): link every neighbor v > u to m = min(Γ(u) ∪ u)
    *  - small-star(u): over edges kept as (big, small): link every
    *    smaller neighbor (and u itself) to m
    */
  def connectedComponentsStar(pairs: DataFrame,
      maxIter: Int = 25): DataFrame = PinScope { pins =>
    // canonical (u > v) distinct edges, self-loops dropped
    def canon(e: DataFrame): DataFrame = e
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    // localCheckpoint (not persist) per round: each round's plan nests
    // the previous round's, so without lineage truncation Catalyst
    // analysis cost grows exponentially in the round count — the exact
    // failure mode this O(log n) variant exists to serve (many rounds)
    var edges = pins.pin(canon(pairs.select(col("id_a").as("u"), col("id_b").as("v"))))
    // node set comes from the checkpointed edge list so the (possibly
    // expensive) upstream runs exactly once; self-pairs are ignored
    val nodes = sym(edges).select(col("u").as("id")).distinct()
    // r17 OPTIMIZATION (opt guide §3.1): the per-round min maps
    // (lsMin/ssMin, ≤ |V| rows of two longs) are aggregation outputs
    // over checkpointed edges — no stats, so both rewrite joins planned
    // as sort-merge reshuffles of the (much wider) edge frames every
    // round. 2·|E₀| (one cheap count over the already-checkpointed
    // canonical edge list — no distinct pass) upper-bounds |V| for the
    // whole loop (the graph only contracts); broadcast while that
    // bound fits the session threshold, unchanged shuffled plan past
    // it.
    val sparkS = pairs.sparkSession
    val bcastM = BroadcastGuard.fits(sparkS, 2L * edges.count(),
      BroadcastGuard.RowBytesNarrow)
    var iter = 0
    var changed = 1L
    var prevCnt = -1L
    while (changed > 0 && iter < maxIter) {
      // large-star over the symmetric view: m = min(neighbors ∪ self)
      val lsMin = sym(edges).groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = canon(sym(edges)
        .join(if (bcastM) broadcast(lsMin) else lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
      // small-star on canonical (u > v) edges: m = min of the smaller
      // neighbors (all v < u here, so min(v) IS m); relink v's and u
      val ssMin = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      // eager pin doubles as the round's materialization barrier
      val next = pins.pin(canon(
        large.join(if (bcastM) broadcast(ssMin) else ssMin, "u")
          .select(col("v").as("u"), col("m").as("v"))
          .union(ssMin.select(col("u"), col("m").as("v")))))
      // convergence = edge-set fixpoint: no new edges (anti-join empty)
      // AND same cardinality (a strict subset is still a change).
      // r17 OPTIMIZATION: the anti-join only DECIDES anything when the
      // cardinalities already match — when they differ, changed > 0
      // either way — so run the exact anti-join ONLY on
      // candidate-final rounds (counts equal). Same decision every
      // round, one edge-list join instead of two on every non-final
      // round.
      val newCnt = next.count()
      changed =
        if (newCnt != prevCnt) 1L
        else next.join(edges, Seq("u", "v"), "left_anti").count()
      prevCnt = newCnt
      edges = next
      iter += 1
    }
    // fixpoint: edges are stars (u → component min v); roots map to
    // themselves, nodes that contracted away rejoin via the node set
    val starLbl = edges.select(col("u").as("id"), col("v").as("cluster"))
    nodes.join(starLbl, Seq("id"), "left")
      .groupBy(col("id"))
      .agg(coalesce(min(col("cluster")), first(col("id"))).as("cluster"))
  }

  /** End-to-end corpus dedup: the one call a training-data pipeline
    * makes. Exact pass FIRST — md5 groups collapse to their min-id
    * representative — then minhash→LSH→connected components over the
    * representatives only, then verdicts fan back out to every original
    * row. Ordering matters at scale: exact duplicates are the common
    * case in crawled corpora, and collapsing them first bounds the
    * quadratic near-dup candidate growth that identical texts would
    * otherwise inject into every shared band bucket (measured in the
    * PLANS.md 10× stress: replicated docs drove ~100× candidate pairs).
    *
    * @return (id, canonical_id, keep) for EVERY input row: canonical_id
    *         is the min id reachable through exact + fuzzy duplication,
    *         keep=1 iff this row is its own canonical representative.
    */
  def dedupCorpus(df: DataFrame, id: String, text: String,
      k: Int = 5, n: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.9): DataFrame = {
    val fp = df.select(col(id), md5(normText(col(text))).as("fp"))
    val groups = fp.groupBy(col("fp")).agg(min(col(id)).as("rep"))
    val withRep = fp.join(groups, "fp").select(col(id), col("rep"))
    val repDocs = df.join(
      withRep.filter(col(id) === col("rep")).select(col(id)), Seq(id), "left_semi")
    val pairs = minhashCandidatePairs(repDocs, id, text, k, n, bands)
      .filter(col("est_jaccard") >= minEstJaccard)
    val clusters = connectedComponents(pairs).withColumnRenamed("id", "rep")
    withRep.join(clusters, Seq("rep"), "left")
      .select(col(id), coalesce(col("cluster"), col("rep")).as("canonical_id"))
      .withColumn("keep", (col(id) === col("canonical_id")).cast("int"))
  }

  /** [[dedupCorpus]] with QUALITY-AWARE representative selection: the
    * survivor of each duplicate cluster is the member with the highest
    * `quality` (ties → min id), not the min id — what a production
    * pipeline actually wants (when a page was crawled twice, keep the
    * longer/cleaner extraction, not the one with the smaller row id).
    * The cluster structure is exactly [[dedupCorpus]]'s; selection adds
    * one map-side-combined argmax per cluster (max over
    * struct(quality, −id), O(1) state per cluster however hot) and one
    * keyed join — no windows. `quality` must be an exactly-comparable
    * numeric column (integer counts / cents; float quality would make
    * tie order engine-dependent).
    *
    * @return (id, canonical_id, best_id, keep) for every input row:
    *         canonical_id is the cluster key (min reachable id),
    *         best_id the quality-chosen survivor, keep=1 iff id is it.
    */
  def dedupCorpusKeepBest(df: DataFrame, id: String, text: String,
      quality: String, k: Int = 5, n: Int = 16, bands: Int = 4,
      minEstJaccard: Double = 0.9): DataFrame = PinScope { pins =>
    // memb is consumed TWICE (per-cluster argmax + the final join-back);
    // without materializing it each consumer re-runs the dedupCorpus
    // membership build — i.e. a second full pass over the corpus text
    // column at 100 TB. Eagerly pin the 3-NARROW-COLUMN frame (cheap to
    // write) and leave the wide final join LAZY — the r12 A/B
    // (scripts/ab_keepbest.scala, min-of-3 at sf0.1): shipped r10/r11
    // form (lazy persist + eager localCheckpoint of the FINAL frame)
    // 6.04 s, this form 4.27 s, persist+count barrier 4.88 s, base
    // dedupCorpus 3.68 s — all one text scan by inputMB; pinning the
    // narrow frame recovers most of the r10 regression because the
    // synchronous write is memb-sized, not result-sized. The result
    // reads memb, so its pin outlives the call; the connected-components
    // pin that dedupCorpus kept is released here.
    val memb = pins.pin(dedupCorpus(df, id, text, k, n, bands, minEstJaccard)
      .select(col(id), col("canonical_id"))
      .join(df.select(col(id), col(quality)), Seq(id)))
    val best = memb.groupBy(col("canonical_id"))
      .agg(max(struct(col(quality).as("q"), (-col(id)).as("negid"))).as("b"))
      .select(col("canonical_id"), (-col("b.negid")).as("best_id"))
    memb.join(best, Seq("canonical_id"))
      .select(col(id), col("canonical_id"), col("best_id"),
        (col(id) === col("best_id")).cast("int").as("keep"))
  }

  /** SimHash near-duplicate pairs within a blocking column: pairs whose
    * 32-bit simhash differs in ≤ maxHamming bits. Blocking bounds the
    * O(N²) inside each block; at scale block on a cheap partition key
    * (source/shard/date) or on simhash byte-prefixes.
    */
  def simhashNearPairs(df: DataFrame, id: String, text: String,
      block: String, maxHamming: Int = 3): DataFrame = {
    val sigs = graft.Tables.spread(df.select(col(id), col(block), col(text)), id)
      .select(col(id), col(block), simhash32(normText(col(text))).as("sh"))
    val a = sigs.select(col(id).as("id_a"), col(block).as("blk"), col("sh").as("sh_a"))
    val b = sigs.select(col(id).as("id_b"), col(block).as("blk"), col("sh").as("sh_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
  }

  /** Sorted posting list → (id_a, sz_a, id_b, sz_b) combinations with
    * the size-ratio prune. Long ids (cast upstream); input structs are
    * (i: long, s: int).
    */
  private val pairGenUdf = udf { (lst: Seq[org.apache.spark.sql.Row], minJ: Double) =>
    val n = lst.size
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Int)]
    var a = 0
    while (a < n) {
      val ia = lst(a).getLong(0); val sa = lst(a).getInt(1)
      var b = a + 1
      while (b < n) {
        val ib = lst(b).getLong(0); val sb = lst(b).getInt(1)
        if (math.min(sa, sb).toDouble / math.max(sa, sb) >= minJ)
          out += ((ia, sa, ib, sb))
        b += 1
      }
      a += 1
    }
    out.toSeq
  }

  /** Capped-path variant of [[pairGenUdf]]: postings additionally carry
    * each doc's hot-gram count `h` and unsafe flag `u`, which the
    * downstream jaccard correction needs per pair. Same size-ratio prune
    * (valid regardless of the cap: inter <= min(sz)).
    */
  private val pairGenHotUdf = udf { (lst: Seq[org.apache.spark.sql.Row], minJ: Double) =>
    val n = lst.size
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Int, Int, Long, Int, Int, Int)]
    var a = 0
    while (a < n) {
      val ra = lst(a)
      val ia = ra.getLong(0); val sa = ra.getInt(1)
      val ha = ra.getInt(2); val ua = ra.getInt(3)
      var b = a + 1
      while (b < n) {
        val rb = lst(b)
        val ib = rb.getLong(0); val sb = rb.getInt(1)
        if (math.min(sa, sb).toDouble / math.max(sa, sb) >= minJ)
          out += ((ia, sa, ha, ua, ib, sb, rb.getInt(2), rb.getInt(3)))
        b += 1
      }
      a += 1
    }
    out.toSeq
  }

  /** Token n-gram Jaccard pairs within a blocking column (SURVEY §2.7
    * ngrams + jaccard_index rows). One linear pipeline, no self-joins:
    * explode distinct grams → group by (block, gram) collecting the
    * sorted (id, sz) posting list → explode each list's in-list
    * combinations into candidate pairs → count per pair = |A∩B|, and
    * inclusion–exclusion recovers exact Jaccard from the sizes carried
    * on the pair rows. Every doc's gram set is computed exactly once
    * (the join-based alternative re-evaluates the gram expression per
    * reference), and the only shuffles are the two keyed aggregations —
    * both scale by adding executors.
    *
    * `maxDf > 0` engages the stop-gram cap — the 100 TB skew guard: a
    * gram in every doc ("of the and") makes its posting list the whole
    * corpus and the in-list pair explode quadratic. The cap drops grams
    * with df > maxDf from CANDIDATE GENERATION only, and stays EXACT:
    *  - a pair with J ≥ t shares I ≥ t/(1+t)·(szA+szB) grams, so if doc
    *    A's hot-gram count satisfies hA·(1+t) ≤ t·szA ("safe"), then
    *    hA < I and any qualifying pair touching A shares a cold gram —
    *    dropping A's hot postings cannot lose the pair;
    *  - docs violating that bound (hot-heavy boilerplate) are "unsafe"
    *    and keep their hot postings, so unsafe–unsafe pairs still meet;
    *  - the true jaccard is then recovered WITHOUT re-touching gram
    *    arrays: shared-kept-gram counts come from the same pair
    *    aggregation as the uncapped path, and the dropped-hot-gram
    *    correction is analytic — inter = nk exactly when both docs are
    *    unsafe (their hot postings were kept) or min(h) = 0; otherwise
    *    inter = nk + |hot(a) ∩ hot(b)|, computed from the tiny per-doc
    *    hot-gram arrays only for pairs surviving the upper-bound prune
    *    inter ≤ nk + min(h_a, h_b). (An earlier version re-verified
    *    every candidate against the full gram sets — measured 3× the
    *    uncapped runtime at sf0.1; the analytic correction removes the
    *    candidate-distinct and the wide verification join entirely.)
    * DedupCapSpec property-checks capped ≡ uncapped; q95b hash-gates it
    * on the corpus fixture against the exact DuckDB oracle.
    *
    * The capped path pins the per-doc gram arrays (computed by a UDF —
    * the expensive pass) because every cap derivation re-reads them;
    * the pins belong to the op's [[PinScope]] and outlive the call only
    * because the returned plan reads them.
    */
  def ngramJaccardPairs(df: DataFrame, id: String, text: String,
      block: String, ngram: Int = 3, minJaccard: Double = 0.2,
      maxDf: Int = 0, maxUnsafeFrac: Double = 0.5): DataFrame = PinScope { pins =>
    // long ids ride the posting-list structs; a non-integral id would
    // silently cast to null and NPE inside pairGenUdf (ADVICE r2)
    locally {
      import org.apache.spark.sql.types._
      val ok = Set[DataType](ByteType, ShortType, IntegerType, LongType)
      require(ok(df.schema(id).dataType),
        s"ngramJaccardPairs needs an integral id column; '$id' is ${df.schema(id).dataType.simpleString}")
    }
    require(maxDf <= 0 || minJaccard > 0,
      "maxDf cap requires minJaccard > 0 (the exactness bound divides by it)")

    // spread gram computation across cores before the UDF: the fixtures
    // (and many real corpora) arrive as single-row-group files, which
    // the parquet reader cannot split — without this the gram UDF runs
    // on ONE core (measured 4.2 s of q95's 5.2 s at sf0.1)
    val docGrams = graft.Tables
      .spread(df.select(col(id), col(block).as("blk"), col(text)), id)
      .select(col(id), col("blk"),
        TextAnalysis.ngramsUdf(split(normText(col(text)), " "), lit(ngram)).as("gs"))
      .withColumn("sz", size(col("gs")))

    def explodeGrams(dg: DataFrame): DataFrame =
      dg.select(col(id), col("blk"), col("sz"), explode(col("gs")).as("gram"))

    // in-list combinations via a compiled single-pass UDF: the nested
    // transform∘transform∘flatten formulation re-ran interpreted
    // lambdas per element (the PLANS.md HOF trap). The UDF also applies
    // the EXACT size-ratio bound inline — |A∩B| ≤ min(|A|,|B|) gives
    // J ≤ min/max, so min/max < threshold pairs can never qualify and
    // are never emitted into the shuffle.
    def postingPairs(grams: DataFrame) = grams
      .groupBy(col("blk"), col("gram"))
      .agg(array_sort(collect_list(struct(col(id).cast("long").as("i"),
        col("sz").as("s")))).as("lst"))
      .filter(size(col("lst")) > 1)
      .select(explode(pairGenUdf(col("lst"), lit(minJaccard))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("sz_a"),
        col("p._3").as("id_b"), col("p._4").as("sz_b"))

    if (maxDf <= 0) {
      val pairs = postingPairs(explodeGrams(docGrams))
      pairs.groupBy(col("id_a"), col("sz_a"), col("id_b"), col("sz_b"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard",
          col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    } else {
      // an eager pin materializes the gram arrays once for the four
      // consumers below
      val dg = pins.pin(docGrams)
      val g = explodeGrams(dg)
      // stop grams: tiny by construction (only grams in >maxDf docs),
      // so every join against it below is a broadcast — g is never
      // shuffled for the cap bookkeeping
      val hot = g.groupBy(col("blk"), col("gram"))
        .agg(count(lit(1)).as("gdf"))
        .filter(col("gdf") > maxDf)
        .select(col("blk"), col("gram"))
      // per-doc hot profile: hot-gram count + the hot grams themselves
      // (bounded by the stop-gram vocabulary, so per-doc tiny)
      val hotPerDoc = g.join(hot, Seq("blk", "gram"), "left_semi")
        .groupBy(col(id)).agg(count(lit(1)).cast("int").as("h"),
          collect_list(col("gram")).as("hgs"))
      // unsafe docs: hot-gram count too large for the exactness bound —
      // they keep hot postings (hot-heavy boilerplate; rare by design).
      // Checkpointed eagerly (N tiny rows) so the guard aggregate below
      // is free and the pair stage doesn't recompute the hot-count join.
      val docStats = pins.pin(dg.select(col(id), col("sz"))
        .join(hotPerDoc.select(col(id), col("h")), Seq(id), "left")
        .na.fill(0, Seq("h"))
        .withColumn("u",
          (col("h") * (1 + minJaccard) > lit(minJaccard) * col("sz")).cast("int")))
      // GUARD (round-7): the cap is only sub-quadratic while unsafe docs
      // are rare — on a wholesale-duplicated corpus every gram goes hot,
      // every doc goes unsafe, hot postings are all kept, and pair
      // generation silently reverts to the uncapped quadratic scan (the
      // 100× stress DNF). Fail fast with routing guidance instead.
      locally {
        val r = docStats.agg(count(lit(1)), sum(col("u"))).head()
        val nDocs = r.getLong(0)
        val nUnsafe = if (r.isNullAt(1)) 0L else r.getLong(1)
        val frac = if (nDocs == 0) 0.0 else nUnsafe.toDouble / nDocs
        require(frac <= maxUnsafeFrac,
          f"ngramJaccardPairs maxDf=$maxDf cap: $nUnsafe of $nDocs docs " +
            f"(${frac * 100}%.0f%% > maxUnsafeFrac=${maxUnsafeFrac * 100}%.0f%%) exceed the " +
            "hot-gram exactness bound, so the cap would keep their hot postings and " +
            "revert to the uncapped quadratic pair scan. This corpus shape (wholesale-" +
            "duplicated documents) should be exact-deduplicated first (run " +
            "Dedup.exactDuplicateGroups and cap-jaccard the representatives), or pass " +
            "maxUnsafeFrac=1.0 to knowingly run the quadratic path.")
      }
      // kept postings: cold grams for everyone + hot grams for unsafe
      // docs — one pass over the postings (broadcast left join against
      // the tiny stop-gram set + filter) rather than anti ∪ semi, which
      // would scan the exploded grams twice
      val gs = g.join(docStats.select(col(id), col("h"), col("u")), Seq(id))
      val kept = gs
        .join(hot.withColumn("__hot", lit(1)), Seq("blk", "gram"), "left")
        .filter(col("__hot").isNull || col("u") === 1)
      // count shared KEPT grams per pair — the same aggregation shape as
      // the uncapped path (no per-pair array materialization). The
      // correction for dropped hot postings is then analytic:
      //   inter = nk                    if both docs unsafe (hot postings
      //                                 were kept for both) or min(h)=0
      //   inter = nk + |hot(a)∩hot(b)|  otherwise (shared hot grams were
      //                                 dropped from at least one side)
      // and a qualifying pair always surfaces in some cold posting list:
      // a safe doc has h <= t/(1+t)·sz < required intersection, so two
      // docs sharing only hot grams cannot reach J >= t.
      val nKept = kept
        .groupBy(col("blk"), col("gram"))
        .agg(array_sort(collect_list(struct(col(id).cast("long").as("i"),
          col("sz").as("s"), col("h"), col("u")))).as("lst"))
        .filter(size(col("lst")) > 1)
        .select(explode(pairGenHotUdf(col("lst"), lit(minJaccard))).as("p"))
        .select(col("p._1").as("id_a"), col("p._2").as("sz_a"),
          col("p._3").as("h_a"), col("p._4").as("u_a"),
          col("p._5").as("id_b"), col("p._6").as("sz_b"),
          col("p._7").as("h_b"), col("p._8").as("u_b"))
        .groupBy(col("id_a"), col("sz_a"), col("h_a"), col("u_a"),
          col("id_b"), col("sz_b"), col("h_b"), col("u_b"))
        .agg(count(lit(1)).as("nk"))
      def jac(inter: Column): Column =
        inter.cast("double") / (col("sz_a") + col("sz_b") - inter)
      val outCols = Seq(col("id_a"), col("id_b"), col("jaccard"))
      val exactNow = nKept
        .filter(col("u_a") + col("u_b") === 2 || least(col("h_a"), col("h_b")) === 0)
        .withColumn("jaccard", jac(col("nk")))
        .select(outCols: _*)
      // remaining pairs may share dropped hot grams: the upper bound
      // inter <= nk + min(h_a, h_b) prunes nearly all of them before the
      // (broadcast) hot-array join computes the exact correction
      val corrected = nKept
        .filter(col("u_a") + col("u_b") < 2 && least(col("h_a"), col("h_b")) > 0)
        .filter(jac(col("nk") + least(col("h_a"), col("h_b"))) >= minJaccard)
        .join(hotPerDoc.select(col(id).cast("long").as("id_a"), col("hgs").as("hg_a")), Seq("id_a"))
        .join(hotPerDoc.select(col(id).cast("long").as("id_b"), col("hgs").as("hg_b")), Seq("id_b"))
        .withColumn("jaccard",
          jac(col("nk") + size(array_intersect(col("hg_a"), col("hg_b")))))
        .select(outCols: _*)
      exactNow.union(corrected)
        .filter(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }
  }

  /** Embedding cosine near-duplicate pairs. `blockBits > 0` routes
    * through signed-random-projection buckets (the scale path — only
    * same-bucket pairs are compared; recall trades against bucket
    * count); `blockBits = 0` is the exact O(N²) pair scan for small N /
    * verification. Embeddings are compared by dot product — pass
    * normalized vectors (the fixtures are unit-norm) or normalize first.
    */
  /** All-pairs TF-IDF cosine similarity join (the sparse-vector
    * counterpart of [[embeddingNearPairs]]; SURVEY §2's near-dup family,
    * the classic "all-pairs similarity search" of Bayardo et al. 2007):
    * docs become L2-normalized tf·idf vectors over their own vocabulary,
    * and pairs sharing at least one term are scored by the dot product
    *   cos(a, b) = Σ_t ŵ_a(t)·ŵ_b(t),  ŵ = tf·idf / ‖tf·idf‖₂ —
    * no dense vocabulary, no cartesian: candidates come from per-term
    * posting lists (groupBy term → in-list pair expansion), the same
    * bounded-key equi-join shape as [[ngramJaccardPairs]].
    *
    * `maxDf` is the scale knob: terms in more than `maxDf` docs are
    * dropped BEFORE weighting (df that high means idf ≈ 0 — the dropped
    * coordinates are the vector's least informative, and they are
    * exactly the posting lists whose pair fan-out is quadratic in df).
    * Unlike the jaccard cap there is no exactness correction: the
    * cosine is computed over the capped vocabulary, a DIFFERENT (and at
    * scale, the standard) measure; the oracle replays the same cap, so
    * the gate still proves the distributed computation exact.
    *
    * Cross-engine determinism: idf = ln(n/df) is rounded to 6 decimals
    * before entering any product (JVM log and DuckDB ln can differ in
    * the last ulp; rounding first pins every weight, the
    * [[Corpus.tfidf]] rank-on-rounded lesson). Remaining noise is
    * sum-order re-association (~1e-16 relative), absorbed by the
    * 6-decimal output rounding.
    */
  def tfidfCosinePairs(df: DataFrame, id: String, text: String,
      minCosine: Double, maxDf: Int = 0): DataFrame = {
    require(minCosine > 0, "need minCosine > 0 (the threshold prunes the pair space)")
    // long ids ride the posting-list structs; a non-integral id would
    // silently cast to null and NPE inside prodPairUdf (ADVICE r7 —
    // same contract as ngramJaccardPairs)
    locally {
      import org.apache.spark.sql.types._
      val ok = Set[DataType](ByteType, ShortType, IntegerType, LongType)
      require(ok(df.schema(id).dataType),
        s"tfidfCosinePairs needs an integral id column; '$id' is ${df.schema(id).dataType.simpleString}")
    }
    val terms = graft.Tables
      .spread(df.select(col(id), col(text)), id)
      .select(col(id), explode(split(normText(col(text)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    // df via window over the tf frame (one exchange on term, reused by
    // the posting-list grouping below); n_docs is a broadcast scalar
    val n = df.filter(size(split(normText(col(text)), " ")) > 0)
      .agg(count(lit(1)).as("n_docs"))
    val dfd = tf.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
    val capped = if (maxDf > 0) dfd.filter(col("df") <= maxDf) else dfd
    val weighted = capped.crossJoin(broadcast(n))
      .withColumn("w", col("tf") *
        round(log(col("n_docs").cast("double") / col("df")), 6))
    val normed = weighted.withColumn("nrm", sqrt(sum(col("w") * col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(id)))))
      .withColumn("uw", col("w") / col("nrm"))
    // per-term posting list → in-list (a < b) products, partial-summed
    // map-side per term, then one keyed agg to the pair's cosine
    normed.groupBy(col("term"))
      .agg(array_sort(collect_list(struct(
        col(id).cast("long").as("i"), col("uw").as("u")))).as("lst"))
      .filter(size(col("lst")) > 1)
      .select(explode(prodPairUdf(col("lst"))).as("p"))
      .groupBy(col("p._1").as("id_a"), col("p._2").as("id_b"))
      // round BEFORE the threshold filter: a pair sitting exactly at
      // minCosine could otherwise flip membership on ~1e-16 sum-order
      // drift between engines; thresholding the rounded value means
      // both engines gate on identical doubles (ADVICE r7)
      .agg(round(sum(col("p._3")), 6).as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** In-list pair expansion for [[tfidfCosinePairs]]: every (a < b)
    * pair in a term's posting list with the weight product — a compiled
    * single-pass UDF for the same HOF-trap reason as [[pairGenUdf]].
    */
  private val prodPairUdf = udf { (lst: Seq[org.apache.spark.sql.Row]) =>
    val m = lst.size
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)](
      m * (m - 1) / 2)
    var a = 0
    while (a < m) {
      val ia = lst(a).getLong(0); val ua = lst(a).getDouble(1)
      var b = a + 1
      while (b < m) {
        out += ((ia, lst(b).getLong(0), ua * lst(b).getDouble(1)))
        b += 1
      }
      a += 1
    }
    out.toSeq
  }

  def embeddingNearPairs(df: DataFrame, id: String, vec: String,
      minCosine: Double, blockBits: Int = 0,
      targetBucketSize: Long = 4096L): DataFrame = {
    // blockBits < 0 → AUTO: the per-bucket pair scan is quadratic in
    // bucket population, so the bucket COUNT must scale with N —
    // measured at 100×: fixed bits=4 went 0.57→72.9 s (128×,
    // super-linear) while bits=8 landed at 7.2 s (~linear). One count
    // pass derives bits so E[bucket] ≈ targetBucketSize (bounded
    // ~targetBucketSize²/2 dots per bucket); same auto-knob pattern as
    // dedupSpansRewrite's shuffle width. Finer blocking trades recall
    // on near-threshold pairs (RP planes split neighbors) — pin
    // blockBits explicitly where recall is gated.
    val bits =
      if (blockBits >= 0) blockBits
      else {
        val n = df.count()
        if (n <= targetBucketSize) 0 // small corpus: the exact tier is affordable
        else math.min(24,
          math.ceil(math.log(n.toDouble / targetBucketSize) / math.log(2.0)).toInt)
      }
    val withBucket =
      if (bits > 0) df.select(col(id), col(vec), rp_bits(col(vec), bits).as("bkt"))
      else df.select(col(id), col(vec), lit(0L).as("bkt"))
    val a = withBucket.select(col(id).as("id_a"), col(vec).as("v_a"), col("bkt"))
    val b = withBucket.select(col(id).as("id_b"), col(vec).as("v_b"), col("bkt"))
    a.join(b, Seq("bkt"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot_f(col("v_a"), col("v_b")))
      .filter(col("cos") > minCosine)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Fellegi-Sunter RECORD LINKAGE scoring — entity resolution between
    * two record frames (the structured-data sibling of the text dedup
    * family: "are these two customer rows the same real-world
    * entity"): candidate pairs come from a BLOCKED equi-join (zip,
    * nation, phonetic code, minhash band — the same candidate-bounding
    * idea as LSH banding), and each pair's match score is the integer
    * sum of per-field agreement/disagreement weights in milli-units
    * (the log-likelihood-ratio weights of the Fellegi-Sunter model,
    * precomputed by the caller from match/unmatch priors; integers so
    * the frame hash-gates). Field agreement is null-safe string
    * equality — normalize/bucketize fields upstream (case-fold,
    * phonetic-code, value-bucket) to express fuzzy agreement.
    *
    * 100 TB posture: ONE equi-join on the block key bounds the pair
    * space (never all-pairs); per-block fan-out is the caller's
    * blocking-quality problem, exactly like [[minhashCandidatePairs]]'
    * band tuning — block finer when a block gets hot.
    *
    * @param fields (column, agreeMilli, disagreeMilli) per compared
    *               field — same column name on both frames
    * @return (a_id, b_id, n_agree, score_milli) for pairs at or above
    *         `minScoreMilli`
    */
  def linkageScores(a: DataFrame, b: DataFrame, id: String,
      block: String, fields: Seq[(String, Long, Long)],
      minScoreMilli: Long): DataFrame = {
    require(fields.nonEmpty, "need at least one compared field")
    require(fields.map(_._1).distinct.size == fields.size,
      "duplicate compared fields")
    def side(df: DataFrame, tag: String) =
      df.select((col(block).as("__blk") +: col(id).as(s"${tag}_id") +:
        fields.map { case (f, _, _) =>
          col(f).cast("string").as(s"${tag}_$f") }): _*)
    val pairs = side(a, "a").join(side(b, "b"), "__blk")
    val score = fields.map { case (f, wa, wd) =>
      when(col(s"a_$f") <=> col(s"b_$f"), lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    val agree = fields.map { case (f, _, _) =>
      when(col(s"a_$f") <=> col(s"b_$f"), lit(1)).otherwise(lit(0))
    }.reduce(_ + _)
    pairs
      .withColumn("score_milli", score)
      .withColumn("n_agree", agree)
      .filter(col("score_milli") >= minScoreMilli)
      .select(col("a_id"), col("b_id"), col("n_agree"), col("score_milli"))
  }

  /** LEARN the Fellegi-Sunter field weights [[linkageScores]] consumes,
    * from an ADJUDICATED pair set — the m/u estimation step of the
    * model (Fellegi & Sunter 1969; the Splink/dedupe.io training
    * loop): for each compared field,
    * m = P(field agrees | pair is a match) and
    * u = P(field agrees | pair is a non-match), estimated by counting
    * agreements over the labeled pairs with add-half smoothing
    * (m = (agree_m + 0.5)/(n_match + 1), same for u) so both stay in
    * (0, 1) and the log-ratios are finite even on degenerate slices.
    * Weights are the log-likelihood ratios, FLOOR-quantized to
    * milli-units ([[Corpus.naiveBayesPredict]]'s discipline):
    * agree_milli = floor(ln(m/u)·1000),
    * disagree_milli = floor(ln((1−m)/(1−u))·1000) — so the learned
    * model and every downstream score hash-gate.
    *
    * 100 TB posture: one bounded aggregation over the labeled pairs
    * (2·|fields| + 2 cells collected); the labeled frame joins each
    * record side once on its id — both joins shuffle only the labeled
    * slice, never the full corpora.
    *
    * @param labeled (a_id, b_id, is_match) — adjudicated pairs; ids
    *                must resolve in `a` / `b` respectively
    * @return per field: (field, agree_milli, disagree_milli), ready
    *         for [[linkageScores]]
    */
  def linkageWeights(a: DataFrame, b: DataFrame, id: String,
      labeled: DataFrame, fields: Seq[String]): Seq[(String, Long, Long)] = {
    require(fields.nonEmpty, "need at least one compared field")
    require(fields.distinct.size == fields.size, "duplicate compared fields")
    val aSel = a.select(col(id).as("a_id") +:
      fields.map(f => col(f).cast("string").as(s"a_$f")): _*)
    val bSel = b.select(col(id).as("b_id") +:
      fields.map(f => col(f).cast("string").as(s"b_$f")): _*)
    val j = labeled
      .select(col("a_id"), col("b_id"), col("is_match").cast("boolean").as("m"))
      .join(aSel, "a_id").join(bSel, "b_id")
    val aggs = fields.flatMap(f => Seq(
      sum(when(col("m") && (col(s"a_$f") <=> col(s"b_$f")), 1L)
        .otherwise(0L)).as(s"ma_$f"),
      sum(when(!col("m") && (col(s"a_$f") <=> col(s"b_$f")), 1L)
        .otherwise(0L)).as(s"ua_$f"))) ++ Seq(
      sum(when(col("m"), 1L).otherwise(0L)).as("nm"),
      sum(when(!col("m"), 1L).otherwise(0L)).as("nu"))
    val r = j.agg(aggs.head, aggs.tail: _*).head()
    val nm = r.getAs[Long]("nm")
    val nu = r.getAs[Long]("nu")
    require(nm > 0 && nu > 0,
      s"labeled pairs must include both matches and non-matches " +
        s"(got $nm matches, $nu non-matches)")
    fields.map { f =>
      val m = (r.getAs[Long](s"ma_$f") + 0.5) / (nm + 1.0)
      val u = (r.getAs[Long](s"ua_$f") + 0.5) / (nu + 1.0)
      (f, math.floor(math.log(m / u) * 1000.0).toLong,
        math.floor(math.log((1.0 - m) / (1.0 - u)) * 1000.0).toLong)
    }
  }
}
