package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.TextHashes._

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs on top of dedup/similarity/quality (SURVEY §7.2 M6; the
  * reference delegates this whole layer to out-of-repo NeMo-Curator-
  * style tooling — here it is first-class and oracle-gated):
  *
  *  - [[decontaminate]] — benchmark n-gram overlap flagging (the
  *    GPT-3-appendix-C / PaLM-style decontamination pass: drop training
  *    documents sharing token n-grams with an evaluation set).
  *  - [[redactPii]] — regex PII scrubbing (emails / IPv4 / phone),
  *    single-pass, codegen'd `regexp_replace` chain.
  *  - [[packSequences]] — sequence packing: concatenate documents in id
  *    order and slice into fixed token-budget windows; emits each doc's
  *    global token offset, window id, and whether it straddles a window
  *    boundary. Two-phase distributed prefix sum — no global single-
  *    partition window over the data.
  *  - [[sampleByHash]] — deterministic per-stratum sampling by integer
  *    hash of the id (Knuth multiplicative). Reproducible across runs
  *    AND engines, unlike RNG `df.sample` (q39), so it is hash-gated.
  *  - [[tfidf]] — corpus TF-IDF: per-doc top-k terms by tf·ln(N/df).
  *
  * Scale notes (100 TB): every operator is shuffle-bounded by
  * O(tokens) with map-side combine; the only broadcast sides are the
  * benchmark gram set (an eval suite — MBs), the chunk-offset table
  * (#docs / chunkSize rows), and nothing is ever collected to the
  * driver.
  */
object Corpus {

  private def toks(c: Column): Column = split(Dedup.normText(c), " ")

  /** Distinct token n-grams of `text` exploded to one row per gram.
    * Shares [[TextAnalysis.ngramsUdf]] — same kernel the jaccard dedup
    * uses, so decontamination and dedup agree on gram identity.
    */
  private def explodedGrams(df: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    df.select(col(id), explode(
      TextAnalysis.ngramsUdf(toks(col(text)), lit(n))).as("gram"))

  /** Flag corpus documents sharing at least one token `n`-gram with the
    * benchmark set. Returns (id, n_grams, n_overlap, overlap_frac) for
    * contaminated documents only.
    *
    * Plan shape: benchmark grams are distinct-ed then BROADCAST (an eval
    * set is small by definition); the corpus side is one explode +
    * map-side-combined groupBy — the corpus text itself is never
    * shuffled, only (id, gram-hash) pairs that survive the broadcast
    * semi-join. Real pipelines use n=8..13; the synthetic fixture's
    * shared vocabulary needs n=3 to produce overlap.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String, n: Int): DataFrame = {
    val benchGrams = explodedGrams(benchmark, id, text, n)
      .select(col("gram")).distinct()
    // ONE pass over the corpus grams: the broadcast LEFT join marks hits
    // inline, so totals and overlaps come out of the same aggregation
    // (the totals/hits two-plan version evaluated the gram explode
    // twice — measured 4.8 s → 2.6 s at sf0.1)
    val marked = explodedGrams(corpus, id, text, n)
      .join(broadcast(benchGrams.withColumn("hit", lit(1))), Seq("gram"), "left")
    marked.groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"), // grams are distinct per doc
        sum(coalesce(col("hit"), lit(0))).as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .select(col(id), col("n_grams").cast("int").as("n_grams"),
        col("n_overlap").cast("int").as("n_overlap"),
        round(col("n_overlap") / col("n_grams"), 4).as("overlap_frac"))
  }

  /** [[decontaminate]] for a benchmark too large to broadcast (a full
    * eval-suite union, or decontamination against another CORPUS):
    * same output, different plan. The benchmark gram set is shuffled,
    * not broadcast; corpus grams are prefiltered by a driver-built
    * Bloom filter over the gram hash (poly_hash → long), so only grams
    * that MIGHT be contaminated enter the shuffle — the trailing exact
    * semi-join on the gram string removes the false positives, keeping
    * the op exact (a Bloom filter has no false negatives). Per-doc
    * totals come from a separate shuffle-free map pass over the gram
    * arrays, so the exploded candidate stream is consumed once.
    * At 100 TB: two map passes over the corpus + one shuffle sized by
    * the contamination rate + fpp, instead of a corpus-gram shuffle.
    *
    * EAGER, unlike every other operator in this file: the call itself
    * runs two benchmark-side jobs (a count to size the filter + the
    * `stat.bloomFilter` aggregation) because Spark's Bloom builder is
    * an action. The bits aggregated to the driver are the compact
    * filter (bounded by expectedItems/fpp), never data rows; but the
    * filter is rebuilt on every CALL, even if the returned frame is
    * never executed — construct once and reuse the returned DataFrame.
    */
  def decontaminateLarge(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String, n: Int, fpp: Double = 0.01): DataFrame = {
    val bench = explodedGrams(benchmark, id, text, n)
      .select(col("gram")).distinct()
    val benchHashed = bench.withColumn("gh", poly_hash(col("gram")))
    val expected = math.max(1024L, benchHashed.count())
    val bf = benchHashed.stat.bloomFilter("gh", expected, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((h: java.lang.Long) =>
      h != null && bc.value.mightContainLong(h))
    val totals = corpus.select(col(id),
      size(TextAnalysis.ngramsUdf(toks(col(text)), lit(n))).as("n_grams"))
    val hits = explodedGrams(corpus, id, text, n)
      .filter(mightContain(poly_hash(col("gram"))))
      .join(bench, Seq("gram"), "left_semi")
      .groupBy(col(id)).agg(count(lit(1)).as("n_overlap"))
    totals.join(hits, Seq(id)) // inner: contaminated docs only
      .select(col(id), col("n_grams").cast("int").as("n_grams"),
        col("n_overlap").cast("int").as("n_overlap"),
        round(col("n_overlap") / col("n_grams"), 4).as("overlap_frac"))
  }

  /** PII patterns shared by the Spark op and the DuckDB oracle: plain
    * RE2-safe syntax (no lookarounds), identical semantics in Java
    * regex. Order matters — emails are redacted before IPs so the
    * dotted host part can't be half-eaten by the IP rule.
    */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** Redact emails / IPv4 addresses / phone-shaped numbers from `text`.
    * Returns the input columns plus `redacted` and per-category match
    * counts. Pure `regexp_replace`/`regexp_extract_all` — whole-stage
    * codegen, single scan, trivially partition-parallel.
    */
  def redactPii(df: DataFrame, text: String): DataFrame = {
    val c = col(text)
    df.withColumn("n_emails", size(regexp_extract_all(c, lit(emailRe), lit(0))))
      .withColumn("n_ips", size(regexp_extract_all(c, lit(ipv4Re), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(c, lit(phoneRe), lit(0))))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(c, emailRe, "<EMAIL>"),
            ipv4Re, "<IP>"),
          phoneRe, "<PHONE>"))
  }

  /** Sequence packing: documents are concatenated in `id` order and the
    * token stream is sliced into windows of `budget` tokens (the
    * standard pretraining packing layout — docs may straddle windows).
    * Emits (id, n_tokens, start_off, window_id, spans_boundary).
    *
    * The global prefix sum is TWO-PHASE, not one giant Window: docs are
    * grouped into chunks of `chunkSize` ids; phase 1 computes per-chunk
    * token sums (map-side combined), phase 2 prefix-sums the tiny chunk
    * table and broadcasts it back, phase 3 does a within-chunk window
    * cumsum. The only unpartitioned window runs over #docs/chunkSize
    * rows — pick chunkSize ≈ √N (or nest another level) so no stage
    * sees unbounded data. A naive `Window.orderBy(id)` over the corpus
    * would funnel 100 TB through one task.
    */
  def packSequences(df: DataFrame, id: String, nTokens: Column,
      budget: Long, chunkSize: Long = 64): DataFrame = {
    val base = df.select(col(id), nTokens.cast("long").as("n_tokens"),
      expr(s"cast($id as bigint) div $chunkSize").as("chunk"))
    val chunkSums = base.groupBy(col("chunk"))
      .agg(sum(col("n_tokens")).as("chunk_toks"))
    val wChunks = Window.orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunkOffs = chunkSums
      .withColumn("chunk_off", coalesce(sum(col("chunk_toks")).over(wChunks), lit(0L)))
      .select(col("chunk"), col("chunk_off"))
    val wInChunk = Window.partitionBy(col("chunk")).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(chunkOffs), "chunk")
      .withColumn("start_off",
        col("chunk_off") + coalesce(sum(col("n_tokens")).over(wInChunk), lit(0L)))
      .withColumn("window_id", (col("start_off") / budget).cast("long"))
      .withColumn("spans_boundary",
        ((col("start_off") + col("n_tokens") - 1) / budget).cast("long") =!= col("window_id"))
      .select(col(id), col("n_tokens").cast("int").as("n_tokens"),
        col("start_off"), col("window_id"), col("spans_boundary"))
  }

  /** Curriculum interleave — the deterministic ORDERING side of
    * mixture weighting (mixtureResample decides how much of each
    * source survives; this decides WHEN each document is seen): every
    * document gets a virtual timestamp vt = rank_in_source · 1e6 div
    * weight, so a source with weight w appears w× as densely along the
    * vt axis, and sorting by (vt_micro, source, rn) is the weighted
    * round-robin training order — no RNG, reproducible across engines
    * and cluster sizes.
    *
    * Per-source ranks follow the [[packSequences]] two-phase
    * discipline instead of one Window per source (which would funnel a
    * 100 TB source through one task): documents chunk by the TOP BITS
    * of their id hash (chunk index is monotone in the hash, so
    * chunk-then-hash order equals global hash order), per-(source,
    * chunk) counts prefix-sum in a sources×2^chunkBits-row broadcast
    * table, and the only row-level windows are within-chunk
    * (~N/2^chunkBits rows — size chunkBits to the corpus). The
    * within-source order is (hash, id): pseudorandom but fully
    * deterministic, so the interleave is unbiased by ingest order.
    *
    * Sources absent from `weights` are DROPPED (inner join) — a
    * mixture spec defines the corpus; an unlisted source is not an
    * implicit weight-1 member.
    *
    * @param weights (source, weight) frame, weight a positive integer
    * @return (id, source, rn, vt_micro); train order =
    *         ORDER BY (vt_micro, source, rn)
    */
  def curriculumInterleave(df: DataFrame, id: String, source: String,
      weights: DataFrame, chunkBits: Int = 8): DataFrame = {
    require(chunkBits >= 1 && chunkBits <= 16,
      s"chunkBits must be in [1, 16], got $chunkBits")
    val width = 4294967296L >> chunkBits
    val base = df.select(col(id).as("__id"), col(source).as("__src"))
      .withColumn("__hb", hashBucket(col("__id")))
      .withColumn("__chunk", (col("__hb") / width).cast("long"))
    val chunkSums = base.groupBy(col("__src"), col("__chunk"))
      .agg(count(lit(1)).as("__n"))
    val wC = Window.partitionBy(col("__src")).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = chunkSums
      .withColumn("__off", coalesce(sum(col("__n")).over(wC), lit(0L)))
      .select(col("__src"), col("__chunk"), col("__off"))
    val wIn = Window.partitionBy(col("__src"), col("__chunk"))
      .orderBy(col("__hb"), col("__id"))
    base.join(broadcast(offs), Seq("__src", "__chunk"))
      .withColumn("rn", col("__off") + row_number().over(wIn))
      .join(broadcast(weights.select(col(source).as("__src"),
        when(col("weight").cast("long") < 1,
          raise_error(concat(lit("curriculumInterleave: weight must be "),
            lit(">= 1 for source "), col(source))))
          .otherwise(col("weight").cast("long")).as("__w"))), Seq("__src"))
      .withColumn("vt_micro", expr("(rn * 1000000) div __w"))
      .select(col("__id").as(id), col("__src").as(source),
        col("rn"), col("vt_micro"))
  }

  /** Knuth multiplicative-hash bucket of a row id, uniform in
    * [0, 2^32). Shared by every deterministic sampling/sharding op here
    * (sampleByHash, mixtureResample, prepareCorpus, shardManifest,
    * weightedSample, bottomKPerStratum) and replayed verbatim in their
    * DuckDB oracles.
    *
    * PRECONDITION — numeric ids below ~2^31: a non-numeric id casts to
    * null (the row then fails every bucket comparison and is silently
    * dropped), and an id above ~2^31 overflows the Long product, where
    * Spark wraps but DuckDB promotes to HUGEINT — so oracle parity and
    * hash uniformity both require small numeric ids. For string or
    * wide ids, hash first (e.g. [[graft.expressions.TextHashes.poly_hash]],
    * whose arithmetic stays inside the overflow-free range by reducing
    * mod 1e9+7 each step) and feed the result in as the id.
    */
  private def hashBucket(id: Column): Column =
    pmod(id.cast("long") * lit(2654435761L), lit(4294967296L))

  /** Deterministic per-stratum sampling: keep a row iff the Knuth
    * multiplicative hash of its id lands below the stratum's rate.
    * Engine-independent (pure integer arithmetic on the id — no RNG
    * stream), so downstream runs, retries, and the DuckDB oracle all
    * select the SAME rows; `df.sample` (q39) can only be rows-only
    * gated. This is how a 100 TB pipeline samples: no seed
    * coordination across executors, filter pushes to the scan.
    */
  def sampleByHash(df: DataFrame, id: String, strata: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val bucket = hashBucket(col(id))
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(strata) === k, lit(r)).otherwise(acc)
    }
    df.filter(bucket < (rate * lit(4294967296L)).cast("long"))
  }

  /** Per-document top-`k` terms by TF-IDF (tf · ln(N/df), N = number of
    * documents with at least one token). Rank on the ROUNDED score then
    * term so cross-engine last-ulp `ln` differences cannot flip the
    * ordering. Two keyed shuffles (doc-term counts, term df) + one
    * broadcast scalar; never materializes a dense vocabulary.
    */
  def tfidf(df: DataFrame, id: String, text: String, k: Int): DataFrame = {
    val terms = df.select(col(id), explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    // df as a window over the tf frame (not a groupBy + re-join: the tf
    // subtree has no exchange reuse across legs, so the separate-dfreq
    // formulation evaluated the explode+agg twice — 4.3 s → ~2.5 s at
    // sf0.1); n_docs comes from a scan-side count, no second explode
    val n = df.filter(size(filter(toks(col(text)), t => length(t) > 0)) > 0)
      .agg(count(lit(1)).as("n_docs"))
    val wTerm = Window.partitionBy(col("term"))
    val wDoc = Window.partitionBy(col(id)).orderBy(col("score").desc, col("term").asc)
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rnk", row_number().over(wDoc))
      .filter(col("rnk") <= k)
      .select(col(id), col("rnk").cast("int").as("rnk"), col("term"),
        col("tf").cast("int").as("tf"), col("df").cast("int").as("df"),
        col("score"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): k-means-cluster
    * the embeddings (learned, deterministic — [[Similarity.kmeansCentroids]]),
    * then emit within-cluster pairs above the cosine threshold. All-pairs
    * work is confined to single clusters (corpus/k rows each); the
    * cross-cluster recall loss is the documented SemDeDup trade-off.
    * Returns (a, b, cos) with a < b.
    *
    * SCALE the cluster count with the corpus: within-cluster pair work
    * is Σ sizeᵢ², so a FIXED nClusters makes the op quadratic in N —
    * measured 322× wall at 100× rows with nClusters=8, cut 37× by
    * nClusters=64 (PLANS.md round-6 stress). Set
    * nClusters ≈ N / targetClusterSize (SemDeDup's own recipe; the
    * paper uses ~11k clusters for ~100M embeddings), keeping cluster
    * size — and therefore per-cluster pair work — constant as N grows.
    */
  /** Scale-safe entry point — the default to reach for: derives the
    * cluster count from a count(*) instead of trusting a caller's fixed
    * k (the round-6 100× stress measured 322× wall from fixed k=8).
    *
    * Two derivations, chosen by `targetClusterSize`:
    *  - `0` (default): k = ceil(sqrt(N)) — BALANCED. Total work is
    *    assign O(N·k) + within-cluster pairs O(N²/k); sqrt(N) equalizes
    *    the two terms, so wall grows as N^1.5 instead of N² in either
    *    degenerate direction. Measured at 100× rows (stress100b r7):
    *    fixed k=8 → 354 s, constant-cluster-size → 286 s (assign-bound),
    *    sqrt → see PLANS.md rerun; all vs ~2 s at 1×.
    *  - `> 0`: k = ceil(N / targetClusterSize) — SemDeDup's paper
    *    recipe (constant cluster size, e.g. ~9k vectors/cluster for
    *    100M embeddings). Right when the assign stage is delegated to a
    *    real ANN index or pair work must be strictly linear; in THIS
    *    engine's exact broadcast assign the N·k term then dominates at
    *    scale, so prefer the sqrt default unless you know better.
    *
    * NOTE: runs one eager count() job at call time to size the
    * quantizer; everything downstream stays lazy.
    */
  def semanticDupPairs(df: DataFrame, id: String, vec: String,
      threshold: Double, targetClusterSize: Int = 0, minClusters: Int = 2,
      iters: Int = 3): DataFrame = {
    require(minClusters > 0, s"minClusters must be positive, got $minClusters")
    val n = df.count()
    val derived =
      if (targetClusterSize > 0) (n + targetClusterSize - 1) / targetClusterSize
      else math.ceil(math.sqrt(n.toDouble)).toLong
    val k = math.max(minClusters.toLong, derived).toInt
    semanticDupPairs(df, id, vec, k, threshold, iters)
  }

  def semanticDupPairs(df: DataFrame, id: String, vec: String,
      nClusters: Int, threshold: Double, iters: Int): DataFrame = PinScope { _ =>
    val cents = Similarity.kmeansCentroids(df, id, vec, nClusters, iters)
    val assigned = Similarity.kmeansAssign(df, id, vec, cents)
    val l = assigned.select(col("cl"), col(id).as("a"), col(vec).as("va"))
    val r = assigned.select(col("cl"), col(id).as("b"), col(vec).as("vb"))
    l.join(r, Seq("cl")).filter(col("a") < col("b"))
      .withColumn("cos", round(dot_f(col("va"), col("vb")), 6))
      .filter(col("cos") > threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Approximate-then-exact heavy hitters: the global top-`k` tokens by
    * frequency, found with a distributed Misra–Gries sketch.
    *
    * Phase 1 runs a capacity-`capacity` Misra–Gries summary inside each
    * partition (`mapPartitions`, O(capacity) state, no shuffle) and
    * unions the surviving candidate terms. The union keeps the MG
    * guarantee by an averaging argument: any term with global count
    * > N/capacity must exceed its local N_p/capacity in at least one
    * partition, so it survives somewhere. Phase 2 exact-counts ONLY the
    * candidates (map-side-combined groupBy semi-joined against the
    * broadcast candidate set) and takes the top k.
    *
    * This is the 100 TB shape for "top terms over an unbounded
    * vocabulary": the full-vocabulary shuffle is replaced by a
    * bounded-state scan plus a count over ≤ partitions×capacity terms.
    * Each output row carries `ok` = (cnt·capacity > n_tokens), the
    * proof obligation that rank k could not have been displaced by a
    * non-candidate (whose count is ≤ N/capacity); the oracle asserts
    * it, making the result provably exact, not just plausibly so.
    */
  def heavyHitters(df: DataFrame, id: String, text: String,
      k: Int, capacity: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tokens = df.select(explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0)
    val candidates = tokens.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        m.get(t) match {
          case Some(v) => m.update(t, v + 1)
          case None if m.size < capacity => m.update(t, 1L)
          case None =>
            val dead = List.newBuilder[String]
            m.keysIterator.foreach { kk =>
              val v = m(kk) - 1
              if (v == 0L) dead += kk else m.update(kk, v)
            }
            dead.result().foreach(m.remove)
        }
      }
      m.keysIterator
    }.distinct().toDF("term")
    val counts = tokens.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = tokens.agg(count(lit(1)).as("n_tokens"))
    // candidates ≤ partitions×capacity rows; the rank window runs over
    // that bounded set, never the vocabulary
    counts.join(broadcast(candidates), Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("term").asc)))
      .filter(col("rnk") <= k)
      .select(col("rnk").cast("int").as("rnk"), col("term"), col("cnt"),
        (col("cnt") * capacity > col("n_tokens")).cast("int").as("ok"))
  }

  /** CCNet-style boilerplate stripping at `w`-token chunk granularity:
    * a chunk occurring in ≥ `minDocs` DISTINCT documents is boilerplate
    * (headers, nav bars, license blocks) and is removed from every
    * document; survivors are reassembled in order. (The fixture text
    * has no newlines, so the dedup unit is a fixed-width token chunk
    * rather than a physical line — the algorithm is identical.)
    *
    * Plan: one explode to (id, cidx, chunk), a map-side-combined
    * distinct-doc count per chunk (at scale: group on a 64-bit chunk
    * hash, not the string), an aggregate keep-list join back, and an
    * ordered re-concatenation via sort_array(collect_list(struct)) —
    * no windows, two shuffles total.
    */
  def boilerplateStrip(df: DataFrame, id: String, text: String,
      w: Int, minDocs: Long): DataFrame = {
    val t = toks(col(text))
    // compiled chunker, not transform(sequence(...)): an HOF-built array
    // fed into posexplode re-evaluates the slice+join lambda per OUTPUT
    // row — O(chunks²) per doc (PLANS.md perf trap; measured 9.6→1.8 s)
    val chunks = df.select(col(id),
        posexplode(TextAnalysis.tokenChunksUdf(t, lit(w))).as(Seq("cidx", "chunk")))
    val docFreq = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col(id)).as("nd"))
    val flagged = chunks.join(docFreq, "chunk")
      .withColumn("boiler", col("nd") >= minDocs)
    flagged.groupBy(col(id)).agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(col("boiler").cast("int")).cast("int").as("n_boiler"),
        // collect_list drops the nulls `when` leaves for boiler chunks;
        // sort_array orders the structs by cidx (first field) so the
        // reassembly is deterministic regardless of shuffle order
        array_join(transform(
          sort_array(collect_list(when(!col("boiler"),
            struct(col("cidx"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("clean_text"))
  }

  /** C4-style keep-first line dedup (Raffel et al. 2020 §2.2: "we
    * discarded all but one of any three-sentence span occurring more
    * than once in the data set"): exactly ONE copy of each duplicated
    * unit survives — the globally first occurrence by (id, position) —
    * and every later copy is removed. This is the complement of
    * [[boilerplateStrip]], which removes ALL copies of frequent chunks;
    * C4's rule keeps one. Same `w`-token chunk granularity (the fixture
    * text has no newlines; the algorithm is unit-agnostic).
    *
    * Plan (deliberately NOT a row_number window over the chunk key —
    * a corpus-frequent chunk would sort all its copies inside one
    * window partition): the first occurrence per chunk is
    * `min(struct(id, cidx))`, a map-side-combined aggregate that stays
    * O(1) per distinct chunk no matter how hot it is, then one join
    * back on the chunk and an ordered reassembly — two keyed shuffles,
    * no windows. At 100 TB group/join on a 64-bit chunk hash instead
    * of the string (same note as [[boilerplateStrip]]).
    */
  def dedupLinesKeepFirst(df: DataFrame, id: String, text: String,
      w: Int): DataFrame = {
    require(w >= 1, s"chunk width must be >= 1, got $w")
    val t = toks(col(text))
    val chunks = df.select(col(id),
        posexplode(TextAnalysis.tokenChunksUdf(t, lit(w))).as(Seq("cidx", "chunk")))
    val first = chunks.groupBy(col("chunk"))
      .agg(min(struct(col(id).as("fid"), col("cidx").as("fcidx"))).as("f"))
    val flagged = chunks.join(first, "chunk")
      .withColumn("kept",
        col(id) === col("f.fid") && col("cidx") === col("f.fcidx"))
    flagged.groupBy(col(id)).agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("kept"), 0).otherwise(1)).cast("int").as("n_removed"),
        array_join(transform(
          sort_array(collect_list(when(col("kept"),
            struct(col("cidx"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("text_dedup"))
  }

  /** CCNet-style statistical-LM quality score without the external LM:
    * train an add-one-smoothed bigram model ON the corpus itself and
    * score every document by its mean bigram log-probability,
    * ln((c(w1,w2)+1)/(c(w1)+V)). Low scores mark statistically atypical
    * documents (the perplexity-filter signal). Three map-side-combined
    * count aggregations (bigram, unigram, vocab) + one broadcast of the
    * two scalars; the bigram join shuffles on w1 — the LM "training" is
    * just counting, exactly how it distributes.
    */
  def bigramLmScore(df: DataFrame, id: String, text: String): DataFrame = {
    val t = toks(col(text))
    val toksPos = df.select(col(id), explode(t).as("w"))
      .filter(length(col("w")) > 0)
    // adjacent pairs scan-side via zip of the two shifted slices — no
    // positional self-join (which would shuffle the token stream twice)
    val bigrams = df.select(col(id),
        explode(arrays_zip(slice(t, lit(1), size(t) - 1),
          slice(t, lit(2), size(t) - 1))).as("bg"))
      .select(col(id), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val c2 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = toksPos.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = toksPos.agg(countDistinct(col("w")).as("v"))
    bigrams
      .join(c2, Seq("w1", "w2"))
      .join(c1.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp", log((col("c12") + 1).cast("double") / (col("c1") + col("v"))))
      .groupBy(col(id))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        round(avg(col("lp")), 4).as("avg_logprob"))
  }

  /** Histogram-threshold keep/drop — the 100 TB tier of q151b's exact
    * global-decile perplexity filter (whose ntile is a single-partition
    * global sort, whitelisted as gate-tier only): the cut point comes
    * from a mergeable [[Sketches.histBuild]] histogram of the score
    * (ONE extra scan, nBuckets integer counts), and every row is kept
    * iff its bucket clears the threshold bucket — a map-only pass with
    * a broadcast scalar, nothing global anywhere. Granularity: the
    * boundary lands on a bucket edge, so up to one bucket-width of
    * rows near the cut are kept conservatively (the documented
    * histogram contract); size nBuckets to the tolerance.
    *
    * `dropBp` = parts-per-10000 of rows to drop from the BOTTOM: the
    * threshold bucket is the smallest b with cume(b)·10000 >= n·dropBp
    * (pure integer cross-multiply), and keep = bucket >= that b.
    *
    * @return input row + (bucket, keep)
    */
  def thresholdKeepByHistogram(scored: DataFrame, scoreCol: String,
      lo: Double, hi: Double, nBuckets: Int, dropBp: Int): DataFrame = {
    require(dropBp >= 0 && dropBp <= 10000,
      s"dropBp must be in [0, 10000], got $dropBp")
    val cum = histCume(scored, scoreCol, lo, hi, nBuckets)
    val n = cum.agg(max(col("cume")).as("n"))
    val tb = cum.crossJoin(broadcast(n))
      .filter(col("cume") * 10000 >= col("n") * dropBp)
      .agg(min(col("bucket")).as("tb"))
    withHistBucket(scored, scoreCol, lo, hi, nBuckets)
      .crossJoin(broadcast(tb))
      .withColumn("keep", col("bucket") >= col("tb"))
      .drop("tb")
  }

  /** Cumulative histogram (bucket → running count) from
    * [[Sketches.histBuild]] — nBuckets² broadcast self-join on the
    * bounded bucket frame, never the data.
    */
  private def histCume(scored: DataFrame, scoreCol: String,
      lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    val hist = Sketches.histBuild(scored, scoreCol, lo, hi, nBuckets)
    hist.as("a")
      .join(broadcast(hist.as("b")), col("b.bucket") <= col("a.bucket"))
      .groupBy(col("a.bucket").as("bucket"))
      .agg(sum(col("b.cnt")).as("cume"))
  }

  /** Input + its clamped histogram bucket — the shared map-only
    * application leg (expression text identical to the oracle's).
    */
  private def withHistBucket(scored: DataFrame, scoreCol: String,
      lo: Double, hi: Double, nBuckets: Int): DataFrame =
    scored
      .withColumn("__v", col(scoreCol).cast("double"))
      .withColumn("bucket",
        expr(Sketches.histBucketExpr(lo, hi, nBuckets)
          .replaceAll("\\bv\\b", "__v")))
      .drop("__v")

  /** CCNet-style quality tiers (Wenzek et al. 2020 §4.3: the corpus is
    * split into head/middle/tail by perplexity terciles) generalized to
    * arbitrary cut points, from the SAME mergeable histogram substrate
    * as [[thresholdKeepByHistogram]]: each cut's threshold bucket is an
    * integer cross-multiply over the cumulative histogram, and the tier
    * label is a map-only count of cleared cuts against a broadcast
    * sorted cut array — one data scan for the histogram, one for the
    * labeling, nothing global. `cutsBp` ascending parts-per-10000
    * (CCNet terciles = Seq(3334, 6667)); tier 0 is the BOTTOM slice
    * (tail), tier cutsBp.length the top (head). Bucket-edge granularity
    * as documented on the threshold op.
    *
    * @return input row + (bucket, tier)
    */
  def tierByHistogram(scored: DataFrame, scoreCol: String,
      lo: Double, hi: Double, nBuckets: Int, cutsBp: Seq[Int]): DataFrame = {
    require(cutsBp.nonEmpty && cutsBp == cutsBp.sorted &&
      cutsBp.forall(c => c > 0 && c < 10000),
      s"cutsBp must be ascending within (0, 10000), got $cutsBp")
    val cum = histCume(scored, scoreCol, lo, hi, nBuckets)
    val n = cum.agg(max(col("cume")).as("n"))
    val tbs = cutsBp.map { bp =>
        cum.crossJoin(broadcast(n))
          .filter(col("cume") * 10000 >= col("n") * bp)
          .agg(min(col("bucket")).as("tb"))
      }.reduce(_ unionAll _)
      .agg(sort_array(collect_list(col("tb"))).as("tbs"))
    withHistBucket(scored, scoreCol, lo, hi, nBuckets)
      .crossJoin(broadcast(tbs))
      .withColumn("tier", aggregate(col("tbs"), lit(0),
        (acc, t) => acc + when(col("bucket") >= t, 1).otherwise(0)))
      .drop("tbs")
  }

  /** Interpolated Kneser-Ney bigram LM score (Kneser & Ney 1995; the
    * canonical n-gram smoothing — strictly better perplexity filtering
    * than [[bigramLmScore]]'s add-one): with absolute discount d,
    *   P(w2|w1) = (c12 − d)/c1 + (d · N1+(w1·)/c1) · N1+(·w2)/|types|
    * where c1 counts bigram CONTEXTS (not unigrams), N1+(w1·)/N1+(·w2)
    * are distinct continuation/precursor counts and |types| the number
    * of distinct bigram types. Every count is exact; the per-bigram
    * log-prob is evaluated through a TEXTUALLY identical expression
    * tree in both engines (the q71h gating pattern), so avg+round(4)
    * hash-gates. Same scale shape as q151: bounded-vocab-key shuffles
    * plus one (w1,w2)-keyed join; nothing pairwise.
    */
  def knBigramLmScore(df: DataFrame, id: String, text: String,
      d: Double = 0.75): DataFrame = {
    require(d > 0 && d < 1, "need 0 < d < 1")
    val t = toks(col(text))
    val bigrams = df.select(col(id),
        explode(arrays_zip(slice(t, lit(1), size(t) - 1),
          slice(t, lit(2), size(t) - 1))).as("bg"))
      .select(col(id), col("bg.0").as("w1"), col("bg.1").as("w2"))
    val ctx = bigrams.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"), countDistinct(col("w2")).as("n1f"))
    val c2 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val bw = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val types = c2.agg(count(lit(1)).as("dd"))
    bigrams
      .join(c2, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(bw, Seq("w2"))
      .crossJoin(broadcast(types))
      .selectExpr(id, knLpExpr(d) + " AS lp")
      .groupBy(col(id))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        round(avg(col("lp")), 4).as("avg_logprob"))
  }

  /** The KN log-prob expression — ONE string, parsed by Spark and
    * DuckDB alike so the double arithmetic is replayed operation-for-
    * operation (the discount interpolates via shortest-roundtrip repr).
    */
  def knLpExpr(d: Double): String =
    s"LN((CAST(c12 AS DOUBLE) - $d) / CAST(c1 AS DOUBLE)" +
      s" + ($d * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE))" +
      " * (CAST(n1b AS DOUBLE) / CAST(dd AS DOUBLE)))"

  /** Inverted index build: per term, document frequency, total term
    * frequency, and the first `maxPostings` doc ids of the sorted
    * posting list. One shuffle on term with map-side combine; posting
    * lists are truncated BEFORE stringification so no unbounded array
    * crosses the wire (at 100 TB you shard this by term range and keep
    * full lists — the plan shape is the same).
    */
  def invertedIndex(df: DataFrame, id: String, text: String,
      maxPostings: Int): DataFrame = {
    val terms = df.select(col(id), explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0)
    terms.groupBy(col("term"), col(id)).agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(count(lit(1)).cast("int").as("df"),
        sum(col("tf")).as("tf_total"),
        array_join(slice(sort_array(collect_list(col(id))), 1, maxPostings), ",")
          .as("postings"))
  }

  /** Pointwise mutual information between terms at document granularity,
    * restricted to the `topN` highest-df terms (the PMI matrix of the
    * core vocabulary — unbounded-vocabulary PMI is noise). n_a/n_b/n_ab
    * are document frequencies; pmi = ln(n_ab·N / (n_a·n_b)). The
    * candidate vocabulary is broadcast, the pair join runs per document
    * (distinct top-terms per doc is ≤ topN, so the per-doc pair fanout
    * is bounded by topN²/2).
    */
  def pmiPairs(df: DataFrame, id: String, text: String, topN: Int,
      minPairDf: Long = 2): DataFrame = {
    val docTerms = df.select(col(id), explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0).distinct()
    val top = docTerms.groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc).limit(topN)
    val dt = docTerms.join(broadcast(top), Seq("term"))
    val nDocs = df.agg(countDistinct(col(id)).as("n_docs"))
    dt.as("x").join(dt.as("y"),
        col(s"x.$id") === col(s"y.$id") && col("x.term") < col("y.term"))
      .groupBy(col("x.term").as("term_a"), col("y.term").as("term_b"))
      .agg(count(lit(1)).as("n_ab"),
        first(col("x.n")).as("n_a"), first(col("y.n")).as("n_b"))
      .filter(col("n_ab") >= minPairDf)
      .crossJoin(broadcast(nDocs))
      .select(col("term_a"), col("term_b"), col("n_ab"),
        round(log(col("n_ab").cast("double") * col("n_docs")
          / (col("n_a") * col("n_b"))), 4).as("pmi"))
  }

  /** Shared PMI spelling for [[cooccurrencePmi]] — ONE expression tree
    * evaluated verbatim by both engines (the psiTermExprOf pattern):
    * pmi = ln( (c_ab/n_pair) / ((c_a/n_tok)·(c_b/n_tok)) ), spelled so
    * every intermediate stays an exact double (counts < 2^53; the
    * naive c_ab·n_tok² numerator leaves exact-double range first).
    * The ROUND(…, 4) rounded-double contract is the q153 precedent.
    */
  def cooccPmiExpr(cab: String, ca: String, cb: String, nTok: String,
      nPair: String): String =
    s"ROUND(LN((CAST($cab AS DOUBLE) * CAST($nTok AS DOUBLE))" +
      s" / (CAST($ca AS DOUBLE) * CAST($cb AS DOUBLE))" +
      s" * (CAST($nTok AS DOUBLE) / CAST($nPair AS DOUBLE))), 4)"

  /** Windowed skip-gram co-occurrence PMI — the word2vec-era
    * distributional-association table ([[pmiPairs]] counts documents;
    * this counts POSITION WINDOWS, the statistic SGNS factorizes —
    * Levy & Goldberg 2014). For every token position i, each token at
    * distance 1..`window` to its right forms one unordered
    * co-occurrence (canonicalized least/greatest, self-pairs dropped);
    * pmi = ln(P(a,b)/(P(a)P(b))) with P(a,b) = c_ab/n_pair over ALL
    * windows and P(a) = c_a/n_tok over ALL tokens (normalizers are
    * computed before any frequency cut, so thresholds change which
    * rows ship, never their values).
    *
    * 100 TB posture: pair generation is a MAP-SIDE array expression
    * inside each document (flatten/transform over the token array —
    * no self-join, no shuffle; fan-out exactly `window` pairs per
    * position). One partially-aggregated shuffle counts pairs (key
    * space capped by the observed vocab², with map-side combine),
    * one counts unigrams; the min-count joins run on the AGGREGATED
    * tables, never the corpus. `minCount`/`minPair` bound the output
    * the way every published co-occurrence pipeline does (rare-rare
    * PMI is noise with sign).
    *
    * @return term_a, term_b, c_ab, c_a, c_b, pmi (rounded 4dp)
    */
  def cooccurrencePmi(df: DataFrame, text: String, window: Int,
      minCount: Long, minPair: Long): DataFrame = {
    require(window >= 1 && window <= 64, s"window in [1,64], got $window")
    val base = df.select(toks(col(text)).as("__toks"))
    val pairs = base.select(explode(expr(
        s"""flatten(transform(__toks, (x, i) ->
           |  transform(slice(__toks, i + 2, $window), u ->
           |    named_struct('a', least(x, u), 'b', greatest(x, u)))))"""
          .stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(length(col("a")) > 0 && length(col("b")) > 0
        && col("a") =!= col("b"))
    val pairCounts = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab"))
    val nPair = pairCounts.agg(sum(col("c_ab")).as("n_pair"))
    val uni = base.select(explode(col("__toks")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum(col("c")).as("n_tok"))
    val vocab = uni.filter(col("c") >= minCount)
    pairCounts.filter(col("c_ab") >= minPair)
      .join(vocab.select(col("t").as("a"), col("c").as("c_a")), Seq("a"))
      .join(vocab.select(col("t").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
      .select(col("a").as("term_a"), col("b").as("term_b"),
        col("c_ab"), col("c_a"), col("c_b"),
        expr(cooccPmiExpr("c_ab", "c_a", "c_b", "n_tok", "n_pair"))
          .as("pmi"))
  }

  /** Exact duplicate-substring spans (the Lee et al. 2022 "Deduplicating
    * Training Data" signal at fixed granularity): every sliding `l`-token
    * window shared VERBATIM with another document is a duplicated
    * position; per document this reports how many window positions are
    * duplicated and the longest consecutive duplicated run (the span a
    * substring-dedup pass would cut). Window identity goes through the
    * exploded string itself here; at 100 TB the group key is a 128-bit
    * hash of the window and everything else is unchanged.
    *
    * The run-length computation is the gaps-and-islands trick
    * (p − row_number over duplicated positions is constant within a
    * run), windowed PER DOCUMENT — no global window.
    */
  def dupSpans(df: DataFrame, id: String, text: String, l: Int): DataFrame = {
    val t = toks(col(text))
    val nWin = greatest(size(t) - l + 1, lit(0))
    // compiled sliding-window UDF (allNgramsUdf — an l-token window IS
    // an l-gram with multiplicity): the transform(sequence(...)) form
    // re-evaluated the slice+join lambda per OUTPUT row, O(windows²)
    // per doc — the dominant cost of the whole bench (22 s → ~2 s at
    // sf0.1, PLANS.md perf trap). posexplode's 0-based pos becomes the
    // oracle's 1-based window position
    val wins = df.select(col(id),
        posexplode(TextAnalysis.allNgramsUdf(t, lit(l))).as(Seq("p0", "win")))
      .select(col(id), (col("p0") + 1).as("p"), col("win"))
    val winDocs = wins.groupBy(col("win"))
      .agg(countDistinct(col(id)).as("ndocs"))
      .filter(col("ndocs") > 1)
    val dup = wins.join(winDocs, Seq("win"), "left_semi")
    val wRun = Window.partitionBy(col(id)).orderBy(col("p"))
    val runs = dup
      .withColumn("isl", col("p") - row_number().over(wRun))
      .groupBy(col(id), col("isl")).agg(count(lit(1)).as("run"))
      .groupBy(col(id)).agg(sum(col("run")).cast("int").as("n_dup"),
        max(col("run")).cast("int").as("max_run"))
    val totals = df.select(col(id), nWin.cast("int").as("n_windows"))
    totals.join(runs, Seq(id), "left")
      .select(col(id), col("n_windows"),
        coalesce(col("n_dup"), lit(0)).as("n_dup"),
        coalesce(col("max_run"), lit(0)).as("max_run"))
  }

  /** EXACT character-level duplicated-substring spans by distributed
    * SUFFIX RANKING (the exact Lee et al. 2022 tier [[dupSpans]]'s
    * token-window form approximates — r15 verdict item 4): every
    * character position whose `minLen`-char window occurs at least
    * twice CORPUS-WIDE (across or within docs) is duplicated; runs of
    * consecutive duplicated positions merge into maximal spans — the
    * cut list of a Lee-style substring-dedup pass at char granularity,
    * with NO hashes and NO window strings anywhere.
    *
    * Algorithm: exact window classes from packed character blocks,
    * prefix doubling (Manber–Myers) only past what the key holds:
    *
    *   1. the corpus alphabet (D chars) is collected and broadcast;
    *      codes 1..D take b = ⌈log₂(D + 1)⌉ bits, c = ⌊63 / b⌋ per long;
    *   2. one UDF pass per doc packs the first k₀ = min(minLen, 4·c)
    *      chars of every position's window into ≤ 4 longs (exact key);
    *   3. class id r = min position id over a key — one shuffle;
    *   4. while k < minLen with s = min(k, minLen − k): the class of
    *      (r_k(p), r_k(p+s)) by the same step — overlapping blocks land
    *      on exactly minLen (the sparse-table idiom), and the inner
    *      (doc, p+s) join drops windows running past the doc end;
    *   5. classes with ≥ 2 members are duplicated; gaps-and-islands
    *      per doc merges their positions.
    *
    * 100 TB posture: one alphabet census, one map-side pack, one key
    * shuffle; a doubling round (one (doc, p+s) equi-join + one class
    * shuffle) runs only while k < minLen — none for the Lee et al.
    * L = 50 at D ≤ 15, one at D ≤ 31; none for q321's L = 30 at D ≤ 31.
    * State is ≤ 32 B per position and no window string is ever built
    * (the ~L× amplification [[dedupSpansRewrite]] documents is gone —
    * this IS its named 100 TB swap, made exact instead of hashed).
    *
    * @return (id, span_start, span_end, span_len, n_windows) per
    *         maximal duplicated span, 1-based inclusive char offsets
    *         into the NORMALIZED text ([[Dedup.normText]])
    */
  def suffixRankSpans(df: DataFrame, id: String, text: String,
      minLen: Int): DataFrame = {
    val full = suffixRankPositions(df, id, text, minLen)
    val dupClasses = full.groupBy(col("r"))
      .agg(count(lit(1)).as("__c")).filter(col("__c") >= 2)
      .select(col("r"))
    val dup = full.join(dupClasses, Seq("r"), "left_semi")
    val wRun = Window.partitionBy(col(id)).orderBy(col("p"))
    dup.withColumn("__isl", col("p") - row_number().over(wRun))
      .groupBy(col(id), col("__isl"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + minLen - 1).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(id), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_windows"))
  }

  /** The exact substring-dedup TRANSFORM at char granularity — the
    * [[dedupSpansRewrite]] counterpart of [[suffixRankSpans]] (same
    * Lee et al. 2022 rewrite semantics, exact rank classes instead of
    * window strings): every `minLen`-char window class with ≥ 2
    * members keeps only its globally-first occurrence (min (id, p));
    * every character covered by a non-first duplicated window is
    * excised and the doc rebuilt from the survivors in order —
    * (id, n_chars, n_removed, text_dedup), n_removed = 0 rows pass
    * through verbatim (over the NORMALIZED text, like the spans op).
    *
    * Scale shape: [[suffixRankPositions]]'s packed-key class step, then
    * ONE bounded class aggregate (cnt + min position), co-partitioned
    * (id, p) joins for cover/excise, and a per-doc rebuild — the same
    * final joins as [[dedupSpansRewrite]] minus its ~L× window-string
    * byte amplification.
    */
  def suffixRankRewrite(df: DataFrame, id: String, text: String,
      minLen: Int): DataFrame = {
    val norm = Dedup.normText(col(text))
    val full = suffixRankPositions(df, id, text, minLen)
    val stat = full.groupBy(col("r"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(id), col("p"))).as("__f"))
    val marked = full.join(stat, Seq("r"))
      .filter(col("__cnt") > 1 &&
        !(col("__f")(id) === col(id) && col("__f")("p") === col("p")))
      .select(col(id), col("p"))
    val cover = marked
      .select(col(id),
        explode(sequence(col("p"), col("p") + minLen - 1)).as("cp"))
      .distinct()
    val chars = df.select(col(id),
        posexplode(split(norm, "")).as(Seq("cp0", "ch")))
      .filter(length(col("ch")) > 0)
      .select(col(id), (col("cp0") + 1).cast("long").as("cp"), col("ch"))
    val rebuilt = chars
      .join(cover, Seq(id, "cp"), "left_anti")
      .groupBy(col(id))
      .agg(array_sort(collect_list(struct(col("cp"), col("ch")))).as("a"))
      .select(col(id), size(col("a")).cast("long").as("__kept"),
        array_join(transform(col("a"), s => s("ch")), "").as("text_dedup"))
    df.select(col(id), length(norm).cast("long").as("n_chars"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_chars"),
        (col("n_chars") - coalesce(col("__kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Duplication-ATTRIBUTION edges over the exact rank classes — the
    * contamination-forensics twin of [[suffixRankSpans]]: for every
    * duplicated `minLen`-char window class, the globally-first
    * occurrence (min (id, p)) is the SOURCE and every other member an
    * instance of copying from it; edges aggregate to (src_id, dst_id,
    * n_windows) — "how much verbatim text did dst share with the
    * first place it appeared". Within-doc self-repeats (src = dst)
    * are reported too (boilerplate inside one doc). Top `topK` edges
    * by (n_windows DESC, src_id, dst_id).
    *
    * Same scale shape as the spans op: the packed-key class step, one
    * bounded per-class aggregate, one co-partitioned join back —
    * edges are ≤ positions, and topK bounds the result.
    */
  def dupAttribution(df: DataFrame, id: String, text: String,
      minLen: Int, topK: Int): DataFrame = {
    require(topK >= 1 && topK <= 100000, s"topK in [1, 1e5], got $topK")
    val full = suffixRankPositions(df, id, text, minLen)
    val stat = full.groupBy(col("r"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(id), col("p"))).as("__f"))
      .filter(col("__cnt") > 1)
      .select(col("r"), col("__f")(id).as("src_id"),
        col("__f")("p").as("__fp"))
    full.join(stat, Seq("r"))
      .filter(!(col(id) === col("src_id") && col("p") === col("__fp")))
      .groupBy(col("src_id"), col(id).as("dst_id"))
      .agg(count(lit(1)).as("n_windows"))
      .orderBy(col("n_windows").desc, col("src_id"), col("dst_id"))
      .limit(topK)
  }

  /** Shared kernel of [[suffixRankSpans]] / [[suffixRankRewrite]] /
    * [[dupAttribution]]: exact classes of every full `minLen`-char
    * window, from packed character keys plus prefix doubling past
    * them — returns (id, p, r) for positions with a full window, r an
    * opaque class id (see suffixRankSpans' scaladoc for the algorithm).
    *
    * MEMOIZED via [[SuffixRankMemo]] (r16 verdict item 1): the three
    * public consumers run over the same (input, minLen) back-to-back
    * in any bench/verify pass, and the kernel's shuffles dominate
    * their cost — the memo keys on the ANALYZED plan of the
    * projected (id, text) input (`sameResult`, so fresh reads of the
    * same parquet path hit and a different path/filter/minLen misses)
    * and holds the final checkpointed frame. See the memo's scaladoc
    * for the purge contract.
    */
  private def suffixRankPositions(df: DataFrame, id: String,
      text: String, minLen: Int): DataFrame =
    SuffixRankMemo.getOrCompute(df, id, text, minLen)(
      suffixRankPositionsCompute(df, id, text, minLen))

  /** Public face of [[SuffixRankMemo]]'s purge contract: drop the
    * pinned kernel result after a suffix pass when its blocks matter
    * (a long-lived session moving on to other work). */
  def suffixMemoClear(): Unit = SuffixRankMemo.clear()

  /** (kernel builds, cumulative kernel wall-seconds) since JVM start —
    * the shared cost a per-query timing cannot attribute; benches and
    * receipts embed it so family numbers stay honest. */
  def suffixMemoStats: (Long, Double) =
    (SuffixRankMemo.computeCount, SuffixRankMemo.computeSeconds)

  /** (bits per code, chars per long, k₀) of the packed key for an
    * alphabet of `d` chars: ≤ 4 longs = 32 B, what one doubling round
    * shuffles per position (see [[suffixRankSpans]]). */
  private[graft] def suffixKeyShape(d: Int, minLen: Int): (Int, Int, Int) = {
    val bits = math.max(1, 32 - Integer.numberOfLeadingZeros(d))
    (bits, 63 / bits, math.min(minLen, 4 * (63 / bits)))
  }

  private def suffixRankPositionsCompute(df: DataFrame, id: String,
      text: String, minLen: Int): DataFrame = {
    require(minLen >= 2 && minLen <= 4096,
      s"minLen must be in [2, 4096], got $minLen")
    val norm = Dedup.normText(col(text))
    val docs = df.filter(col(id).isNotNull)
    val alphabet = docs
      .select(explode(array_distinct(TextAnalysis.codePoints(norm))))
      .distinct().collect().map(_.getInt(0)).sorted
    val (bits, perLong, k0) = suffixKeyShape(alphabet.length, minLen)
    val bc = df.sparkSession.sparkContext.broadcast(alphabet)
    // one pass per doc: (p, packed k₀-char block) per full block
    val keysUdf = udf { (s: String) =>
      val codes = Option(s).fold(Array.empty[Int])(_.codePoints.toArray)
        .map(cp => java.util.Arrays.binarySearch(bc.value, cp) + 1L)
      (0 to codes.length - k0).map { i =>
        val key = new Array[Long](4)
        for (j <- 0 until k0)
          key(j / perLong) = (key(j / perLong) << bits) | codes(i + j)
        ((i + 1).toLong, key(0), key(1), key(2), key(3))
      }
    }
    // class id = min position id over the key; consumers use r only as a key
    def classIds(f: DataFrame, key: Seq[Column]): DataFrame =
      f.select(col(id), col("p"), col("__gid"),
        min(col("__gid")).over(Window.partitionBy(key: _*)).as("r"))
    val keyed = docs.select(col(id), explode(keysUdf(norm)).as("k"))
      .select(col(id), col("k._1").as("p"),
        monotonically_increasing_id().as("__gid"), col("k"))
    // detached: the memo keeps the returned pin past any enclosing scope
    val out = PinScope.detached { pins =>
      var ranks = classIds(keyed,
        (2 to (k0 + perLong - 1) / perLong + 1).map(i => col(s"k._$i")))
      // doubling past k₀: class_{k+s}(p) = class of (r_k(p), r_k(p+s));
      // the inner join drops blocks that would run past the doc end
      var k = k0
      while (k < minLen) {
        val shift = math.min(k, minLen - k)
        val cur = pins.pin(ranks)
        val right = cur.select(col(id).as("__rid"),
          (col("p") - shift).as("__rp"), col("r").as("__r2"))
        ranks = classIds(
          cur.join(right, col(id) === col("__rid") && col("p") === col("__rp")),
          Seq(col("r"), col("__r2")))
        k += shift
      }
      // pin of the RETURNED frame, read twice by every consumer and
      // shared by all three via the memo; the round pins die with the scope
      pins.pin(ranks.select(col(id), col("p"), col("r")))
    }
    bc.destroy()
    out
  }

  /** Exact substring dedup with REWRITE (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every l-token window
    * that occurs more than once corpus-wide (across OR within docs)
    * keeps only its globally-first occurrence (min (id, pos)); every
    * token covered by a non-first duplicated window is excised, and the
    * doc is rebuilt from the survivors in order. Returns (id, n_toks,
    * n_removed, text_dedup) — n_removed = 0 rows pass through verbatim.
    *
    * Scale shape: one shuffle of window strings on content (the same
    * bounded-key equi-join as [[dupSpans]]), then co-partitioned
    * (id, pos) joins and one partial+final re-collect — linear in
    * corpus size, no pairwise expansion. Window strings amplify
    * shuffled bytes ~l×; at 100 TB swap the join key for xxhash64(win)
    * to shuffle 8-byte keys instead (collision odds ~N²/2⁶⁴ — fine in
    * production, kept exact here so the oracle gates bit-for-bit).
    *
    * `numParts` bounds PER-TASK memory, the same knob (and reason) as
    * [[FrameOps.searchSortedLarge]]: the window/cover/token frames are
    * ~l× the corpus, so at the default shuffle parallelism the win
    * join, the cover distinct, and the rebuild anti-join each hold
    * corpus·l/parts rows per task — the r7 100× stress peaked a task
    * at ~2 GiB, one fixture-doubling from task failure. The r8
    * same-session A/B on that fixture: default parts 128 s wall /
    * 2688 MiB peak task → 256 parts 99 s / 268 MiB (better on BOTH
    * axes: the wide shuffles also break up the hot-window stragglers).
    * The default `numParts = -1` AUTO-SIZES from one cheap token-count
    * pass: ~500k exploded (token × l) rows per task ≈ the measured
    * ~260 MiB task footprint (533 B/row of Tungsten hash-set + window
    * string overhead, calibrated on the 100× fixture), clamped to
    * 4096 and disabled when the derived width doesn't exceed the
    * session shuffle partitions — so test-SF plans are untouched and
    * the 100 TB shape engages by itself. 0 forces off; >0 overrides.
    */
  def dedupSpansRewrite(df: DataFrame, id: String, text: String,
      l: Int, numParts: Int = -1): DataFrame = {
    val t = toks(col(text))
    val sessionParts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val parts =
      if (numParts >= 0) numParts
      else {
        val nTok = Option(df.agg(sum(size(t))).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val want = (nTok * l / 500000L).toInt
        if (want <= sessionParts) 0 else math.min(want, 4096)
      }
    def parted(d: DataFrame, keys: Column*): DataFrame =
      if (parts > 0) d.repartition(parts, keys: _*) else d
    val wins = df.select(col(id),
        posexplode(TextAnalysis.allNgramsUdf(t, lit(l))).as(Seq("p0", "win")))
      .select(col(id), (col("p0") + 1).as("p"), col("win"))
    val stat = parted(wins, col("win")).groupBy(col("win"))
      .agg(count(lit(1)).as("cnt"), min(struct(col(id), col("p"))).as("f"))
    val marked = parted(wins, col("win")).join(stat, Seq("win"))
      .filter(col("cnt") > 1 &&
        !(col("f")(id) === col(id) && col("f")("p") === col("p")))
      .select(col(id), col("p"))
    val cover = parted(marked
      .select(col(id), explode(sequence(col("p"), col("p") + l - 1)).as("tp")),
        col(id), col("tp"))
      .distinct()
    val tokens = df.select(col(id), posexplode(t).as(Seq("tp0", "tok")))
      .select(col(id), (col("tp0") + 1).as("tp"), col("tok"))
    val rebuilt = parted(tokens, col(id), col("tp"))
      .join(cover, Seq(id, "tp"), "left_anti")
      .groupBy(col(id))
      .agg(array_sort(collect_list(struct(col("tp"), col("tok")))).as("a"))
      .select(col(id), size(col("a")).as("n_kept"),
        array_join(transform(col("a"), s => s("tok")), " ").as("text_dedup"))
    df.select(col(id), size(t).as("n_toks"))
      .join(rebuilt, Seq(id), "left")
      .select(col(id), col("n_toks"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0))).as("n_removed"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Hashed-feature linear quality classifier — the INFERENCE shape of a
    * fastText-style filter (Joulin et al. 2016; the CCNet/GPT-3 quality
    * gate) with deterministic pseudo-weights standing in for trained
    * ones (no model artifacts ship in this sandbox; swap [[featureWeight]]
    * for a broadcast weight table to serve a real model). Each token is
    * hashed ([[graft.expressions.TextHashes.poly_hash]], codegen'd), the
    * hash indexes a weight, the document logit is bias + scale·mean(w).
    *
    * Shape: transform+aggregate over the in-row token array — ZERO
    * shuffles, no explode; 100 TB runs as a pure map stage. The logit
    * (not a sigmoid) is emitted so the gate stays in exact-IEEE
    * territory: same token order, same doubles, both engines.
    */
  def qualityClassifierScore(df: DataFrame, id: String, text: String,
      scale: Double = 4.0, bias: Double = 0.0): DataFrame = {
    val t = filter(toks(col(text)), x => length(x) > 0)
    val wSum = aggregate(t, lit(0.0d),
      (acc, x) => acc + featureWeight(x))
    // empty / whitespace-only documents (n_tokens = 0) are rejected
    // DETERMINISTICALLY (score 0.0, keep false) instead of riding on
    // divide-by-zero semantics, which differ between engines (Spark
    // null vs IEEE NaN) and would otherwise emit an un-gated row
    val logit = when(size(t) > 0,
      lit(bias) + lit(scale) * wSum / size(t))
    df.select(col(id), size(t).as("n_tokens"), logit.as("logit"))
      .select(col(id), col("n_tokens"),
        coalesce(round(col("logit"), 6), lit(0.0d)).as("score"),
        coalesce(col("logit") > 0, lit(false)).as("keep"))
  }

  /** Pseudo-weight in [-0.5, 0.5) for a token: multiplicative remix of
    * its polynomial hash. Deterministic, uniform, SQL-replayable.
    */
  private def featureWeight(tok: Column): Column =
    pmod(graft.expressions.TextHashes.poly_hash(tok) * lit(2654435761L),
      lit(1000000007L)).cast("double") / lit(1000000007.0d) - lit(0.5d)

  /** Resample the corpus toward a target domain mixture: given target
    * weights per stratum and a total row `budget`, compute the keep-rate
    * budget·target/n per stratum (capped at 1 — a filter can't
    * upsample; [[mixtureUpsample]] handles rates above 1 by
    * replication) and apply the deterministic hash filter of [[sampleByHash]].
    * This is the mixture-balancing step of every pretraining pipeline
    * (e.g. up/down-weighting domains): counts aggregate is tiny and
    * broadcast back; the filter itself is a map-stage predicate.
    */
  def mixtureResample(df: DataFrame, id: String, strata: String,
      targets: Map[String, Double], budget: Long,
      defaultTarget: Double = 0.0): DataFrame = {
    val target = targets.foldLeft(lit(defaultTarget)) { case (acc, (k, w)) =>
      when(col(strata) === k, lit(w)).otherwise(acc)
    }
    val rates = df.groupBy(col(strata))
      .agg(count(lit(1)).as("n_stratum"))
      .withColumn("rate", least(lit(1.0d), lit(budget.toDouble) * target / col("n_stratum")))
    val bucket = hashBucket(col(id))
    df.join(broadcast(rates), strata)
      .filter(bucket < (col("rate") * lit(4294967296L)).cast("long"))
  }

  /** Shared Efraimidis–Spirakis priority spelling: one generator feeds
    * both the Spark op and its DuckDB replay (the psiTermExprOf
    * pattern), so the IEEE LN result — and therefore the floor-nano
    * integer — is computed from the same expression tree on both
    * engines. `h` is a scrambled hash in [0, P); +1 maps it to (0, P]
    * so the log argument is ≥ 1 and the priority non-negative.
    */
  def esPriorityExpr(h: String, w: String): String =
    s"CAST(FLOOR(1000000000.0 * LN(CAST(" +
      s"${graft.expressions.HashSpec.P} AS DOUBLE) / " +
      s"CAST(($h) + 1 AS DOUBLE)) / CAST($w AS DOUBLE)) AS BIGINT)"

  /** DETERMINISTIC weighted sample WITHOUT replacement — the
    * Efraimidis–Spirakis scheme with hash-derived uniforms instead of
    * an RNG stream: u(id) = (scrambled poly hash + 1) / P, priority =
    * floor(1e9 · ln(1/u) / w), keep the k SMALLEST priorities (ties →
    * min id). Inclusion odds are proportional to weight exactly as in
    * classic E–S (larger w ⇒ ln(1/u)/w closer to 0 ⇒ earlier rank),
    * but the sample is a pure function of (ids, weights, k): identical
    * across runs, retries, partitionings AND engines, so — unlike RNG
    * `df.sample` (q39, rows-only) — it hash-gates. The affine scramble
    * ([[Sketches.kmvMixA]]/[[Sketches.kmvMixB]]) decorrelates
    * sequential ids, the q218 rationale.
    *
    * This is the per-document companion of the stratum-level mixture
    * family: [[mixtureResample]] hits an EXPECTED budget per stratum;
    * this draws an EXACT-size sample biased by a per-row quality/
    * length weight — "keep the best-ish 100k docs, weight = quality"
    * without a global sort of the corpus.
    *
    * Scale shape: one map stage (hash + priority) then a distributed
    * top-k (TakeOrderedAndProject — per-partition heaps, k rows to the
    * driver-side reduce, never a global sort). Weights must be
    * POSITIVE integers (cents/chars/tokens — float weights would make
    * tie order engine-dependent); non-positive rows are dropped.
    */
  def weightedSampleDet(df: DataFrame, id: String, weight: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 10000000, s"k must be in [1, 1e7], got $k")
    val p = graft.expressions.HashSpec.P
    val h = (poly_hash(col(id).cast("string")) * lit(Sketches.kmvMixA) +
      lit(Sketches.kmvMixB)) % lit(p)
    df.select(col(id), col(weight).cast("long").as("w"), h.as("h"))
      .filter(col("w") > 0 && col(id).isNotNull)
      .withColumn("priority_nano", expr(esPriorityExpr("h", "w")))
      .orderBy(col("priority_nano"), col(id))
      .limit(k)
      .select(col(id), col("w"), col("priority_nano"))
  }

  /** Grouped [[weightedSampleDet]]: an EXACT-size weighted sample per
    * stratum (k best-ish docs per language/source/domain) — the
    * deterministic per-stratum draw a mixture schedule actually wants.
    * Same hash-derived E–S priorities; selection is a grp-PARTITIONED
    * rank (bounded per-group window, never global — the kmvSketchBy
    * posture). Strata with fewer than k eligible rows keep them all.
    */
  def weightedSampleDetBy(df: DataFrame, id: String, weight: String,
      strata: String, kPerStratum: Int): DataFrame = {
    require(kPerStratum >= 1 && kPerStratum <= 10000000,
      s"kPerStratum must be in [1, 1e7], got $kPerStratum")
    val p = graft.expressions.HashSpec.P
    val h = (poly_hash(col(id).cast("string")) * lit(Sketches.kmvMixA) +
      lit(Sketches.kmvMixB)) % lit(p)
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("priority_nano"), col(id))
    df.select(col(strata).as("grp"), col(id),
        col(weight).cast("long").as("w"), h.as("h"))
      .filter(col("w") > 0 && col(id).isNotNull && col("grp").isNotNull)
      .withColumn("priority_nano", expr(esPriorityExpr("h", "w")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kPerStratum)
      .select(col("grp"), col(id), col("w"), col("priority_nano"), col("rk"))
  }

  /** Shared Shannon-entropy term spelling — floor-nano nats per
    * distinct value: floor(1e9 · (cnt/N) · ln(N/cnt)). Each term is an
    * exact function of (cnt, N) alone and the per-group sum is integer
    * addition, so the result is association-order-free and replays
    * bit-for-bit on any engine with IEEE doubles + LN (the
    * psiTermExprOf contract). cnt = N ⇒ ln(1) = 0 ⇒ term 0.
    */
  def entropyTermExpr(cnt: String, n: String): String =
    s"CAST(FLOOR(1000000000.0 * (CAST($cnt AS DOUBLE) / CAST($n AS DOUBLE))" +
      s" * LN(CAST($n AS DOUBLE) / CAST($cnt AS DOUBLE))) AS BIGINT)"

  /** Per-group token ENTROPY in exact floor-nano nats — the corpus
    * diversity dashboard (a deduplicated crawl's token entropy is
    * high; boilerplate-heavy or repetitive sources sit low; the metric
    * most curation reports chart next to dedup rates). Exactness tier:
    * one (group, value) count shuffle with map-side combine, then a
    * bounded per-group fold — entropy needs every count, so the tail
    * ride is inherent; pair with [[graft.ops.Sketches.heavyHittersBy]]
    * when only the head matters.
    *
    * @return (grp, n_tokens, n_distinct, entropy_nano) per group
    */
  def tokenEntropyBy(df: DataFrame, group: String,
      valueCol: String): DataFrame = {
    val counts = df.select(col(group).cast("string").as("grp"),
        col(valueCol).cast("string").as("v"))
      .filter(col("grp").isNotNull && col("v").isNotNull)
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct"))
    counts.join(totals, Seq("grp"))
      .withColumn("term", expr(entropyTermExpr("cnt", "n_tokens")))
      .groupBy(col("grp"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("n_distinct")).as("n_distinct"),
        sum(col("term")).as("entropy_nano"))
  }

  /** Mixture resampling WITH upsampling — rates above 1 replicate.
    * [[mixtureResample]] caps its keep-rate at 1 because a filter can
    * only discard; real mixture schedules (DoReMi-style domain weights,
    * epoch factors for small high-quality domains) routinely ask for
    * 2–4 passes over a stratum. Here each row of a stratum with rate r
    * is emitted floor(r) times unconditionally plus one more copy iff
    * the [[sampleByHash]] hash of its id lands under frac(r) — so
    * E[copies] = r exactly, the emitted set is a function of (id,
    * targets, budget) alone (reproducible across runs, retries, and
    * the DuckDB oracle — no RNG stream), and a stratum with r ≤ 1
    * degenerates to exactly [[mixtureResample]]'s selection.
    *
    * Scale shape: the rate table is a broadcast |strata|-row frame;
    * replication is a map-stage explode of a `sequence` bounded by
    * ceil(r) — no shuffle, no driver loop. Emits a `copy` index
    * (0-based) so downstream sharding/packing can disambiguate
    * replicas before any groupBy on the id.
    */
  def mixtureUpsample(df: DataFrame, id: String, strata: String,
      targets: Map[String, Double], budget: Long,
      defaultTarget: Double = 0.0): DataFrame = {
    val target = targets.foldLeft(lit(defaultTarget)) { case (acc, (k, w)) =>
      when(col(strata) === k, lit(w)).otherwise(acc)
    }
    val rates = df.groupBy(col(strata))
      .agg(count(lit(1)).as("n_stratum"))
      .withColumn("rate", lit(budget.toDouble) * target / col("n_stratum"))
    val whole = floor(col("rate")).cast("long")
    val frac = col("rate") - floor(col("rate"))
    df.join(broadcast(rates), strata)
      // rate = 0 still yields one candidate copy (sequence(0, -1) would
      // count DOWN in Spark); the filter then drops it: 0 < 0 is false
      // and frac·2^32 = 0 admits no hash
      .withColumn("copy",
        explode(sequence(lit(0L), greatest(ceil(col("rate")).cast("long"), lit(1L)) - 1)))
      .filter(col("copy") < whole ||
        (col("copy") === whole &&
          hashBucket(col(id)) < (frac * lit(4294967296L)).cast("long")))
  }

  /** Mixture resampling toward a TOKEN budget (the unit training
    * pipelines actually plan in): like [[mixtureResample]], but the
    * per-stratum keep-rate is budgetTokens·target / (stratum token sum),
    * so the EXPECTED kept token mass per stratum hits the target share
    * of the budget (the hash filter is uniform over docs, independent of
    * their length). Pair with a real tokenizer's counts — q156b feeds it
    * [[TextAnalysis.wordpieceTokenize]] output. Same plan shape as the
    * doc-count variant: tiny aggregate broadcast back, map-stage filter.
    */
  def mixtureResampleTokens(df: DataFrame, id: String, strata: String,
      nTokens: Column, targets: Map[String, Double], budgetTokens: Long,
      defaultTarget: Double = 0.0): DataFrame = {
    val target = targets.foldLeft(lit(defaultTarget)) { case (acc, (k, w)) =>
      when(col(strata) === k, lit(w)).otherwise(acc)
    }
    val rates = df.groupBy(col(strata))
      .agg(sum(nTokens).as("tok_stratum"))
      .withColumn("rate",
        least(lit(1.0d), lit(budgetTokens.toDouble) * target / col("tok_stratum")))
    df.join(broadcast(rates), strata)
      .filter(hashBucket(col(id)) < (col("rate") * lit(4294967296L)).cast("long"))
  }

  /** Corpus vocabulary statistics: the frequency-of-frequencies spectrum
    * (how many distinct terms occur exactly f times, f = 1..`maxFreq`,
    * plus one overflow bucket) with each bucket's share of total token
    * mass. The hapax row (f=1) and the spectrum shape are the standard
    * corpus-health signals (Zipf fit, OOV-rate estimation à la
    * Good–Turing). One term-count shuffle, then an aggregation over
    * vocabulary-sized data — never row-sized.
    */
  /** Per-source operational report — the first dashboard a pipeline
    * owner reads before mixing sources: document count, exact-duplicate
    * rate (md5-fingerprint groups, the [[Dedup.exactDuplicateGroups]]
    * notion), whitespace-token mass, and mean document length. All
    * integer-exact except the ratio columns, which floor to basis
    * points (engine-order-free). Two bounded shuffles at any scale:
    * fingerprint distinct (keyed on (source, fp)) then the per-source
    * rollup — shuffled rows carry fingerprints, never text.
    */
  def sourceReport(df: DataFrame, id: String, text: String,
      source: String): DataFrame = {
    val base = df.select(col(source).as("source"),
      md5(Dedup.normText(col(text))).as("fp"),
      size(split(Dedup.normText(col(text)), " ")).cast("long").as("n_toks"))
    val perDoc = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("token_mass"))
    val distinctFp = base.select(col("source"), col("fp")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_distinct"))
    perDoc.join(distinctFp, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_distinct"), col("token_mass"),
        floor((col("n_docs") - col("n_distinct")) * lit(10000L) / col("n_docs"))
          .cast("long").as("dup_bp"),
        floor(col("token_mass") * lit(100L) / col("n_docs"))
          .cast("long").as("mean_toks_c"))
  }

  def vocabStats(df: DataFrame, text: String, maxFreq: Int): DataFrame = {
    val terms = df.select(explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0)
    val counts = terms.groupBy(col("term")).agg(count(lit(1)).as("f"))
    // total token mass = Σf over the vocabulary-sized counts frame —
    // NOT a second scan of the exploded terms (the double-scan pattern
    // tfidf/decontaminate already eliminated)
    val total = counts.agg(sum(col("f")).as("n_tokens"))
    counts
      .withColumn("bucket",
        when(col("f") <= maxFreq, col("f")).otherwise(lit(maxFreq + 1)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_terms"), sum(col("f")).as("n_occurrences"))
      .crossJoin(broadcast(total))
      .select(col("bucket"), col("n_terms"), col("n_occurrences"),
        round(col("n_occurrences") / col("n_tokens"), 6).as("mass_frac"))
  }

  /** Zipf fit: slope of ln(frequency) ~ ln(rank) over the `topK` most
    * frequent terms (regr_slope — the built-in least-squares aggregate).
    * Healthy natural-language corpora sit near −1; a flat slope flags
    * templated/boilerplate-heavy text, a steep one a degenerate
    * vocabulary. The global rank window runs AFTER a top-k truncation,
    * so it orders `topK` rows, never the vocabulary.
    */
  def zipfSlope(df: DataFrame, text: String, topK: Int): DataFrame = {
    val counts = df.select(explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("term").asc).limit(topK)
    val w = Window.orderBy(col("f").desc, col("term").asc)
    counts.withColumn("r", row_number().over(w))
      .agg(count(lit(1)).cast("long").as("n_terms"),
        round(regr_slope(log(col("f")), log(col("r"))), 4).as("zipf_slope"))
  }

  /** Deterministic shard assignment for training-data layout: shard =
    * multiplicative-hash(id) mod `nShards` — stable across runs and
    * engines, no RNG, no coordination. Returns the per-shard manifest
    * (doc count, token sum, id range) a writer would use to emit one
    * file per shard; balance across shards is the hash's uniformity.
    * Pure map-side bucketing + one tiny aggregation, the exact shape of
    * `df.write.partitionBy(shard)` at 100 TB.
    */
  def shardManifest(df: DataFrame, id: String, text: String,
      nShards: Int): DataFrame = {
    val bucket = hashBucket(col(id))
    df.select(col(id), pmod(bucket, lit(nShards.toLong)).as("shard"),
        size(filter(toks(col(text)), x => length(x) > 0)).as("n_tokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        min(col(id)).as("min_id"), max(col(id)).as("max_id"))
  }

  /** One-call corpus preparation — the composed pipeline a reference
    * user switches to: minimum-quality gate → benchmark decontamination
    * → exact dedup (min-id representative) → deterministic mixture
    * sampling toward target domain weights. Emits EVERY input row with
    * a keep flag and the first failing stage as `reason`
    * (low_quality | contaminated | duplicate | sampled_out | kept), so
    * the drop accounting is auditable. Stage order matters and is the
    * scale order: cheap row-local gates first, the gram broadcast
    * semi-join second, the fingerprint shuffle third, and the mixture
    * rates are computed over the SURVIVORS of the first three gates
    * (sampling from an uncleaned corpus would skew the mixture).
    * Fuzzy near-dedup is deliberately separate ([[Dedup.dedupCorpus]]):
    * its LSH fan-out costs real money at 100 TB and pipelines schedule
    * it independently.
    */
  def prepareCorpus(df: DataFrame, id: String, text: String,
      strata: String, targets: Map[String, Double], budget: Long,
      benchmark: DataFrame, n: Int = 3, minTokens: Int = 20): DataFrame = {
    val t = filter(toks(col(text)), x => length(x) > 0)
    val base = df.withColumn("n_tokens", size(t))
      .withColumn("fp", md5(Dedup.normText(col(text))))
    val contaminated = decontaminate(df, benchmark, id, text, n)
      .select(col(id), lit(1).as("is_cont"))
    val reps = base.groupBy(col("fp")).agg(min(col(id)).as("keep_id"))
    // no broadcast hint: the contaminated set is data-dependent (could
    // be corpus-sized under heavy contamination) — AQE picks the side
    val staged = base
      .join(contaminated, Seq(id), "left")
      .join(reps, "fp")
      .withColumn("fail",
        when(col("n_tokens") < minTokens, "low_quality")
          .when(col("is_cont") === 1, "contaminated")
          .when(col(id) =!= col("keep_id"), "duplicate"))
    val surv = staged.filter(col("fail").isNull)
    val target = targets.foldLeft(lit(0.0d)) { case (acc, (k, w)) =>
      when(col(strata) === k, lit(w)).otherwise(acc)
    }
    val rates = surv.groupBy(col(strata))
      .agg(count(lit(1)).as("n_stratum"))
      .withColumn("rate",
        least(lit(1.0d), lit(budget.toDouble) * target / col("n_stratum")))
      .select(col(strata), col("rate"))
    val bucket = hashBucket(col(id))
    staged.join(broadcast(rates), Seq(strata), "left")
      .withColumn("reason",
        coalesce(col("fail"),
          when(bucket < (coalesce(col("rate"), lit(0.0d)) * lit(4294967296L))
            .cast("long"), "kept").otherwise("sampled_out")))
      .select(col(id), col(strata), col("n_tokens"),
        (col("reason") === "kept").cast("int").as("keep"), col("reason"))
  }

  /** Overlapping-token chunker for RAG / pretraining-context prep:
    * chunks of `size` tokens starting every `size − overlap` tokens;
    * the LAST chunk is the first whose window reaches the end (truncated
    * there), so every token is covered and no degenerate tail chunk is
    * emitted. Compiled UDF (the Generate-vs-HOF trap again), exploded to
    * (id, chunk_idx, n_chunk_tokens, chunk). Pure map + explode — no
    * shuffle; at 100 TB this is a scan-shaped stage like tokenization.
    */
  def chunkDocuments(df: DataFrame, id: String, text: String,
      size: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    df.select(col(id),
        posexplode(docChunksUdf(toks(col(text)), lit(size),
          lit(size - overlap))).as(Seq("chunk_idx", "chunk")))
      .withColumn("n_chunk_tokens", org.apache.spark.sql.functions.size(
        split(col("chunk"), " ")))
      .select(col(id), col("chunk_idx"), col("n_chunk_tokens"), col("chunk"))
  }

  private val docChunksUdf = udf { (toksIn: Seq[String], size: Int, step: Int) =>
    if (toksIn == null || toksIn.isEmpty) Seq.empty[String]
    else {
      val n = toksIn.length
      val nChunks = 1 + math.ceil(math.max(0, n - size).toDouble / step).toInt
      (0 until nChunks).map(i =>
        toksIn.slice(i * step, math.min(i * step + size, n)).mkString(" "))
    }
  }

  /** Deterministic WEIGHTED sampling per stratum (Efraimidis–Spirakis
    * A-ES): key = −ln(u)/w with u a fixed hash-derived uniform in (0,1];
    * the bottom-`n` keys per stratum are a weighted sample without
    * replacement — heavier rows proportionally likelier. RNG-free like
    * [[sampleByHash]] (same hash → same sample on every run, engine,
    * shard), which is what makes quality-weighted corpus sampling
    * reproducible AND oracle-gateable. One window per stratum, rank on
    * the raw key with the id as tiebreak.
    *
    * Weights must be strictly positive: w <= 0 would give an infinite
    * or sign-flipped key and a null weight a null key, silently
    * corrupting the per-stratum order — such rows are excluded from
    * the sample up front (the filter also drops null weights).
    */
  def weightedSample(df: DataFrame, id: String, strata: String,
      weight: Column, n: Int): DataFrame = {
    val bucket = hashBucket(col(id))
    val u = (bucket + lit(1L)).cast("double") / lit(4294967297.0d)
    val wS = Window.partitionBy(col(strata)).orderBy(col("es_key"), col(id))
    df.filter(weight > lit(0.0d))
      .withColumn("es_key", -log(u) / weight)
      .withColumn("rnk", row_number().over(wS))
      .filter(col("rnk") <= n)
      .withColumn("rnk", col("rnk").cast("int"))
      .withColumn("es_key", round(col("es_key"), 6))
  }

  /** Consistent bottom-`n` sampling per stratum: keep the `n` rows with
    * the smallest multiplicative hash of `id` in each stratum. Unlike a
    * rate (`sampleByHash`), this yields an EXACT per-stratum count, and
    * because the hash is fixed, samples drawn from different
    * snapshots/shards of the same corpus are consistent (a row's
    * membership never flips as unrelated rows arrive — the bottom-k
    * union-merge property stream systems rely on).
    */
  def bottomKPerStratum(df: DataFrame, strata: String, id: String,
      n: Int): DataFrame = {
    val bucket = hashBucket(col(id))
    val wS = Window.partitionBy(col(strata)).orderBy(col("bucket"), col(id))
    df.withColumn("bucket", bucket)
      .withColumn("rnk", row_number().over(wS))
      .filter(col("rnk") <= n)
      .withColumn("rnk", col("rnk").cast("int"))
  }

  /** Benchmark-side contamination by CONTAINMENT (asymmetric Jaccard):
    * for each (corpus doc, benchmark doc) pair, the fraction of the
    * BENCHMARK doc's distinct token n-grams found in the corpus doc —
    * the GPT-3-appendix-C / PaLM decon reports flag eval EXAMPLES this
    * way ("dirty" examples mostly contained in some training doc),
    * which [[decontaminate]]'s corpus-side overlap can't express.
    *
    * Plan: benchmark grams (+ per-doc gram counts) broadcast; candidate
    * generation is the gram equi-join, so only (corpus_id, bench_id)
    * hit tuples shuffle — never text. The containment threshold is
    * compared in exact basis points (floor), no fp boundary.
    *
    * PRECONDITION (same contract as the capped-jaccard guard):
    * candidate pairs scale as Σ_gram corpusDf(gram)·benchDf(gram), so
    * run EXACT DEDUP FIRST on both sides (the ordering `prepareCorpus`
    * uses). On a wholesale-replicated corpus the raw path is quadratic
    * in the duplication factor — measured at 100x: 84 s raw vs 15 s
    * dedup-first (PLANS.md round-7 stress table).
    */
  def containmentPairs(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String, n: Int,
      minContainment: Double): DataFrame = {
    val bg = explodedGrams(benchmark, id, text, n)
      .withColumnRenamed(id, "bench_id")
    val bsz = bg.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("bench_grams"))
    explodedGrams(corpus, id, text, n)
      .join(broadcast(bg), Seq("gram"))
      .groupBy(col(id), col("bench_id"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(bsz), Seq("bench_id"))
      .withColumn("containment_bp",
        floor(col("n_common") * lit(10000.0) / col("bench_grams")).cast("long"))
      .filter(col("containment_bp") >= lit((minContainment * 10000).toLong))
      .select(col(id), col("bench_id"),
        col("bench_grams").cast("int").as("bench_grams"),
        col("n_common").cast("int").as("n_common"), col("containment_bp"))
  }

  /** Consumer-grade contamination verdicts per BENCHMARK document with
    * the exact-dedup-first ordering BAKED IN (the measured linear-scale
    * path — PLANS.md round-7 stress: 84 s → 15 s at 100x): both sides
    * collapse to normalized-text-distinct representatives before the
    * gram join, rep-level containment runs once per distinct text, and
    * verdicts fan back to every benchmark member by fingerprint —
    * linear joins throughout, never a pairwise expansion. Returns one
    * row per contaminated benchmark doc: (bench_doc, bench_grams,
    * n_common, containment_bp, example_<id> = the min-id corpus doc
    * attaining the best containment).
    */
  def containmentVerdicts(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String, n: Int,
      minContainment: Double): DataFrame = {
    val fp = md5(Dedup.normText(col(text)))
    def reps(df: DataFrame): DataFrame = df
      .select(fp.as("fp"), struct(col(id), col(text)).as("m"))
      .groupBy(col("fp")).agg(min(col("m")).as("m"))
      .select(col("fp"), col("m")(id).as(id), col("m")(text).as(text))
    val cReps = reps(corpus)
    val bReps = reps(benchmark)
    val pairs = containmentPairs(cReps.select(col(id), col(text)),
      bReps.select(col(id), col(text)), id, text, n, minContainment)
    // best corpus rep per bench rep: highest containment, then min id
    // (same-bp ties share n_common, so the struct max is total)
    val best = pairs
      .groupBy(col("bench_id"))
      .agg(max(struct(col("containment_bp"), col("n_common"),
          (-col(id)).as("nid"))).as("b"),
        max(col("bench_grams")).as("bench_grams"))
      .select(col("bench_id"), col("bench_grams"),
        col("b.n_common").as("n_common"),
        col("b.containment_bp").as("containment_bp"),
        (-col("b.nid")).as(s"example_$id"))
    benchmark.select(col(id).as("bench_doc"), fp.as("fp"))
      .join(broadcast(bReps.select(col("fp"), col(id).as("bench_id"))), "fp")
      .join(broadcast(best), "bench_id")
      .select(col("bench_doc"), col("bench_grams"), col("n_common"),
        col("containment_bp"), col(s"example_$id"))
  }

  /** Okapi BM25 retrieval for a bag-of-words query (k1 = 1.2, b = 0.75):
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln((N−df+0.5)/(df+0.5)+1). The serving-side counterpart
    * to [[invertedIndex]].
    *
    * Plan: the token stream is filtered to the query's terms BEFORE the
    * (id, term) count shuffle, so shuffle volume is O(query hits), not
    * O(tokens); df/idf live on a |query|-row broadcast; doc length is a
    * map-side pass; N and avgdl are one broadcast scalar row. Per-term
    * scores are quantized to basis points (floor) BEFORE the per-doc
    * sum, so the sum is integer-exact and association-order-free.
    */
  def bm25TopK(df: DataFrame, id: String, text: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val t = toks(col(text))
    val lens = df.select(col(id),
      size(filter(t, x => length(x) > 0)).as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = df.select(col(id), explode(t).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
    tf.join(lens, Seq(id))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5) + 1.0))
      .withColumn("s_bp", floor(col("idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))) *
        lit(10000.0)).cast("long"))
      .groupBy(col(id))
      .agg(count(lit(1)).cast("int").as("n_terms_hit"),
        sum(col("s_bp")).as("score_bp"))
      .orderBy(col("score_bp").desc, col(id).asc)
      .limit(k)
  }

  /** Temperature-scaled mixture sampling: per-stratum target shares are
    * DERIVED from the observed distribution, p_s^(1/tau) / Σ p^(1/tau)
    * (the multilingual-LM upsampling recipe — tau > 1 flattens toward
    * uniform, lifting low-resource strata; tau = 1 keeps natural
    * proportions), then applied with the same deterministic hash-rate
    * budget filter as [[mixtureResample]]. All share arithmetic runs on
    * the |strata|-row counts frame; the corpus side stays a map-stage
    * filter.
    */
  def mixtureTemperature(df: DataFrame, id: String, strata: String,
      tau: Double, budget: Long): DataFrame = {
    require(tau > 0, s"tau must be > 0, got $tau")
    val w = Window.partitionBy()
    val rates = df.groupBy(col(strata))
      .agg(count(lit(1)).as("n_stratum"))
      .withColumn("p", col("n_stratum") / sum(col("n_stratum")).over(w))
      .withColumn("pt", pow(col("p"), lit(1.0 / tau)))
      .withColumn("target", col("pt") / sum(col("pt")).over(w))
      .withColumn("rate",
        least(lit(1.0d), lit(budget.toDouble) * col("target") / col("n_stratum")))
    df.join(broadcast(rates.select(col(strata), col("n_stratum"),
        col("target"), col("rate"))), strata)
      .filter(hashBucket(col(id)) < (col("rate") * lit(4294967296L)).cast("long"))
  }

  /** Deterministic stratified train/val/test split: each row's split is
    * a pure function of its id hash, via cumulative bucket thresholds —
    * reproducible across runs, engines, shards, and corpus growth (a
    * doc never changes split as others arrive; the property eval-set
    * hygiene depends on). `fracs` are (label, fraction) in priority
    * order; fractions must sum to <= 1, any remainder falls to the last
    * label.
    */
  def splitAssign(df: DataFrame, id: String,
      fracs: Seq[(String, Double)]): DataFrame =
    df.withColumn("split", splitExpr(hashBucket(col(id)), fracs))

  /** Shared split-label ladder over a 32-bit bucket value: cumulative
    * integer thresholds computed once on the driver — the per-row
    * comparison is pure long arithmetic, no fp boundary per row.
    */
  private def splitExpr(bucket: Column,
      fracs: Seq[(String, Double)]): Column = {
    require(fracs.nonEmpty && math.abs(fracs.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val cum = fracs.map(_._2).scanLeft(0.0)(_ + _).tail
    val thresholds = cum.map(c => (c * 4294967296.0d).toLong)
    fracs.init.zip(thresholds.init).foldRight(
        lit(fracs.last._1)) { case (((label, _), thr), acc) =>
      when(bucket < thr, lit(label)).otherwise(acc)
    }
  }

  /** Integer thresholds of the split ladder — exposed so an engine
    * replay (the q187 oracle) uses the EXACT longs the plan compares
    * against, not a re-derivation.
    */
  def splitThresholds(fracs: Seq[(String, Double)]): Seq[Long] =
    fracs.map(_._2).scanLeft(0.0)(_ + _).tail.map(c => (c * 4294967296.0d).toLong)

  /** Leakage-safe split assignment: like [[splitAssign]], but the
    * bucket is derived from the NORMALIZED CONTENT (poly_hash of
    * [[Dedup.normText]]) instead of the row id — so exact duplicates
    * land in the SAME split by construction and a train/val pair can
    * never be copies of one document (the classic eval-leak that id-
    * hashed splitting silently permits). Near-duplicates still need
    * [[Dedup.dedupCorpus]] first; this op closes the exact-copy hole
    * at zero extra passes — the split is still a pure per-row map,
    * no join, no shuffle, stable under corpus growth.
    */
  def splitAssignSafe(df: DataFrame, text: String,
      fracs: Seq[(String, Double)]): DataFrame =
    df.withColumn("split", splitExpr(
      hashBucket(graft.expressions.TextHashes.poly_hash(
        Dedup.normText(col(text)))), fracs))

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * corpus document by how target-like its hashed unigram profile is,
    *   logw(d) = Σ_{tokens t ∈ d} ( ln p̂_target(b(t)) − ln p̂_source(b(t)) ),
    * with b(t) = poly_hash(t) mod `buckets` and both distributions
    * Laplace-smoothed (+0.5 per bucket, the paper's hashed-feature
    * recipe). High logw → resembles `target`; resampling/top-k on logw
    * selects target-like data from the raw corpus.
    *
    * Scale shape: two explode→groupBy bucket-count passes (map-side
    * combined, output bounded by `buckets`), the per-bucket
    * log-likelihood-ratio table joins back BROADCAST (≤ buckets rows),
    * and the final per-doc sum is one keyed agg — token rows never
    * carry text, nothing quadratic anywhere. The target sample is
    * typically tiny (a quality slice); the source pass is the only
    * full-corpus scan.
    *
    * Cross-engine determinism: the per-bucket ratio is rounded to 6
    * decimals BEFORE the per-doc sum (bucket counts are exact integers
    * on both engines, so p̂/q̂ are bit-identical doubles; only ln can
    * drift last-ulp — rounding the ratio pins it, the same pin as
    * [[Dedup.tfidfCosinePairs]]'s idf). Docs with zero tokens are
    * absent from the output (they have no evidence either way).
    */
  def dsirLogWeights(corpus: DataFrame, target: DataFrame, id: String,
      text: String, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, "need buckets > 0")
    def feats(df: DataFrame) = graft.Tables.spread(df.select(col(id), col(text)), id)
      .select(col(id), explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0)
      .withColumn("b", pmod(graft.expressions.TextHashes.poly_hash(col("term")),
        lit(buckets.toLong)))
    val src = feats(corpus)
    val srcCnt = src.groupBy(col("b")).agg(count(lit(1)).as("qc"))
    val tgtCnt = feats(target).groupBy(col("b")).agg(count(lit(1)).as("pc"))
    // totals ride tiny (≤ buckets)-row frames; the ratio table is exact
    // integer arithmetic up to the two ln calls, rounded immediately
    val qTot = srcCnt.agg(sum(col("qc")).as("q_tot"))
    val pTot = tgtCnt.agg(sum(col("pc")).as("p_tot"))
    val lr = srcCnt.join(tgtCnt, Seq("b"), "left")
      .na.fill(0L, Seq("pc"))
      .crossJoin(broadcast(qTot)).crossJoin(broadcast(pTot))
      .withColumn("lr", round(
        log((col("pc") + lit(0.5)) / (col("p_tot") + lit(0.5 * buckets))) -
        log((col("qc") + lit(0.5)) / (col("q_tot") + lit(0.5 * buckets))), 6))
      .select(col("b"), col("lr"))
    src.join(broadcast(lr), Seq("b"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr")).as("logw"))
  }

  /** Feature-hashed bag-of-words document vectors (Weinberger et al.
    * 2009): token t adds sign(t) at index hash(t) mod dim, giving every
    * document a fixed-width `array<float>` embedding with NO trained
    * vocabulary — the deterministic bridge from raw text into the
    * engine's vector tiers ([[Linalg.gramianMicro]], the ANN family,
    * [[Dedup.embeddingNearPairs]]). Counts are integers, the sign is a
    * hash bit, so the vectors are bit-identical across engines,
    * partitionings and runs.
    *
    * 100 TB posture: explode → one (id, bucket)-bounded aggregation →
    * dense array assembly per doc; shuffled rows carry (id, idx,
    * signed-count) longs, never text.
    *
    * @return (id, vec: array<float> of length dim, n_tokens)
    */
  def hashedBowVectors(df: DataFrame, id: String, text: String,
      dim: Int = 64): DataFrame = {
    require(dim >= 2 && dim <= 65536, s"dim must be in [2, 65536], got $dim")
    val tok = graft.Tables.spread(df.select(col(id), col(text)), id)
      .select(col(id), explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0)
      .withColumn("h", poly_hash(col("term")))
      // index = h mod dim; sign from the next hash "bit" — an
      // independent parity of the same polynomial hash
      .withColumn("i", pmod(col("h"), lit(dim.toLong)).cast("int"))
      .withColumn("s", when(pmod(floor(col("h") / dim).cast("long"),
        lit(2L)) === 0, 1L).otherwise(-1L))
    val cells = tok.groupBy(col(id), col("i"))
      .agg(sum(col("s")).as("v"), count(lit(1)).as("n"))
    // dense assembly: one O(dim) pass with a map lookup per index (an
    // accumulator-fold over transform() would re-evaluate the whole
    // array per cell — the interpreted-HOF trap PLANS.md measures)
    cells.groupBy(col(id))
      .agg(map_from_entries(collect_list(struct(col("i"), col("v")))).as("m"),
        sum(col("n")).as("n_tokens"))
      .select(col(id),
        transform(sequence(lit(0), lit(dim - 1)),
          j => coalesce(element_at(col("m"), j), lit(0L)).cast("float")).as("vec"),
        col("n_tokens"))
  }

  /** Multinomial naive Bayes over hashed unigrams: the TRAINABLE
    * companion of [[qualityClassifierScore]]'s fixed-weight inference —
    * the fasttext-style language-ID / quality-classifier shape corpus
    * pipelines train on a labeled slice and run over everything.
    *
    * Model: per (bucket, class) log-likelihood ln((cnt+0.5) /
    * (classTokens + 0.5·B)) and per-class log-prior ln(nDocs/total),
    * both FLOOR-quantized to integer micro-units at model-build time —
    * so scoring is pure 64-bit integer summation and the argmax is
    * association-order-free (the [[Graph.pageRankPpb]] determinism
    * pattern). Ties break to the lexicographically smallest label.
    * Tokens hashing to buckets unseen in training score over known
    * buckets only (inner join — deterministic, documented).
    *
    * 100 TB posture: training aggregates to ≤ B·C + C rows (broadcast
    * both); prediction is explode → broadcast join → per-(doc, class)
    * map-side-combined sum → C-row window per doc. The corpus is
    * scanned once and shuffles only (id, class, partial-sum) rows.
    *
    * @return (id, label = predicted class, score_micro, n_known —
    *         tokens that hit a trained bucket)
    */
  def naiveBayesPredict(corpus: DataFrame, seeds: DataFrame, id: String,
      text: String, label: String, buckets: Int = 256): DataFrame = {
    require(buckets > 0 && buckets <= 65536,
      s"buckets must be in [1, 65536], got $buckets")
    def feats(df: DataFrame, keep: Seq[String]) =
      graft.Tables.spread(df.select((keep :+ text).map(col): _*), keep.head)
        .select(keep.map(col) :+ explode(toks(col(text))).as("term"): _*)
        .filter(length(col("term")) > 0)
        .withColumn("b", pmod(poly_hash(col("term")), lit(buckets.toLong)))
        .drop("term")
    // ---- train: all aggregates are bucket/class-bounded ----
    // classTok is referenced three times below (grid's seen-bucket set,
    // grid's per-class totals, and the model join) — without pinning,
    // Catalyst re-evaluates the whole scan+tokenize subtree of the
    // TRAINING slice once per reference (measured: q174 0.74 s → 1.0 s,
    // the r14 bench's one "regression" verdict). localCheckpoint
    // materializes the ≤ B·C-row frame once; everything downstream is
    // grid-sized arithmetic. classTot is derived from it (sum of
    // per-bucket counts ≡ the class token total) instead of a second
    // tokenize pass.
    val tok = feats(seeds, Seq(id, label))
    val classTok = tok.groupBy(col(label), col("b")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val classTot = classTok.groupBy(col(label)).agg(sum(col("cnt")).as("tot"))
    // full (seen-bucket × class) grid so absent pairs get the smoothed
    // floor value instead of silently vanishing from one class
    val grid = classTok.select(col("b")).distinct().crossJoin(classTot)
    val model = grid.join(classTok, Seq("b", label), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("ll_micro",
        floor(log((col("cnt") + lit(0.5)) / (col("tot") + lit(0.5 * buckets)))
          * 1e6).cast("long"))
      .select(col("b"), col(label), col("ll_micro"))
    // one seeds scan for the priors: nTot derives from nDocs (sum of
    // per-class doc counts ≡ total docs), and nDocs is pinned because
    // the crossJoin references it alongside the derived total
    val nDocs = seeds.groupBy(col(label)).agg(count(lit(1)).as("ndocs"))
      .localCheckpoint()
    val nTot = nDocs.agg(sum(col("ndocs")).as("nd_tot"))
    val priors = nDocs.crossJoin(broadcast(nTot))
      .withColumn("prior_micro",
        floor(log(col("ndocs").cast("double") / col("nd_tot")) * 1e6).cast("long"))
      .select(col(label), col("prior_micro"))
    // ---- predict: one corpus scan, broadcast model ----
    val t = feats(corpus, Seq(id))
    val perClass = t.join(broadcast(model), Seq("b"))
      .groupBy(col(id), col(label))
      .agg(sum(col("ll_micro")).as("s"), count(lit(1)).as("n_known"))
      .join(broadcast(priors), label)
      .withColumn("score_micro", col("s") + col("prior_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("score_micro").desc, col(label))
    perClass
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col(id), col(label), col("score_micro"), col("n_known"))
  }

  /** Per-source distribution drift: KL(source ‖ corpus) over unigram
    * token distributions, plus each source's token entropy — the
    * data-mixing diagnostic (a source whose unigram distribution has
    * drifted far from the corpus mean is a candidate for re-weighting
    * or quality review; between two crawls the same number flags
    * template/spam shifts inside one source).
    *
    * Determinism contract: every per-term contribution is computed by
    * ONE expression string parsed identically by Spark and DuckDB
    * ([[driftKlTermExpr]]/[[driftEntTermExpr]] — the [[knLpExpr]]
    * pattern), floor-quantized to integer nano-units, and summed as
    * BIGINT — so the reduction is association-order-free and the
    * result bit-identical across engines and partitionings.
    *
    * 100 TB posture: one token-count shuffle keyed on (source, term);
    * everything after runs on vocabulary-sized frames (|sources|·|V|
    * rows carrying a term and three longs — never text, never rows).
    * The corpus total is a broadcast single-row frame.
    */
  def domainDrift(df: DataFrame, text: String, source: String): DataFrame = {
    val tok = df.select(col(source).as("source"),
        explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0)
    val st = tok.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c_st"))
    val sTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val tTot = st.groupBy(col("term")).agg(sum(col("c_st")).as("c_t"))
    val nAll = st.agg(sum(col("c_st")).as("n_all"))
    st.join(sTot, Seq("source"))
      .join(tTot, Seq("term"))
      .crossJoin(broadcast(nAll))
      .selectExpr("source",
        driftKlTermExpr + " AS kl_nano_t",
        driftEntTermExpr + " AS ent_nano_t")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("kl_nano_t")).as("kl_nano"),
        sum(col("ent_nano_t")).as("entropy_nano"))
      .join(sTot, Seq("source"))
      .select(col("source"), col("n_s").as("n_tokens"), col("n_terms"),
        col("kl_nano"), col("entropy_nano"))
  }

  /** Floor-nano KL term: (c_st/n_s)·ln(c_st·n_all / (n_s·c_t)) — one
    * string, parsed by both engines so the double ops replay exactly.
    */
  def driftKlTermExpr: String =
    "CAST(FLOOR(1000000000.0 * (CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))" +
      " * LN((CAST(c_st AS DOUBLE) * CAST(n_all AS DOUBLE))" +
      " / (CAST(n_s AS DOUBLE) * CAST(c_t AS DOUBLE)))) AS BIGINT)"

  /** Floor-nano entropy term: −(c_st/n_s)·ln(c_st/n_s). */
  def driftEntTermExpr: String =
    "CAST(FLOOR(-1000000000.0 * (CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))" +
      " * LN(CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))) AS BIGINT)"

  /** Sequence-length bucketing report — the pad-efficiency dashboard a
    * training pipeline reads before choosing batch shapes: documents
    * are assigned to the smallest bucket boundary holding their
    * whitespace-token count (over-cap docs clamp to the top bucket,
    * the truncation the packer would apply), and each bucket reports
    * document count, kept-token mass, pad-token mass, and the pad
    * fraction in floor basis points. Pure integer arithmetic
    * throughout; the CASE ladder is generated from `boundaries` so an
    * engine replay is the literal same expression. One scan plus a
    * |boundaries|-row aggregation.
    */
  def lengthBuckets(df: DataFrame, text: String,
      boundaries: Seq[Int] = Seq(16, 32, 64, 128, 256, 512, 1024, 2048))
      : DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted &&
      boundaries.distinct == boundaries,
      "boundaries must be non-empty, strictly increasing")
    val cap = boundaries.last
    df.select(size(toks(col(text))).cast("long").as("n"))
      .select(least(col("n"), lit(cap.toLong)).as("kept"))
      .selectExpr(lengthBucketExpr(boundaries) + " AS bucket", "kept")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("kept_tokens"),
        sum(col("bucket") - col("kept")).as("pad_tokens"))
      .withColumn("pad_bp",
        expr("(10000 * pad_tokens) div (n_docs * bucket)"))
  }

  /** CASE ladder mapping a clamped token count `kept` to its bucket —
    * shared verbatim with the SQL replay.
    */
  def lengthBucketExpr(boundaries: Seq[Int]): String =
    "CASE " + boundaries.init.map(b => s"WHEN kept <= $b THEN CAST($b AS BIGINT) ")
      .mkString + s"ELSE CAST(${boundaries.last} AS BIGINT) END"

  /** Vocabulary diff between two corpus snapshots (crawl N vs crawl
    * N+1): gained/lost/shared term counts, vocabulary Jaccard, and the
    * share of the new snapshot's token mass carried by gained terms —
    * the cheap "what changed in this crawl" dashboard that catches
    * template shifts, new spam campaigns, and scraper regressions
    * before any model sees the data. All integer; ratios floor to
    * basis points. Two token-count shuffles, then one full-outer join
    * of two vocabulary-sized frames and a bounded rollup.
    */
  def vocabDiff(old: DataFrame, fresh: DataFrame, text: String): DataFrame = {
    def counts(df: DataFrame, as: String) = df
      .select(explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as(as))
    counts(old, "c_old").join(counts(fresh, "c_new"), Seq("term"), "full")
      .agg(
        sum(when(col("c_old").isNotNull, 1L).otherwise(0L)).as("n_terms_old"),
        sum(when(col("c_new").isNotNull, 1L).otherwise(0L)).as("n_terms_new"),
        sum(when(col("c_old").isNotNull && col("c_new").isNotNull, 1L)
          .otherwise(0L)).as("n_shared"),
        sum(when(col("c_old").isNull, 1L).otherwise(0L)).as("n_gained"),
        sum(when(col("c_new").isNull, 1L).otherwise(0L)).as("n_lost"),
        sum(coalesce(col("c_old"), lit(0L))).as("mass_old"),
        sum(coalesce(col("c_new"), lit(0L))).as("mass_new"),
        sum(when(col("c_old").isNull, coalesce(col("c_new"), lit(0L)))
          .otherwise(0L)).as("gained_mass"))
      .withColumn("vocab_jaccard_bp", expr(
        "(10000 * n_shared) div (n_terms_old + n_terms_new - n_shared)"))
      .withColumn("gained_mass_bp",
        expr("(10000 * gained_mass) div mass_new"))
  }

  /** Per-class precision / recall / F1 of a classifier against truth
    * labels — the evaluation rollup that decides whether a trained
    * quality/language gate ([[naiveBayesPredict]], or any model whose
    * scores land in a column) ships. All three metrics are exact
    * integer floor basis points — F1's closed form 2·tp/(n_pred +
    * n_truth) needs no intermediate ratios, so there is nothing to
    * drift. Classes appearing only in predictions or only in truth
    * still get a row (their undefined metric is null, not fabricated
    * 0). Bounded aggregations over the joined (pred, truth) pairs;
    * scale-independent output (one row per class).
    */
  def classifierReport(pred: DataFrame, truth: DataFrame, id: String,
      predCol: String, labelCol: String): DataFrame = {
    val j = pred.select(col(id), col(predCol).as("__p"))
      .join(truth.select(col(id), col(labelCol).as("__t")), Seq(id))
    val classes = j.select(col("__p").as("cls"))
      .union(j.select(col("__t").as("cls"))).distinct()
    val tp = j.filter(col("__p") === col("__t"))
      .groupBy(col("__p").as("cls")).agg(count(lit(1)).as("tp"))
    val predN = j.groupBy(col("__p").as("cls")).agg(count(lit(1)).as("n_pred"))
    val truthN = j.groupBy(col("__t").as("cls")).agg(count(lit(1)).as("n_truth"))
    classes
      .join(tp, Seq("cls"), "left")
      .join(predN, Seq("cls"), "left")
      .join(truthN, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"))
      // nullif: a class absent from one side has that metric undefined
      // (null) — and Spark 4 ANSI `div` throws on a zero divisor
      .withColumn("precision_bp", expr("(10000 * tp) div nullif(n_pred, 0L)"))
      .withColumn("recall_bp", expr("(10000 * tp) div nullif(n_truth, 0L)"))
      .withColumn("f1_bp", expr("(20000 * tp) div (n_pred + n_truth)"))
  }

  /** Gini coefficient of the corpus token-frequency distribution —
    * the concentration scalar behind the Zipf plot (q157b gives the
    * slope; this gives the inequality number a crawl-health dashboard
    * tracks release over release: template spam and boilerplate push
    * it toward 1, a diversified crawl pulls it down). Exact integer
    * form of the classic rank formula: terms rank ASCENDING by
    * (count, term) — the tie-break makes the rank deterministic while
    * leaving the Gini value unchanged (equal counts commute in W) —
    * then gini_bp = floor(10^4·(2W − (n+1)·S) / (n·S)) with
    * W = Σ rank·count, S = total token mass. The rank window runs over
    * the VOCABULARY frame (bounded: distinct terms, not corpus rows).
    *
    * Overflow bound (BIGINT): the 10^4-scaled numerator needs
    * n_terms·mass ≤ ~9.2e14 (e.g. a 1e6-term vocab over 1e8 tokens) —
    * per-source strata at fleet scale, which is also the more
    * actionable report.
    *
    * @return one row: (n_terms, mass, w_ranked, gini_bp)
    */
  def tokenGini(df: DataFrame, text: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(explode(toks(col(text))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    counts
      .withColumn("r", row_number().over(
        Window.orderBy(col("c"), col("term"))).cast("long"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("mass"),
        sum(col("r") * col("c")).as("w_ranked"))
      .withColumn("gini_bp", expr(
        "(10000 * (2 * w_ranked - (n_terms + 1) * mass))" +
          " div nullif(n_terms * mass, 0L)"))
  }

  /** Non-empty whitespace tokens of normalized `text` as an ARRAY —
    * the gram-slicing twin of [[toks]] (which keeps empty splits).
    * DuckDB replay: list_filter(string_split(s, ' '), w -> length(w) > 0).
    */
  private def toksNE(c: Column): Column =
    filter(toks(c), w => length(w) > 0)

  /** The 1/2/3-gram ladder of normalized `text` in ONE pass: one row
    * per token position with (w1, w2, w3) = the token and its two
    * successors (NULL past the document tail), via a single posexplode
    * of the filtered token array + one doc-partitioned window of
    * lead()s — the TextAnalysis gram discipline: no HOF-built array
    * ever feeds Generate (the PLANS.md lambda-re-evaluation trap) and
    * every gram order falls out of the same exchange. Unigrams = all
    * rows, bigrams = w2 IS NOT NULL, trigrams = w3 IS NOT NULL.
    */
  private def gramLadder(df: DataFrame, id: String, text: String)
      : DataFrame = {
    val wd = Window.partitionBy(col("did")).orderBy(col("pos"))
    df.select(col(id).as("did"), toksNE(col(text)).as("ws"))
      .select(col("did"), posexplode(col("ws")).as(Seq("pos", "w1")))
      .select(col("did"), col("w1"),
        lead(col("w1"), 1).over(wd).as("w2"),
        lead(col("w1"), 2).over(wd).as("w3"))
  }

  /** Stupid Backoff trigram LM scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" §4): the non-normalized
    * backoff score with α = 0.4,
    *   S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)        if the trigram was seen
    *                 = α · c(w2w3)/c(w2)         else if the bigram was
    *                 = α² · c(w3)/N              else (0.5 floor for OOV),
    * trained on `train`, scoring every `corpus` document with ≥ 3
    * tokens. This is the smoothing Google designed FOR MapReduce-scale
    * corpora: no discounts, no continuation counts — every model table
    * is a plain gram count, so the whole train phase is three
    * map-side-combined aggregations (vs [[knBigramLmScore]]'s KN, which
    * needs distinct-continuation passes; at web scale "stupid" wins on
    * both cost and, past ~10⁹ tokens, BLEU — the paper's point).
    *
    * Each trigram position contributes floor-nano nats through ONE
    * expression string parsed by Spark and DuckDB alike
    * ([[sbTermExpr]], the knLpExpr contract), so the per-doc sum is
    * integer addition — association-order-free and hash-gated.
    *
    * Scale shape: train tables are gram-vocabulary-sized after map-side
    * combine; scoring is three LEFT equi-joins of the corpus trigram
    * stream against (tri, bi, uni) tables — each co-partitioned on its
    * gram key, nothing pairwise, no windows. Held-out grams simply miss
    * a join and take the backoff branch, which IS the semantics.
    * Docs with < 3 tokens carry no trigram evidence and are absent.
    *
    * @return (id, n_tri, sb_nano) — trigram positions scored and the
    *         summed floor-nano log-score (higher = more train-like).
    */
  def stupidBackoffScore(corpus: DataFrame, train: DataFrame, id: String,
      text: String, alpha: Double = 0.4): DataFrame = PinScope { pins =>
    require(alpha > 0 && alpha < 1, "need 0 < alpha < 1")
    // ONE pass over the train token stream: group the ladder by
    // (w1, w2, w3) — null-tail rows included — then derive every
    // lower-order count by re-aggregating the VOCABULARY-sized frame
    // (sums of exact integer counts, so this is the same number as
    // counting the stream directly).
    // r18 OPTIMIZATION (opt guide §3.3): materialize the census ONCE.
    // Five derived tables (c1 twice, c2 twice, c3, nTot) consume g123
    // and Catalyst does not dedupe the shared subtree — the r18 before-
    // plan shows SIX window+double-exchange passes over the train
    // ladder. The pin is vocabulary-sized; every consumer now reads
    // materialized rows.
    val g123 = pins.pin(gramLadder(train, id, text)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c")))
    val c1 = g123.groupBy(col("w1")).agg(sum(col("c")).as("c1u"))
    val c2 = g123.filter(col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c12"))
    val c3 = g123.filter(col("w3").isNotNull)
      .select(col("w1"), col("w2"), col("w3"), col("c").as("c123"))
    val nTot = g123.agg(sum(col("c")).as("n_train"))
    // pre-merged lookup tables: a seen trigram always carries its
    // context-bigram count (c123 > 0 ⇒ c12 > 0), a seen bigram its
    // first-word count — the scoring pass stays at three joins
    val triTab = c3.join(c2, Seq("w1", "w2"))
    val biTab = c2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c12").as("c23"))
      .join(c1.select(col("w1").as("w2"), col("c1u").as("c2u")), Seq("w2"))
    val uniTab = c1.select(col("w1").as("w3"), col("c1u").as("c3u"))
    gramLadder(corpus, id, text).filter(col("w3").isNotNull)
      .join(triTab, Seq("w1", "w2", "w3"), "left")
      .join(biTab, Seq("w2", "w3"), "left")
      .join(uniTab, Seq("w3"), "left")
      .crossJoin(broadcast(nTot))
      .selectExpr("did", sbTermExpr(alpha) + " AS term")
      .groupBy(col("did"))
      .agg(count(lit(1)).as("n_tri"), sum(col("term")).as("sb_nano"))
      .select(col("did").as(id), col("n_tri"), col("sb_nano"))
  }

  /** The Stupid Backoff per-trigram term — ONE string, parsed by Spark
    * and DuckDB alike so the double arithmetic replays operation-for-
    * operation: floor-nano nats of the backoff CASE ladder. The count
    * ratios are exact-integer divisions; α interpolates via shortest-
    * roundtrip repr (the knLpExpr contract).
    */
  def sbTermExpr(alpha: Double): String =
    "CAST(FLOOR(1000000000.0 * (CASE" +
      " WHEN c123 IS NOT NULL THEN LN(CAST(c123 AS DOUBLE) / CAST(c12 AS DOUBLE))" +
      s" WHEN c23 IS NOT NULL THEN LN($alpha * (CAST(c23 AS DOUBLE) / CAST(c2u AS DOUBLE)))" +
      s" ELSE LN($alpha * $alpha * (COALESCE(CAST(c3u AS DOUBLE), 0.5) / CAST(n_train AS DOUBLE)))" +
      " END)) AS BIGINT)"

  /** The 100 TB tier of [[stupidBackoffScore]]: every gram key rides as
    * a poly-hash BIGINT instead of up-to-three strings, so the three
    * scoring shuffles exchange 8-byte keys — the q297b hash-census
    * discipline. Lookup keys are composite ((h2a,h3) for trigrams,
    * (hw2,h23) for bigrams) so the pre-merged tables need no
    * order-sensitive aggregation; a hash collision merges counts
    * IDENTICALLY in the engine and the oracle (which replays the same
    * polynomial), so the gate cannot split on one.
    */
  def stupidBackoffScoreHashed(corpus: DataFrame, train: DataFrame,
      id: String, text: String, alpha: Double = 0.4): DataFrame = PinScope { pins =>
    require(alpha > 0 && alpha < 1, "need 0 < alpha < 1")
    def hashed(df: DataFrame): DataFrame =
      gramLadder(df, id, text).filter(col("w3").isNotNull).select(col("did"),
        poly_hash(concat_ws(" ", col("w1"), col("w2"), col("w3"))).as("h3"),
        poly_hash(concat_ws(" ", col("w1"), col("w2"))).as("h2a"),
        poly_hash(concat_ws(" ", col("w2"), col("w3"))).as("h23"),
        poly_hash(col("w2")).as("hw2"),
        poly_hash(col("w3")).as("hw3"))
    // same one-pass train census as the string tier; hashes are
    // computed on the VOCABULARY-sized frame (a hash is a function of
    // the gram, so hash-then-sum equals hashing the raw stream).
    // r18: pinned once for the same shared-subtree reason as the
    // string tier (five consumers, no Catalyst dedup).
    val g123 = pins.pin(gramLadder(train, id, text)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c")))
    val c1 = g123.select(poly_hash(col("w1")).as("h1"), col("c"))
      .groupBy(col("h1")).agg(sum(col("c")).as("c1u"))
    val big = g123.filter(col("w2").isNotNull).select(
      poly_hash(concat_ws(" ", col("w1"), col("w2"))).as("h2"),
      poly_hash(col("w1")).as("hw1"), col("c"))
    // context counts keyed by the bigram hash ALONE (unique key — a
    // colliding pair merges, mirrored by the oracle's GROUP BY h2);
    // the backoff table keeps (first-word, bigram) so its c2u join key
    // stays functional
    val c2solo = big.groupBy(col("h2")).agg(sum(col("c")).as("c12"))
    val c2pair = big.groupBy(col("hw1"), col("h2")).agg(sum(col("c")).as("c23"))
    val c3 = g123.filter(col("w3").isNotNull)
      .select(poly_hash(concat_ws(" ", col("w1"), col("w2"), col("w3"))).as("h3"),
        poly_hash(concat_ws(" ", col("w1"), col("w2"))).as("h2a"), col("c"))
      .groupBy(col("h2a"), col("h3")).agg(sum(col("c")).as("c123"))
    val nTot = g123.agg(sum(col("c")).as("n_train"))
    val triTab = c3.join(
      c2solo.select(col("h2").as("h2a"), col("c12")), Seq("h2a"))
    val biTab = c2pair.select(col("hw1").as("hw2"), col("h2").as("h23"),
        col("c23"))
      .join(c1.select(col("h1").as("hw2"), col("c1u").as("c2u")), Seq("hw2"))
    val uniTab = c1.select(col("h1").as("hw3"), col("c1u").as("c3u"))
    hashed(corpus)
      .join(triTab, Seq("h2a", "h3"), "left")
      .join(biTab, Seq("hw2", "h23"), "left")
      .join(uniTab, Seq("hw3"), "left")
      .crossJoin(broadcast(nTot))
      .selectExpr("did", sbTermExpr(alpha) + " AS term")
      .groupBy(col("did"))
      .agg(count(lit(1)).as("n_tri"), sum(col("term")).as("sb_nano"))
      .select(col("did").as(id), col("n_tri"), col("sb_nano"))
  }

  /** Best-fit no-split sequence packing (Ding et al. 2024, "Fewer
    * Truncations Improve Language Modeling": their Best-Fit-Decreasing
    * bin packing replaces [[packSequences]]' concat-and-chunk, which
    * truncates every document straddling a window boundary). Documents
    * longer than `budget` are first cut into ⌈n/budget⌉ pieces (only
    * these suffer any truncation — the paper's sole split rule), then
    * every piece goes to the TIGHTEST feasible bin of its shard —
    * min remaining ≥ len, ties to the lowest bin id — in
    * (len DESC, id ASC, piece ASC) order, opening a new bin when none
    * fits. Deterministic: no RNG, total processing order, total
    * tie-breaks — the oracle replays the fold step-for-step as a
    * recursive CTE.
    *
    * Scale shape: packing is sequential PER SHARD and shards are
    * independent — parallelism = `shards`, per-shard state is one
    * TreeMap of (remaining → bin ids) with O(log bins) per piece, and
    * per-shard memory is its piece list (size shards so a shard's
    * pieces fit one executor: at 100 TB, shards ≈ corpus tokens /
    * desired shard token mass). The shard key is the Knuth
    * multiplicative hash of the id — engine-replayable, unlike a
    * partitioner-dependent key.
    *
    * @return (id, piece, len, shard, bin) — bin ids are 1-based and
    *         per-shard.
    */
  def packBestFit(df: DataFrame, id: String, text: String,
      budget: Int, shards: Int): DataFrame = {
    require(budget > 0, "need budget > 0")
    require(shards > 0, "need shards > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val pieces = df
      .select(col(id).cast("long").as("did"),
        size(toksNE(col(text))).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("n_pieces", expr(s"(n + ${budget - 1}) div $budget"))
      .select(col("did"),
        explode(sequence(lit(0L), col("n_pieces") - 1)).as("piece"), col("n"))
      .withColumn("len",
        least(lit(budget.toLong), col("n") - col("piece") * budget))
      .withColumn("shard",
        expr(s"(did * 2654435761) % 4294967296 % $shards"))
      .select(col("shard"), col("did"), col("piece"), col("len"))
    val packed = pieces.as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard: Long, it: Iterator[(Long, Long, Long, Long)]) =>
        val ps = it.toArray.sortBy { case (_, d, p, l) => (-l, d, p) }
        // remaining capacity -> bin ids at that remaining (1-based)
        val byRem = new java.util.TreeMap[Long, java.util.TreeSet[Long]]()
        var nBins = 0L
        def place(rem: Long, bin: Long): Unit = {
          val s = byRem.get(rem)
          if (s == null) {
            val ns = new java.util.TreeSet[Long](); ns.add(bin)
            byRem.put(rem, ns)
          } else s.add(bin)
        }
        ps.iterator.map { case (_, d, p, l) =>
          val e = byRem.ceilingEntry(l)
          if (e == null) {
            nBins += 1
            place(budget.toLong - l, nBins)
            (d, p, l, shard, nBins)
          } else {
            val bin = e.getValue.first()
            e.getValue.remove(bin)
            if (e.getValue.isEmpty) byRem.remove(e.getKey)
            place(e.getKey - l, bin)
            (d, p, l, shard, bin)
          }
        }
      }
    packed.toDF(id, "piece", "len", "shard", "bin")
  }

  /** Shard-level fill report over a [[packBestFit]] layout: pieces,
    * bins opened, token mass, the ⌈mass/budget⌉ lower bound (how many
    * bins a perfect packer would need), and the fill rate in floor
    * basis points — the number the paper optimizes (their Figure 1:
    * best-fit reaches ~99% fill with near-zero truncation). One
    * bounded aggregation over the packing output.
    */
  def packBestFitStats(packed: DataFrame, budget: Int): DataFrame = {
    require(budget > 0, "need budget > 0")
    packed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_pieces"),
        countDistinct(col("bin")).as("n_bins"),
        sum(col("len")).as("tokens"))
      .withColumn("lb_bins", expr(s"(tokens + ${budget - 1}) div $budget"))
      .withColumn("fill_bp", expr(s"(10000 * tokens) div (n_bins * $budget)"))
  }
}

/** Single-entry memo for [[Corpus.suffixRankPositions]] — the exact
  * suffix-rank kernel shared by [[Corpus.suffixRankSpans]] /
  * [[Corpus.suffixRankRewrite]] / [[Corpus.dupAttribution]] (r16
  * verdict item 1: the three bench queries rebuilt IDENTICAL rank
  * classes three times, ~25 s of the 431 s close).
  *
  * Key = (session, analyzed plan of the (id, text) projection of the
  * input, id, text, minLen), matched by Catalyst `sameResult` — so a
  * FRESH `spark.read.parquet` of the same path with the same filter
  * HITS (exprIds are canonicalized away; probed on Spark 4.1.2), while
  * a different path, filter, column pair, session, or minLen MISSES.
  * A `repartition(n)` of the same data also misses, which keeps the
  * partition-count-invariance property tests honest.
  *
  * Purge contract (capacity ONE, by design): the memo exists for the
  * bench/verify pattern of the three consumers running back-to-back
  * over one input. Any miss EVICTS the previous entry before
  * computing, so at most one kernel result — (id, p, r), two longs +
  * an id per duplicated-window position — stays pinned in block
  * storage; its localCheckpoint blocks are reaped by the
  * ContextCleaner once the frame is unreferenced. [[clear]] drops the
  * entry explicitly (call it after a suffix pass when the pinned
  * blocks matter, e.g. a long-lived session moving on to other work).
  * Thread-safe; compute runs outside the lock is NOT needed here
  * (consumers are sequential in every driver contract).
  *
  * SELF-HEALING against external unpersists: a localCheckpointed
  * frame is NOT fault-tolerant — `unpersist()` on its RDD (a cache
  * purge, the ContextCleaner, `spark.catalog.clearCache` variants)
  * drops the blocks and any later read throws
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (probed on 4.1.2; Bench.purge's
  * unpersist-everything did exactly this on first contact). A hit
  * therefore also checks the stored RDD's storage level — unpersist
  * sets it to NONE — and a dropped entry reads as a MISS, never a
  * poisoned frame. Harness code that purges blocks between queries
  * but WANTS cross-query sharing must skip [[pinnedRddIds]].
  */
private[graft] object SuffixRankMemo {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.storage.StorageLevel

  private final case class Entry(session: SparkSession, plan: LogicalPlan,
      id: String, text: String, minLen: Int, frame: DataFrame,
      rdd: Option[org.apache.spark.rdd.RDD[_]])

  private var entry: Option[Entry] = None
  private var computes = 0L
  private var computeSecs = 0.0

  /** Number of kernel computations since JVM start (test hook: a HIT
    * leaves it unchanged, a MISS increments). */
  private[graft] def computeCount: Long = synchronized(computes)

  /** Cumulative wall seconds spent COMPUTING kernels (misses only) —
    * benches embed this so the shared cost a per-query min cannot
    * attribute stays visible in the artifact. */
  private[graft] def computeSeconds: Double = synchronized(computeSecs)

  /** RDD ids of the live entry's checkpoint blocks — an
    * unpersist-everything purge must skip these or the memo recomputes
    * on next use (self-heal) and the sharing it exists for is lost. */
  private[graft] def pinnedRddIds: Set[Int] =
    synchronized(entry.flatMap(_.rdd).map(_.id).toSet)

  /** Drop the pinned entry (its checkpoint blocks become GC-reapable
    * once callers release their frames). */
  private[graft] def clear(): Unit = synchronized { entry = None }

  /** The entry's blocks are live iff its checkpointed RDD still has a
    * storage level (unpersist resets it to NONE). Un-extractable RDD
    * (unexpected plan shape) → conservatively invalid. */
  private def live(e: Entry): Boolean =
    e.rdd.exists(_.getStorageLevel != StorageLevel.NONE)

  private[ops] def getOrCompute(df: DataFrame, id: String, text: String,
      minLen: Int)(compute: => DataFrame): DataFrame = synchronized {
    val key = df.select(col(id), col(text)).queryExecution.analyzed
    val hit = entry.filter(e => (e.session eq df.sparkSession) &&
      e.id == id && e.text == text && e.minLen == minLen &&
      e.plan.sameResult(key) && live(e))
    hit match {
      case Some(e) => e.frame
      case None =>
        entry = None // evict BEFORE compute: at most one pinned result
        computes += 1
        val t0 = System.nanoTime()
        val frame = compute
        computeSecs += (System.nanoTime() - t0) / 1e9
        entry = Some(Entry(df.sparkSession, key, id, text, minLen, frame,
          PinScope.checkpointRdd(frame)))
        frame
    }
  }
}
