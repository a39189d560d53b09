package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One learned BPE merge rule: at iteration `iter` the adjacent token
  * pair (`l_tok`, `r_tok`) had the highest corpus frequency
  * (`pair_cnt`) and was fused into the single token `l_tok+r_tok`.
  */
case class BpeMerge(iter: Int, l_tok: String, r_tok: String, pair_cnt: Long)

/** Per-word E-step result of [[Bpe.unigramTrainEm]]: the unique argmin
  * segmentation plus, for each DISTINCT multi-char piece in it, the
  * integer cost increase if that piece were removed from the
  * vocabulary (the likelihood-drop prune's per-word contribution).
  * Top-level, not nested in the object — Spark's encoder resolves
  * members of object-nested case classes as zero-arg outer methods and
  * falls back to interpreted serialization (the WpDoc lesson).
  */
case class UnigramSeg(path: Seq[String], losses: Seq[UnigramLoss])

/** One (piece, Δcost) loss probe of [[UnigramSeg]]. */
case class UnigramLoss(piece: String, dcost: Long)

/** Distributed BPE (byte-pair-encoding) tokenizer TRAINING — the
  * vocabulary-learning counterpart to [[TextAnalysis.wordpieceTokenize]]
  * (which applies a given vocab). Covers the reference's subword
  * pipeline end-to-end: learn merges from a corpus, then encode with
  * them ([python/custreamz + nvtext subword_tokenize families;
  * SURVEY §2.7 nvtext]).
  *
  * Classic word-frequency-dictionary formulation (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units"): the
  * corpus is scanned ONCE into (distinct word, count); every training
  * iteration then runs over that dictionary alone. At 100 TB the
  * dictionary is a few million short strings regardless of corpus
  * size, so per-iteration cost is O(|dict|): pair counting is one
  * shuffle on bounded (l,r) keys with map-side partial aggregation,
  * the winning pair is a single-row driver scalar (same contract as
  * the k-means / connected-components convergence counts), and the
  * merge rewrite is a map-side string replace. Encoding the full
  * corpus afterwards is a broadcast join of the learned dictionary —
  * the 100-TB text never shuffles.
  *
  * NOTE this operator is EAGER (like [[Corpus.decontaminateLarge]]):
  * each of the `nMerges` iterations pins the dictionary (a
  * [[PinScope]] pin, released when the op returns unless its result
  * reads it) and collects the 1-row argmax to the driver.
  *
  * Merge semantics (deterministic, engine-independent): within-word
  * adjacent pairs; each rule is applied as TWO passes of
  * delimiter-guarded left-to-right replace-all over the space-joined
  * token string (" l r " -> " lr " on the space-padded string). Two
  * passes merge alternating chains exactly like the greedy reference
  * for l != r; for self-pair runs (e.g. "aaaa" under rule (a,a)) the
  * 4th+ occurrence in a run can differ from one-scan greedy — a
  * documented variant, bit-reproducible in any engine with standard
  * replace-all. Tiebreak: highest count, then (l_tok, r_tok) binary
  * ascending. No end-of-word marker (pure intra-word merges).
  */
object Bpe {

  /** Apply one merge rule to a space-joined token string: two
    * delimiter-guarded replace passes (see object scaladoc).
    */
  private[graft] def mergeOnce(toks: Column, l: String, r: String): Column = {
    val pat = lit(s" $l $r ")
    val rep = lit(s" $l$r ")
    val padded = concat(lit(" "), toks, lit(" "))
    trim(replace(replace(padded, pat, rep), pat, rep))
  }

  /** Word-frequency dictionary with char-level initial tokenization:
    * one corpus scan -> (word, cnt, toks="c h a r s").
    */
  private[graft] def wordDict(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(Dedup.normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("toks", trim(regexp_replace(col("w"), "(.)", "$1 ")))

  /** Run the training loop with its dictionary pins in `pins`; returns
    * the learned rules and the final per-word tokenization dictionary
    * (w, cnt, toks).
    */
  private def train(pins: PinScope, df: DataFrame, textCol: String,
      nMerges: Int): (Seq[BpeMerge], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var dict = pins.pin(wordDict(df, textCol))
    val rules = Seq.newBuilder[BpeMerge]
    var k = 1
    var exhausted = false
    while (k <= nMerges && !exhausted) {
      val sp = split(col("toks"), " ")
      val top = dict
        .select(col("cnt"),
          explode(arrays_zip(
            slice(sp, lit(1), size(sp) - 1),
            slice(sp, lit(2), size(sp) - 1))).as("p"))
        .select(col("p.0").as("l"), col("p.1").as("r"), col("cnt"))
        .groupBy("l", "r").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every word fully merged
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rules += BpeMerge(k, l, r, c)
        dict = pins.pin(dict.withColumn("toks", mergeOnce(col("toks"), l, r)))
        k += 1
      }
    }
    (rules.result(), dict)
  }

  /** Learn the top `nMerges` merge rules from `df(textCol)`. Returns
    * one row per rule: (iter, l_tok, r_tok, pair_cnt), iter ascending.
    */
  def learnMerges(df: DataFrame, textCol: String, nMerges: Int): DataFrame =
    PinScope { pins =>
      val (rules, _) = train(pins, df, textCol, nMerges)
      df.sparkSession.createDataFrame(rules).orderBy(col("iter"))
    }

  /** Learn `nMerges` rules on `df` itself, then encode every document
    * with the final dictionary: a broadcast join on the word — the
    * corpus text itself never shuffles. Returns per-document
    * (idCol, n_words, n_subwords).
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
      nMerges: Int): DataFrame = PinScope { pins =>
    val (_, dict) = train(pins, df, textCol, nMerges)
    val sizes = dict.select(col("w"),
      size(split(col("toks"), " ")).as("n_sub"))
    df.select(col(idCol),
        explode(split(Dedup.normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(sizes), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subwords"))
  }

  /** Unigram-LM tokenizer TRAINING — the SentencePiece vocabulary
    * ESTIMATOR (Kudo 2018) that [[TextAnalysis.viterbiSegment]]'s
    * inference was missing: q170 segments with a GIVEN vocabulary;
    * this learns one. Deterministic hard-EM (Viterbi-EM) variant, the
    * published alternative to soft EM that keeps every quantity an
    * integer or one floor-quantized log:
    *
    *   - SEED: all single chars, the top `nBigrams`/`nTrigrams`
    *     frequency-weighted substrings, and the top `nWords` whole
    *     words (SentencePiece seeds from frequent substrings the same
    *     way; the bounded argsort caps the oracle's path enumeration).
    *     A string reachable several ways keeps its MAX count.
    *   - E-step (hard): every DISTINCT word (one corpus scan builds
    *     the (word, freq) dictionary — the [[wordDict]] discipline) is
    *     segmented by the exact Viterbi DP with the total-order
    *     tie-break (cost, n_pieces, path) —
    *     [[TextAnalysis.viterbiWordPath]] — so the argmin path is
    *     UNIQUE and a SQL replay that enumerates all paths and sorts
    *     picks the identical one.
    *   - M-step: piece count = Σ word-freq × occurrences in the best
    *     path; cost = floor(−1000·ln(cnt/total)) — ONE IEEE log per
    *     piece on exact integers (the naiveBayesPredict micro-unit
    *     contract).
    *   - PRUNE (likelihood-drop, Kudo 2018 §3 — r15 verdict item 5):
    *     chars are always kept with counts floored at 1 (every word
    *     stays segmentable — SentencePiece's required-char rule);
    *     each longer piece is priced by its LOSS-IF-REMOVED,
    *     loss(p) = Σ_w freq(w)·(bestCost_without_p(w) − bestCost(w))
    *     in the same 1000·ln micro-units (integer Δ of integer path
    *     costs — one banned-piece DP per distinct path piece), and
    *     the top `keepTop` by (loss DESC, cnt DESC, piece ASC)
    *     survive. A high-count piece whose words re-segment for free
    *     (e.g. fully covered by two surviving halves) prices at ~0
    *     and prunes where count-rank would keep it (BpeSpec pins the
    *     case). SentencePiece prunes a fixed fraction per round
    *     against a soft-EM likelihood; the hard-EM integer Δ is this
    *     engine's deterministic, oracle-replayable variant of the
    *     same ranking.
    *
    * 100 TB posture: the corpus is scanned ONCE into the distinct-word
    * dictionary; every EM iteration runs over that dictionary alone
    * with the ≤ |chars|+keepTop-piece vocabulary broadcast — per
    * iteration one bounded groupBy, nothing row-count-proportional is
    * collected (the vocab collect is vocabulary-sized by contract).
    * Words longer than `maxWordLen` are excluded from TRAINING (the
    * SentencePiece max-piece-length discipline; they still segment at
    * inference).
    *
    * @return the learned vocabulary (piece, cnt, cost), one row per
    *         surviving piece
    */
  def unigramTrainEm(df: DataFrame, textCol: String,
      nBigrams: Int = 40, nTrigrams: Int = 20, nWords: Int = 10,
      keepTop: Int = 24, iterations: Int = 2,
      maxWordLen: Int = 16): DataFrame = PinScope { pins =>
    require(iterations >= 1 && iterations <= 4,
      s"iterations must be in [1, 4], got $iterations")
    require(keepTop >= 1 && keepTop <= 4096,
      s"keepTop must be in [1, 4096], got $keepTop")
    require(maxWordLen >= 3 && maxWordLen <= 64,
      s"maxWordLen must be in [3, 64], got $maxWordLen")
    val spark = df.sparkSession
    val wf = pins.pin(df
      .select(explode(split(Dedup.normText(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("f")))
    def subCounts(len: Int): DataFrame = wf
      .filter(length(col("w")) >= len)
      .select(col("f"), explode(expr(
        s"transform(sequence(1, length(w) - ${len - 1})," +
          s" i -> substring(w, i, $len))")).as("piece"))
      .groupBy("piece").agg(sum(col("f")).as("cnt"))
    val seed = subCounts(1)
      .unionByName(subCounts(2)
        .orderBy(col("cnt").desc, col("piece").asc).limit(nBigrams))
      .unionByName(subCounts(3)
        .orderBy(col("cnt").desc, col("piece").asc).limit(nTrigrams))
      .unionByName(wf.orderBy(col("f").desc, col("w").asc).limit(nWords)
        .select(col("w").as("piece"), col("f").as("cnt")))
      .groupBy("piece").agg(max(col("cnt")).as("cnt"))
    def withCosts(v: DataFrame): DataFrame = {
      val tot = v.agg(sum(col("cnt")).as("tot"))
      v.crossJoin(broadcast(tot))
        .withColumn("cost",
          floor(lit(-1000.0) *
            log(col("cnt").cast("double") / col("tot"))).cast("long"))
        .select(col("piece"), col("cnt"), col("cost"))
    }
    var cur = pins.pin(withCosts(seed))
    var it = 0
    while (it < iterations) {
      val vm = cur.select(col("piece"), col("cost")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val ml = if (vm.isEmpty) 1 else vm.keys.map(_.length).max
      val bc = spark.sparkContext.broadcast((vm, ml))
      // unk cost is unreachable during training (every char of every
      // training word is a seeded char piece, and chars never prune).
      // One DP finds the argmin path; one extra banned-piece DP per
      // DISTINCT multi-char piece of that path (≤ |w|/2 probes of an
      // O(|w|·ml) DP on a ≤ maxWordLen word) prices its removal —
      // the SentencePiece loss-if-removed prune (r15 verdict item 5)
      // in the 1000·ln micro-unit integer contract
      val segUdf = udf { (w: String) =>
        val (vmap, m) = bc.value
        val path = TextAnalysis.viterbiWordPath(w, vmap, m, 1000000L)
        val best = path.map(p => vmap.getOrElse(p, 1000000L)).sum
        val losses = path.filter(_.length >= 2).distinct.map { p =>
          UnigramLoss(p,
            TextAnalysis.viterbiWordCostBanned(w, vmap, m, 1000000L, p)
              - best)
        }
        UnigramSeg(path, losses)
      }
      val seg = pins.pin(wf.select(col("f"), segUdf(col("w")).as("r")))
      // the pin above is the round's only reader of bc
      bc.destroy()
      val counts = seg
        .select(col("f"), explode(col("r.path")).as("piece"))
        .groupBy("piece").agg(sum(col("f")).as("cnt"))
      // loss(p) = Σ_w f(w)·Δcost(w, p): how much worse the corpus
      // segments without p. Rank (loss DESC, cnt DESC, piece ASC) —
      // a high-count piece whose words re-segment for free (fully
      // covered by other surviving pieces) prices at 0 and prunes
      val losses = seg
        .select(col("f"), explode(col("r.losses")).as("pl"))
        .groupBy(col("pl.piece").as("piece"))
        .agg(sum(col("f") * col("pl.dcost")).as("loss"))
      val charCnt = cur.filter(length(col("piece")) === 1)
        .select(col("piece"))
        .join(counts, Seq("piece"), "left")
        .select(col("piece"),
          greatest(coalesce(col("cnt"), lit(0L)), lit(1L)).as("cnt"))
      val nonChar = counts.filter(length(col("piece")) >= 2)
        .join(losses, Seq("piece"), "left")
        .withColumn("loss", coalesce(col("loss"), lit(0L)))
        .orderBy(col("loss").desc, col("cnt").desc, col("piece").asc)
        .limit(keepTop)
        .select(col("piece"), col("cnt"))
      cur = pins.pin(withCosts(charCnt.unionByName(nonChar)))
      it += 1
    }
    cur
  }
}
