package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.{Bpe, Corpus, Dedup, PinScope, Similarity, Sketches,
  SuffixRankMemo, Validate}

/** `PinScope` across the ANN, BPE, sketch, validate, dedup and census
  * ops: each op leaves persisted only the pins its result reads, nested
  * ops included, and scopes nest without touching the suffix memo's
  * pin. The graph and connected-components rows live in GraphLinalgSpec.
  */
class PinScopeSpec extends SparkSpec {
  import spark.implicits._

  private def vectors(seed: Int, ids: Seq[Long]): DataFrame = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i, Array.fill(8)(rnd.nextInt(2000) / 1000.0f - 1.0f)))
      .toDF("vec_id", "embedding")
  }

  test("every ported op leaves only the pins its result reads") {
    val corpus = vectors(11, 0L until 40L)
    val queries = corpus.filter(col("vec_id") < 3)
    val a = vectors(12, (0 until 12).map(_ * 2L))
    val b = vectors(13, (0 until 12).map(_ * 2L + 1))
    val text = Seq((1L, "the cat sat on the mat with the hat"),
      (2L, "the cat sat on the mat with the hat"),
      (3L, "a dog ran in the fog and the log"),
      (4L, "a dog ran in the fog and the bog"),
      (5L, "then the cat ran to the hat")).toDF("doc_id", "text")
    val quality = text.withColumn("q", length(col("text")))
    val blocked = text.withColumn("blk", lit(0))
    val train = text.filter(col("doc_id") =!= 5L)
    val vals = Seq("x", "x", "x", "y", "y", "z", "w", "x", "y", "x")
      .zipWithIndex.map { case (v, i) => (i % 2, v) }.toDF("g", "v")
    val cells = Seq(("a", "p"), ("a", "p"), ("b", "q"), ("b", "p"),
      ("c", "q"), ("a", "q")).toDF("x", "y")
    val roots = Seq(1L, 2L).toDF("k")
    val orders = Seq((1L, 10L), (1L, 11L), (2L, 12L), (3L, 13L))
      .toDF("cust", "ord")
    val items = Seq((10L, 100L), (11L, 101L), (13L, 102L), (12L, 103L))
      .toDF("ord", "item")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "mutualNearestPairs" -> (() => Similarity.mutualNearestPairs(a, b,
        "vec_id", "embedding")),
      "marginMinedPairs" -> (() => Similarity.marginMinedPairs(a, b,
        "vec_id", "embedding", k = 3, minMarginPpm = 900000L)),
      "marginMinedPairsIvf" -> (() => Similarity.marginMinedPairsIvf(a, b,
        "vec_id", "embedding", k = 3, minMarginPpm = 900000L,
        nClusters = 3, nProbe = 2, itersCoarse = 2)),
      "kmeansCentroids" -> (() =>
        Similarity.kmeansCentroids(corpus, "vec_id", "embedding", k = 4)),
      "kmeansCentroids farthest" -> (() => Similarity.kmeansCentroids(
        corpus, "vec_id", "embedding", k = 4, seeding = "farthest")),
      "kmeansSeedsFarthest" -> (() =>
        Similarity.kmeansSeedsFarthest(corpus, "vec_id", "embedding", 4)),
      "ivfTopKLearned" -> (() => Similarity.ivfTopKLearned(corpus, queries,
        "vec_id", "embedding", k = 3, nClusters = 4)),
      "pqCodebooks" -> (() => Similarity.pqCodebooks(corpus, "vec_id",
        "embedding", dim = 8, nSub = 2, k = 4)),
      "pqTopKLearned" -> (() => Similarity.pqTopKLearned(corpus, queries,
        "vec_id", "embedding", dim = 8, k = 3, nSub = 2, nCodes = 4)),
      "ivfPqTopKLearned" -> (() => Similarity.ivfPqTopKLearned(corpus,
        queries, "vec_id", "embedding", dim = 8, k = 3, nClusters = 4,
        nProbe = 2, nSub = 2, nCodes = 4)),
      "ivfSqTopKLearned" -> (() => Similarity.ivfSqTopKLearned(corpus,
        queries, "vec_id", "embedding", k = 3, nClusters = 4, nProbe = 2)),
      "semanticDupPairs" -> (() => Corpus.semanticDupPairs(corpus, "vec_id",
        "embedding", nClusters = 4, threshold = 0.5, iters = 2)),
      "learnMerges" -> (() => Bpe.learnMerges(text, "text", nMerges = 4)),
      "encode" -> (() => Bpe.encode(text, "doc_id", "text", nMerges = 4)),
      "unigramTrainEm" -> (() => Bpe.unigramTrainEm(text, "text",
        nBigrams = 6, nTrigrams = 3, nWords = 2, keepTop = 4)),
      "heavyHitters" -> (() => Sketches.heavyHitters(vals, "v", k = 3)),
      "heavyHittersBy" -> (() =>
        Sketches.heavyHittersBy(vals, "g", "v", k = 3)),
      "mutualInfoNano" -> (() => Validate.mutualInfoNano(cells, "x", "y")),
      "cascadePurgePlan" -> (() => Validate.cascadePurgePlan(roots, "k",
        Seq(("orders", orders, "cust", "ord"), ("items", items, "ord", "item")))),
      "dedupCorpusKeepBest" -> (() =>
        Dedup.dedupCorpusKeepBest(quality, "doc_id", "text", "q")),
      "ngramJaccardPairs capped" -> (() => Dedup.ngramJaccardPairs(blocked,
        "doc_id", "text", "blk", minJaccard = 0.3, maxDf = 2,
        maxUnsafeFrac = 1.0)),
      "stupidBackoffScore" -> (() =>
        Corpus.stupidBackoffScore(text, train, "doc_id", "text")),
      "stupidBackoffScoreHashed" -> (() =>
        Corpus.stupidBackoffScoreHashed(text, train, "doc_id", "text")))
    onBothPaths(ops.foreach { case (name, op) =>
      assertLeavesOnlyResultPins(name)(op())
    })
  }

  test("a nested scope hands its kept pin to the enclosing scope") {
    val df = spark.range(20).toDF("id")
    def live(f: DataFrame) =
      PinScope.checkpointRdd(f).get.getStorageLevel != StorageLevel.NONE
    var inner: DataFrame = null
    // the outer result reads nothing: the pin the inner scope kept goes
    val added = persistedBy {
      PinScope { outer =>
        inner = PinScope(pins => pins.pin(df.filter(col("id") > 3)))
        assert(live(inner), "the inner result's pin outlives its scope")
        assert(outer.pin(inner) eq inner, "the outer scope already owns it")
        spark.range(3).toDF("id")
      }
    }
    assert(added.isEmpty, s"left $added")
    assert(!live(inner))
    // the outer result reads it: the pin stays
    assertLeavesOnlyResultPins("outer reads inner") {
      PinScope { _ =>
        PinScope(pins => pins.pin(df.filter(col("id") > 3))).filter(col("id") < 9)
      }
    }
  }

  test("a memo-backed Corpus call inside an outer scope keeps the memo's pin") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a quick brown fox jumps over the lazy cat"),
      (3L, "nothing shared with the others at all")).toDF("doc_id", "text")
    def spansInScope() = PinScope { _ =>
      Corpus.suffixRankSpans(docs, "doc_id", "text", minLen = 12).count()
      spark.range(1).toDF("id")
    }
    SuffixRankMemo.clear()
    try {
      spansInScope()
      val pinned = SuffixRankMemo.pinnedRddIds
      assert(pinned.nonEmpty)
      assert(pinned.subsetOf(spark.sparkContext.getPersistentRDDs.keySet.toSet),
        s"memo pin $pinned released by the enclosing scope")
      val c = SuffixRankMemo.computeCount
      spansInScope()
      assert(SuffixRankMemo.computeCount == c, "second call rebuilt the kernel")
      assert(SuffixRankMemo.pinnedRddIds == pinned)
    } finally SuffixRankMemo.clear()
  }
}
