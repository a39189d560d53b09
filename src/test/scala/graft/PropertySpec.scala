package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.{AsofJoin, Dedup, Skew}

/** Property-based cross-checks (the layer SURVEY §5 promises and the
  * reference mostly lacks): the hand-built distributed operators are
  * compared against tiny brute-force reference implementations on
  * randomly generated inputs. Sample counts are kept small because each
  * evaluation runs real Spark jobs.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(name: String, prop: Prop, minTests: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  // ---- as-of join vs brute force -----------------------------------

  private val genTrades: Gen[List[(Long, String, Long)]] =
    Gen.listOfN(8, for {
      sym <- Gen.oneOf("A", "B")
      t <- Gen.choose(0L, 40L)
    } yield (sym, t)).map(_.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) })

  // quotes deduped on (sym, t): equal-time right rows have no defined
  // order in either the operator or pandas
  private val genQuotes: Gen[List[(String, Long, Double)]] =
    Gen.listOfN(8, for {
      sym <- Gen.oneOf("A", "B")
      t <- Gen.choose(0L, 40L)
      px <- Gen.choose(1, 99)
    } yield (sym, t, px.toDouble))
      .map(_.groupBy(q => (q._1, q._2)).values.map(_.head).toList)

  private def bruteAsof(trades: List[(Long, String, Long)],
      quotes: List[(String, Long, Double)], direction: String,
      tol: Option[Long]): Map[Long, Option[Double]] =
    trades.map { case (id, sym, t) =>
      val cands = quotes.filter(_._1 == sym)
      val back = cands.filter(q => q._2 <= t && tol.forall(t - q._2 <= _))
        .sortBy(_._2).lastOption
      val fwd = cands.filter(q => q._2 >= t && tol.forall(_ >= q._2 - t))
        .sortBy(_._2).headOption
      val m = direction match {
        case "backward" => back
        case "forward" => fwd
        case "nearest" => (back, fwd) match {
          case (Some(b), Some(f)) =>
            if (math.abs(f._2 - t) < math.abs(t - b._2)) Some(f) else Some(b)
          case (b, f) => b.orElse(f)
        }
      }
      id -> m.map(_._3)
    }.toMap

  for (dir <- Seq("backward", "forward", "nearest");
       tol <- Seq(None, Some(5L))) {
    test(s"asofJoin $dir tol=$tol matches brute force on random frames") {
      val prop = Prop.forAllNoShrink(genTrades, genQuotes) { (ts, qs) =>
        val trades = ts.toDF("trade_id", "sym", "t")
        val quotes = qs.toDF("sym", "t", "px")
        val got = AsofJoin.asofJoin(trades, quotes, "t", "t",
            by = Seq("sym"), rightCols = Seq("px"), direction = dir,
            tolerance = tol.map(v => lit(v)).orNull)
          .select("trade_id", "px").as[(Long, Option[Double])].collect().toMap
        got == bruteAsof(ts, qs, dir, tol)
      }
      check(s"asof-$dir-$tol", prop, minTests = 6)
    }
  }

  // ---- connected components vs union-find --------------------------

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(12, for {
      a <- Gen.choose(0L, 11L); b <- Gen.choose(0L, 11L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)
      .suchThat(_.nonEmpty)

  private def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id root for every vertex that appears in an edge
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
  }

  test("connectedComponents matches union-find on random graphs") {
    val prop = Prop.forAllNoShrink(genEdges) { es =>
      val pairs = es.toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      got == unionFind(es)
    }
    check("cc-union-find", prop, minTests = 5)
  }

  test("connectedComponentsStar matches union-find on random graphs") {
    val prop = Prop.forAllNoShrink(genEdges) { es =>
      val pairs = es.toDF("id_a", "id_b")
      val got = Dedup.connectedComponentsStar(pairs)
        .as[(Long, Long)].collect().toMap
      got == unionFind(es)
    }
    check("cc-star-union-find", prop, minTests = 5)
  }

  test("connectedComponentsStar converges in O(log n) rounds on a chain") {
    // a 64-node path has diameter 63: label propagation would need 63
    // rounds, so maxIter=10 proves the star rewrite contracts
    // logarithmically (and still yields the exact min-label components)
    val chain = (0L until 63L).map(i => (i, i + 1)).toList
    val got = Dedup.connectedComponentsStar(chain.toDF("id_a", "id_b"), maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 63L).map(_ -> 0L).toMap)
    // two disjoint chains keep distinct min labels
    val two = ((0L until 15L).map(i => (i, i + 1)) ++
      (100L until 115L).map(i => (i, i + 1))).toList
    val got2 = Dedup.connectedComponentsStar(two.toDF("id_a", "id_b"), maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(got2 == ((0L to 15L).map(_ -> 0L) ++ (100L to 115L).map(_ -> 100L)).toMap)
  }

  // ---- salted aggregation invariance -------------------------------

  private val genRows: Gen[List[(String, Double)]] =
    Gen.listOfN(60, for {
      k <- Gen.frequency((8, Gen.const("hot")), (2, Gen.oneOf("a", "b", "c")))
      v <- Gen.choose(-100, 100)
    } yield (k, v.toDouble)).suchThat(_.nonEmpty)

  test("saltedAgg equals the plain groupBy aggregate on skewed random data") {
    val prop = Prop.forAllNoShrink(genRows) { rows =>
      val df = rows.toDF("k", "v")
      val salted = Skew.saltedAgg(df, Seq("k"), "v")
        .select(col("k"), col("n"), round(col("sum_v"), 6).as("s"),
          col("min_v"), col("max_v"))
        .as[(String, Long, Double, Double, Double)].collect().toSet
      val plain = df.groupBy(col("k"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("s"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
        .as[(String, Long, Double, Double, Double)].collect().toSet
      salted == plain
    }
    check("salted-agg", prop, minTests = 6)
  }

  // ---- range join (helper + optimizer rule) vs cross-filter ---------

  private val genRange: Gen[(List[(Int, Double)], List[(Int, Double, Double)], Double)] =
    for {
      pts <- Gen.listOfN(10, Gen.choose(0, 400))
      ivs <- Gen.listOfN(6, for {
        lo <- Gen.choose(0, 380); span <- Gen.choose(0, 60)
      } yield (lo, span))
      width <- Gen.oneOf(7.0, 10.0, 25.0)
    } yield (
      pts.zipWithIndex.map { case (p, i) => (i, p.toDouble) },
      ivs.zipWithIndex.map { case ((lo, sp), i) => (i, lo.toDouble, (lo + sp).toDouble) },
      width)

  test("rangeJoinBinned and RangeBinJoinRule equal the naive cross-filter") {
    val prop = Prop.forAllNoShrink(genRange) { case (pts, ivs, width) =>
      val points = pts.toDF("pid", "p")
      val intervals = ivs.toDF("iid", "lo", "hi")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("pid"), col("iid")).as[(Int, Int)].collect().sorted.toSeq
      val naive = pairs(points.crossJoin(intervals)
        .filter(col("p") >= col("lo") && col("p") <= col("hi")))
      val binned = pairs(graft.ops.ScaleJoins.rangeJoinBinned(
        points, intervals, "p", "lo", "hi", width))
      val ruled = pairs(points.join(intervals,
        graft.plans.RangeBinJoin.rangeCond(col("p"), col("lo"), col("hi"), width)))
      binned == naive && ruled == naive
    }
    check("range-join", prop, minTests = 6)
  }

  test("intervalOverlapJoin equals the naive overlap cross-filter") {
    val gen = for {
      as <- Gen.listOfN(6, for { lo <- Gen.choose(0, 300); sp <- Gen.choose(0, 80) } yield (lo, sp))
      bs <- Gen.listOfN(6, for { lo <- Gen.choose(0, 300); sp <- Gen.choose(0, 40) } yield (lo, sp))
      w <- Gen.oneOf(10.0, 33.0, 100.0)
    } yield (as.zipWithIndex.map { case ((l, s), i) => (i, l.toDouble, (l + s).toDouble) },
      bs.zipWithIndex.map { case ((l, s), i) => (i, l.toDouble, (l + s).toDouble) }, w)
    val prop = Prop.forAllNoShrink(gen) { case (as, bs, w) =>
      val a = as.toDF("ai", "alo", "ahi")
      val b = bs.toDF("bi", "blo", "bhi")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("ai"), col("bi")).as[(Int, Int)].collect().sorted.toSeq
      pairs(graft.ops.ScaleJoins.intervalOverlapJoin(a, b, "alo", "ahi", "blo", "bhi", w)) ==
        pairs(a.crossJoin(b).filter(col("alo") <= col("bhi") && col("blo") <= col("ahi")))
    }
    check("interval-overlap", prop, minTests = 6)
  }

  // ---- sessionize vs per-user brute-force fold ----------------------

  private val genEvents: Gen[List[(Long, String, Long)]] =
    Gen.listOfN(12, for {
      u <- Gen.oneOf("u1", "u2", "u3")
      t <- Gen.choose(0L, 10000L)
    } yield (u, t)).map(_.distinct.zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) })

  test("sessionize matches a sequential per-user fold") {
    val gap = 600L
    val prop = Prop.forAllNoShrink(genEvents) { rows =>
      val df = rows.toDF("event_id", "user_id", "sec")
        .withColumn("ts", timestamp_seconds(col("sec")))
      val got = graft.ops.ScaleJoins.sessionize(df, "user_id", "ts", gap)
        .select(col("event_id"), col("session_idx"))
        .as[(Long, Long)].collect().toMap
      val want = rows.groupBy(_._2).values.flatMap { evs =>
        val sorted = evs.sortBy(e => (e._3, e._1))
        var idx = 0L; var prev = Long.MinValue
        sorted.map { case (id, _, t) =>
          if (prev == Long.MinValue || t - prev > gap) idx += 1
          prev = t
          id -> idx
        }
      }.toMap
      got == want
    }
    check("sessionize", prop, minTests = 6)
  }

  // ---- hash expression determinism ---------------------------------

  test("minhash/simhash are deterministic across evaluations and fixed-width") {
    val strs = (1 to 50).map(i => s"doc $i " + ("lorem ipsum " * (i % 7 + 1))).toDF("s")
    def sigs = strs.select(
        graft.expressions.TextHashes.minhash_sig(col("s"), 5, 16).as("mh"),
        graft.expressions.TextHashes.simhash32(col("s")).as("sh"))
      .collect().map(r => (r.getSeq[Long](0), r.getLong(1)))
    val a = sigs; val b = sigs
    assert(a.zip(b).forall { case (x, y) => x == y })
    assert(a.forall(_._1.size == 16))
  }

  // ---- wordpiece greedy tokenizer invariants -----------------------

  test("wordpiece pieces reconstruct any [a-z] word; others collapse to [UNK]") {
    import graft.ops.TextAnalysis
    val vocab = TextAnalysis.wordpieceVocab
    val vset = vocab.toSet
    val genAlpha = Gen.chooseNum(1, 16).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val reconstructs = Prop.forAll(genAlpha) { w =>
      val ids = TextAnalysis.wordpieceWord(w)
      val pieces = ids.map(vocab)
      // singles a-z + ##a-z cover every alpha word: never [UNK], every
      // piece is a vocab member, only the first is un-##-prefixed, and
      // stripping the markers reconstructs the word exactly
      ids.nonEmpty && !ids.contains(0) &&
        pieces.forall(vset) &&
        !pieces.head.startsWith("##") &&
        pieces.tail.forall(_.startsWith("##")) &&
        (pieces.head :: pieces.tail.map(_.drop(2))).mkString == w
    }
    check("wordpiece-reconstruct", reconstructs, minTests = 200)
    val genDirty = for {
      pre <- genAlpha; bad <- Gen.oneOf('0', '9', '#', '!', 'é')
      post <- genAlpha
    } yield pre + bad + post
    val unk = Prop.forAll(genDirty) { w =>
      TextAnalysis.wordpieceWord(w) == List(0) // WHOLE word, not a tail
    }
    check("wordpiece-unk-collapse", unk, minTests = 100)
  }

  test("viterbiWord matches brute-force segmentation enumeration") {
    import graft.ops.TextAnalysis
    val unkCost = 100L
    val genWord = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val genVocab: Gen[Map[String, Long]] = Gen.chooseNum(0, 10).flatMap(n =>
      Gen.listOfN(n, for {
        l <- Gen.chooseNum(1, 3)
        cs <- Gen.listOfN(l, Gen.oneOf('a', 'b', 'c'))
        cost <- Gen.chooseNum(1L, 50L)
      } yield (cs.mkString, cost)).map(_.toMap))
    // exhaustive reference: every segmentation, min by (cost, pieces) —
    // Tuple2's Ordering IS that lexicographic objective
    def brute(w: String, vm: Map[String, Long]): (Long, Long) =
      if (w.isEmpty) (0L, 0L)
      else (1 to w.length).flatMap { l =>
        vm.get(w.take(l)).orElse(if (l == 1) Some(unkCost) else None).map { c =>
          val (rc, rp) = brute(w.drop(l), vm)
          (c + rc, 1L + rp)
        }
      }.min
    val prop = Prop.forAll(genWord, genVocab) { (w, vm) =>
      val ml = (vm.keys.map(_.length) ++ Seq(1)).max
      TextAnalysis.viterbiWord(w, vm, ml, unkCost) == brute(w, vm)
    }
    check("viterbi-vs-brute", prop, minTests = 300)
  }

  // ---- graph ops vs driver-side sequential references ---------------

  /** Driver-side replay of pageRankPpb's integer recurrence. */
  private def pageRankRef(edges: List[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val odeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1000000000L).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => r(u) / odeg(u) }.sum).toMap
      r = nodes.map(v => v -> (150000000L + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  private val genDirEdges: Gen[List[(Long, Long)]] =
    Gen.listOfN(14, for {
      a <- Gen.choose(0L, 9L); b <- Gen.choose(0L, 9L) if a != b
    } yield (a, b)).map(_.distinct).suchThat(_.nonEmpty)

  test("pageRankPpb matches the sequential integer recurrence on random digraphs") {
    val prop = Prop.forAllNoShrink(genDirEdges) { es =>
      val got = graft.ops.Graph.pageRankPpb(es.toDF("src", "dst"), "src", "dst", 3)
        .as[(Long, Long)].collect().toMap
      got == pageRankRef(es, 3)
    }
    check("pagerank-vs-ref", prop, minTests = 5)
  }

  /** Driver-side replay of labelPropagate (clamped seeds, majority,
    * lexicographic tie-break).
    */
  private def lpaRef(edges: List[(Long, Long)], seeds: Map[Long, String],
      iters: Int): Map[Long, String] = {
    var assigned = seeds
    for (_ <- 1 to iters) {
      val votes = edges.flatMap { case (u, v) =>
        assigned.get(u).map(l => (v, l))
      }.groupBy(_._1).view.mapValues { vs =>
        vs.groupBy(_._2).view.mapValues(_.size).toList
          .sortBy { case (l, n) => (-n, l) }.head._1
      }.toMap
      // voters never unlabel, so every previously-labeled non-seed
      // keeps receiving votes: assigned_k = seeds ∪ winners exactly
      assigned = seeds ++ (votes -- seeds.keys)
    }
    assigned
  }

  test("kmv sketch: merge == whole and estimate == reference fold on random corpora") {
    // the KMV merge property (union sketches, re-take k smallest ==
    // sketch of the union) plus agreement with a sequential reference
    // implementation of the scrambled hash + estimator
    val genDocs: Gen[List[String]] = Gen.listOfN(60, for {
      a <- Gen.choose(0, 999); b <- Gen.oneOf("x", "y", "doc")
    } yield s"$b-$a")
    val p = graft.expressions.HashSpec.P
    def refHashes(ss: Seq[String]): Seq[Long] = ss.map { s =>
      val raw = graft.expressions.HashSpec.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      (raw * graft.ops.Sketches.kmvMixA + graft.ops.Sketches.kmvMixB) % p
    }.distinct.sorted
    val prop = Prop.forAllNoShrink(genDocs, genDocs) { (as, bs) =>
      val k = 16
      val skA = graft.ops.Sketches.kmvSketch(as.toDF("s"), col("s"), k)
      val skB = graft.ops.Sketches.kmvSketch(bs.toDF("s"), col("s"), k)
      val whole = graft.ops.Sketches.kmvSketch(
        (as ++ bs).toDF("s"), col("s"), k)
        .collect().map(_.getLong(1)).toSeq
      val merged = (skA.collect().map(_.getLong(1)) ++
        skB.collect().map(_.getLong(1))).distinct.sorted.take(k).toSeq
      val refWhole = refHashes(as ++ bs).take(k)
      val est = graft.ops.Sketches.kmvDistinct(
        graft.ops.Sketches.kmvSketch(as.toDF("s"), col("s"), k), k)
        .head.getLong(1)
      val refAll = refHashes(as)
      val refEst = if (refAll.length < k) refAll.length.toLong
                   else (k - 1).toLong * p / refAll(k - 1)
      whole == merged && whole == refWhole && est == refEst
    }
    check("kmv-merge-ref", prop, minTests = 5)
  }

  test("HeaderDecoder.parseHeader is total on arbitrary bytes (fuzz)") {
    // a byte parser facing crawled blobs must never throw and must keep
    // its offset inside the buffer — fuzz with raw noise AND with
    // corrupted real headers (valid magic, garbage after)
    val genRaw = Gen.choose(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte)).map(_.toArray))
    val magics = Seq(
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
      Array(0xff, 0xd8).map(_.toByte),
      "GIF89a".getBytes("US-ASCII"))
    val genCorrupt = for {
      m <- Gen.oneOf(magics)
      n <- Gen.choose(0, 48)
      tail <- Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))
    } yield m ++ tail.toArray
    val prop = Prop.forAll(Gen.oneOf(genRaw, genCorrupt)) { bytes =>
      val (fmt, w, h, off) =
        graft.ops.Multimodal.HeaderDecoder.parseHeader(bytes)
      Set("png", "jpeg", "gif", "unknown").contains(fmt) &&
        off >= 0 && off <= bytes.length &&
        (w >= -1) && (h >= -1)
    }
    check("header-decoder-total", prop, minTests = 300)
    // WAV chunk scan: total on arbitrary and RIFF-prefixed garbage —
    // lying chunk sizes must clamp, never throw or loop
    val genRiff = for {
      n <- Gen.choose(0, 64)
      tail <- Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))
    } yield "RIFF".getBytes("US-ASCII") ++ tail.toArray
    val wavProp = Prop.forAll(Gen.oneOf(genRaw, genRiff)) { bytes =>
      val (fmt, ch, rate, bits, off, len) =
        graft.ops.Multimodal.WavDecoder.parseWavHeader(bytes)
      Set("wav", "unknown").contains(fmt) &&
        off >= 0 && off <= bytes.length &&
        len >= 0 && off + len <= bytes.length &&
        ch >= -1 && rate >= -1 && bits >= -1
    }
    check("wav-decoder-total", wavProp, minTests = 300)
    // MP4 box scan: total on arbitrary bytes, ftyp-prefixed garbage,
    // and CORRUPTED real containers (random byte flips inside a valid
    // synthesized blob) — lying box sizes must clamp, never throw or
    // loop, and the payload window must stay inside the buffer
    val genFtyp = for {
      n <- Gen.choose(0, 64)
      tail <- Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))
    } yield Array[Byte](0, 0, 0, 16) ++ "ftyp".getBytes("US-ASCII") ++
      tail.toArray
    val genFlipped = for {
      id <- Gen.choose(0L, 50L)
      k <- Gen.choose(1, 6)
      flips <- Gen.listOfN(k, Gen.zip(Gen.choose(0, 300), Gen.choose(-128, 127)))
    } yield {
      val blob = graft.ops.Multimodal.synthesizeMp4Blob(id,
        "payload bytes".getBytes("UTF-8"))
      flips.foreach { case (p, v) =>
        if (p < blob.length) blob(p) = v.toByte }
      blob
    }
    val mp4Prop = Prop.forAll(Gen.oneOf(genRaw, genFtyp, genFlipped)) { bytes =>
      val f = graft.ops.Multimodal.Mp4Decoder.parseMp4Header(bytes)
      Set("mp4", "unknown").contains(f.format) &&
        f.n_bytes == bytes.length &&
        f.width >= -1 && f.height >= -1 &&
        f.movie_timescale >= -1L && f.duration_ms >= -1L &&
        f.fps_milli >= -1L && f.n_frames >= -1L
    }
    check("mp4-decoder-total", mp4Prop, minTests = 300)
  }

  test("labelPropagate matches the sequential LPA fold on random digraphs") {
    val genSeeds = Gen.nonEmptyMap(for {
      n <- Gen.choose(0L, 9L); l <- Gen.oneOf("A", "B", "C")
    } yield (n, l))
    val prop = Prop.forAllNoShrink(genDirEdges, genSeeds) { (es, sd) =>
      val got = graft.ops.Graph.labelPropagate(es.toDF("src", "dst"),
          "src", "dst", sd.toSeq.toDF("node", "label"), "node", "label", 2)
        .select($"node", $"label").as[(Long, String)].collect().toMap
      got == lpaRef(es, sd, 2)
    }
    check("lpa-vs-ref", prop, minTests = 5)
  }

  test("feature transforms match brute-force references on random frames") {
    // ids fixed 0..n-1 (distinct by construction), values in cents;
    // the brute references replay foldCol's top-bits multiply-shift
    // and every positive-mod floor division in plain Long arithmetic
    def fold(i: Long): Long =
      Math.floorMod(i * 2654435761L, 4294967296L) * 4L / 4294967296L
    val genVals: Gen[List[Long]] =
      Gen.choose(5, 14).flatMap(n =>
        Gen.listOfN(n, Gen.choose(-50000L, 50000L)))
    def df(cents: List[Long]) = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c / 100.0) }.toDF("id", "v")

    val stdProp = Prop.forAllNoShrink(genVals) { cents =>
      val train = cents.zipWithIndex.filter(t => fold(t._2.toLong) != 0L)
        .map(_._1)
      val n = train.size.toLong
      val got = graft.ops.Features.standardScale(df(cents), "id", "v")
        .orderBy("id").collect()
        .map(r => (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      if (n == 0) true // degenerate: no train rows (not reachable for n>=5 ids)
      else {
        val s1 = train.sum
        val m = Math.floorDiv(s1, n)
        val s2 = train.map(c => c * c).sum
        val varC = (s2 - 2 * m * s1 + n * m * m) / n // non-negative
        val std = math.sqrt(varC.toDouble).toLong
        got.zipWithIndex.forall { case ((dev, z), i) =>
          dev == cents(i) - m &&
            (if (std == 0) z.isEmpty
             else z.contains(Math.floorDiv(dev * 10000L, std)))
        }
      }
    }
    check("standardScale-vs-ref", stdProp, minTests = 5)

    val cdfProp = Prop.forAllNoShrink(genVals) { cents =>
      val train = cents.zipWithIndex.filter(t => fold(t._2.toLong) != 0L)
        .map(_._1)
      val n = train.size.toLong
      val got = graft.ops.Features.cdfTransform(df(cents), "id", "v")
        .orderBy("id").collect().map(_.getLong(2))
      got.zipWithIndex.forall { case (bp, i) =>
        bp == Math.floorDiv(train.count(_ <= cents(i)) * 10000L, n)
      }
    }
    check("cdfTransform-vs-ref", cdfProp, minTests = 5)

    val robustProp = Prop.forAllNoShrink(genVals) { cents =>
      // single group "g": lower median and MAD as type-1 ranks
      val sorted = cents.sorted
      val med = sorted((cents.size - 1) / 2)
      val mad = cents.map(c => math.abs(c - med)).sorted
        .apply((cents.size - 1) / 2)
      val rows = cents.zipWithIndex
        .map { case (c, i) => ("g", i.toLong, c / 100.0) }
        .toDF("grp0", "id", "v")
      val got = graft.ops.FrameOps.robustZscoreBy(rows, "grp0", "id", "v")
        .orderBy("id").collect()
        .map(r => (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      got.zipWithIndex.forall { case ((dev, z), i) =>
        dev == cents(i) - med &&
          (if (mad == 0) z.isEmpty
           else z.contains(Math.floorDiv(dev * 10000L, mad)))
      }
    }
    check("robustZscoreBy-vs-ref", robustProp, minTests = 5)
  }

  test("cooccurrencePmi pair counts match the brute-force window recount") {
    // random corpora over a 4-token alphabet; the map-side
    // flatten/transform pair generation must equal the O(n^2)
    // per-document window enumeration for every (window, corpus)
    val genDocs: Gen[List[(Long, String)]] = Gen.listOfN(4,
      Gen.choose(0, 10).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))))
      .map(_.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) })
    def brute(docs: List[(Long, String)], w: Int): Map[(String, String), Long] =
      docs.flatMap { case (_, text) =>
        val ts = text.split(" ").filter(_.nonEmpty)
        for {
          i <- ts.indices
          j <- (i + 1) until math.min(i + w + 1, ts.length)
          if ts(i) != ts(j)
        } yield (if (ts(i) < ts(j)) (ts(i), ts(j)) else (ts(j), ts(i)))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val prop = Prop.forAllNoShrink(genDocs, Gen.choose(1, 4)) { (docs, w) =>
      val got = graft.ops.Corpus.cooccurrencePmi(
          docs.toDF("doc_id", "text"), "text", window = w,
          minCount = 1L, minPair = 1L)
        .select($"term_a", $"term_b", $"c_ab")
        .as[(String, String, Long)].collect()
        .map(t => (t._1, t._2) -> t._3).toMap
      got == brute(docs, w)
    }
    check("coocc-vs-ref", prop, minTests = 5)
  }

  /** Full-pivot brute-force betweenness of a tree: BFS parent pointers
    * from every source, walked back from every target. Every shortest
    * path in a tree is UNIQUE (sigma = 1 everywhere), so the micro
    * floors are exact and bc_micro(v) must equal 1e6 x the count of
    * ordered (source, target) pairs whose path passes through v. */
  private def bruteTreeBc(es: List[(Long, Long)]): Map[Long, Long] = {
    val n = es.map(e => math.max(e._1, e._2)).max.toInt + 1
    val adj = Array.fill(n)(List.empty[Int])
    es.foreach { case (a, b) =>
      adj(a.toInt) ::= b.toInt; adj(b.toInt) ::= a.toInt }
    def pathFrom(s: Int, t: Int): List[Int] = {
      val par = Array.fill(n)(-1); par(s) = s
      var frontier = List(s)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(u => adj(u).filter(par(_) == -1)
          .map { v => par(v) = u; v })
      }
      var cur = t; var acc = List(t)
      while (cur != s) { cur = par(cur); acc ::= cur }
      acc
    }
    val want = Array.fill(n)(0L)
    for (s <- 0 until n; tt <- 0 until n if s != tt)
      pathFrom(s, tt).drop(1).dropRight(1).foreach(want(_) += 1L)
    (0 until n).map(v => v.toLong -> want(v) * 1000000L).toMap
  }

  test("knuthMix on the driver equals knuthMixExpr evaluated by Spark") {
    // random longs plus the edges of the 2^32 reduction and the BIGINT
    // range, all checked in one Spark job (an RDD source, so the
    // expression runs in tasks as in the shuffled path, not folded
    // into a local relation on the driver)
    val rnd = new scala.util.Random(291)
    val ids = Seq(0L, 1L, -1L, 1L << 32, -(1L << 32), Long.MinValue,
      Long.MaxValue) ++ Seq.fill(500)(rnd.nextLong())
    val got = spark.sparkContext.parallelize(ids, 2).toDF("id")
      .select(col("id"), expr(graft.ops.Graph.knuthMixExpr("id")))
      .as[(Long, Long)].collect()
    assert(got.length == ids.length)
    got.foreach { case (id, h) =>
      assert(graft.ops.Graph.knuthMix(id) == h, s"id $id")
    }
  }

  test("betweennessSampled: broadcast-adjacency path equals the shuffled path; trees match brute force") {
    // one property over two input families, each case run twice: on
    // the session default (these graphs fit the broadcast guard, so
    // the pivot-parallel path) and with the threshold disabled (-1,
    // the shuffled level loop) — the two must agree row for row.
    //  - random labeled trees, all pivots, depth 9: also checked
    //    against the brute-force path count
    //  - random general graphs: a planted diamond (sigma > 1) plus
    //    random edges (cycles, duplicates, self-loops), shifted ids so
    //    the hash-picked pivots move, directed or not, k < n or k = n,
    //    maxDepth 2-4
    final case class BcCase(es: List[(Long, Long)], k: Int, maxDepth: Int,
        directed: Boolean, tree: Boolean)
    val genTree = for {
      n <- Gen.choose(4, 9)
      parents <- Gen.sequence[List[Int], Int](
        (1 until n).map(i => Gen.choose(0, i - 1)))
    } yield BcCase(parents.zipWithIndex.map { case (p, i) =>
      (p.toLong, (i + 1).toLong) }, n, 9, directed = false, tree = true)
    val genGraph = for {
      n <- Gen.choose(4, 9)
      m <- Gen.choose(n / 2, 2 * n)
      extra <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
      off <- Gen.choose(0L, 1000L)
      directed <- Gen.oneOf(true, false)
      k <- Gen.oneOf(Gen.choose(1, n - 1), Gen.const(n))
      depth <- Gen.choose(2, 4)
    } yield BcCase(
      (List((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)) ++ extra)
        .map { case (a, b) => (a + off, b + off) },
      k, depth, directed, tree = false)
    def run(c: BcCase): Map[Long, (Long, Long)] =
      graft.ops.Graph.betweennessSampled(c.es.toDF("src", "dst"), "src",
          "dst", k = c.k, maxDepth = c.maxDepth, directed = c.directed)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    // no shrinking: every shrink step is more Spark jobs, and the
    // unshrunk case is already tiny
    val prop = Prop.forAllNoShrink(Gen.oneOf(genTree, genGraph)) { c =>
      val byPivot = run(c)
      val shuffled = withThreshold("-1")(run(c))
      byPivot == shuffled &&
        (!c.tree || byPivot.map { case (v, (bc, _)) => v -> bc } ==
          bruteTreeBc(c.es))
    }
    check("betweenness-paths-and-bruteforce-trees", prop, minTests = 12)
  }

  // ---- suffix-rank spans vs brute-force substring census -------------

  test("suffixRankSpans matches brute force on random tiny-alphabet corpora") {
    // 2-letter alphabet + spaces maximizes the adversarial cases:
    // runs like "aaaa" (overlapping within-doc duplicate windows),
    // shared prefixes across docs, spans flush against doc boundaries.
    // normText collapses whitespace, so the generator avoids doubles.
    val genDoc: Gen[String] = Gen.listOfN(14,
      Gen.frequency(5 -> Gen.const('a'), 4 -> Gen.const('b'),
        2 -> Gen.const(' '))).map(_.mkString
      .replaceAll(" +", " ").trim)
    val genCorpus: Gen[List[String]] =
      Gen.listOfN(4, genDoc).map(_.filter(_.length >= 2))
    val prop = Prop.forAllNoShrink(genCorpus, Gen.choose(2, 5)) { (docs, l) =>
      docs.isEmpty || {
        val df = docs.zipWithIndex
          .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
        val got = graft.ops.Corpus
          .suffixRankSpans(df, "doc_id", "text", minLen = l)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        got == bruteSpans(docs, l)
      }
    }
    check("suffix-spans-vs-bruteforce", prop, minTests = 12)
  }

  /** Brute force spans: global census of l-char windows over the
    * normalized texts, islands of duplicated positions merged per doc
    * into (doc, span_start, span_end). */
  private def bruteSpans(docs: List[String], l: Int)
      : Set[(Long, Long, Long)] = {
    val norm = docs.map(_.toLowerCase.trim.replaceAll("\\s+", " "))
    val wins = norm.zipWithIndex.flatMap { case (s, d) =>
      (1 to s.length - l + 1).map(i =>
        (d.toLong, i, s.substring(i - 1, i - 1 + l))) }
    val dupW = wins.groupBy(_._3).filter(_._2.size >= 2).keySet
    norm.zipWithIndex.flatMap { case (s, d) =>
      val ps = (1 to math.max(s.length - l + 1, 0))
        .filter(i => dupW.contains(s.substring(i - 1, i - 1 + l)))
      ps.foldLeft(List.empty[List[Int]]) {
        case (acc, p) if acc.nonEmpty && acc.head.head == p - 1 =>
          (p :: acc.head) :: acc.tail
        case (acc, p) => List(p) :: acc
      }.map(r => (d.toLong, r.last.toLong, (r.head + l - 1).toLong))
    }.toSet
  }

  /** Brute force attribution edges: each non-first member of a
    * duplicated l-char window class adds one window to the
    * (src = min-(id, p) doc, dst = member doc) edge. */
  private def bruteEdges(docs: List[String], l: Int)
      : Map[(Long, Long), Long] =
    bruteWindowCensus(docs, l).values
      .filter(_.size >= 2)
      .flatMap { occ =>
        val src = occ.min._1
        occ.filterNot(_ == occ.min).map(m => (src, m._1))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap

  // ---- suffix kernel across packed-code widths and doubling rounds ----
  // The kernel packs the first k₀ chars of each window into longs at
  // ⌈log₂(D + 1)⌉ bits per char and prefix-doubles only past k₀. The
  // tiny-alphabet cases above never double; these corpora span the
  // width boundaries (D = 3/4 and 31/32 straddle 2→3 and 5→6 bits, 300
  // needs 9) and pick minLen for 0, 1 and 2 doubling rounds. Letters
  // are CJK ideographs: BMP, non-ASCII and unchanged by normText.

  /** Docs concatenated from a small pool of shared segments plus fresh
    * ones, so windows of length ~l repeat across and within docs; the
    * whole alphabet rides once (pinning D) and one doc stops one char
    * short of a window. */
  private def genPlantedCorpus(alpha: IndexedSeq[Char], l: Int)
      : Gen[List[String]] = {
    val seg = Gen.choose(math.max(1, l / 2), l + l / 4)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(alpha)).map(_.mkString))
    for {
      pool <- Gen.listOfN(3, seg)
      docs <- Gen.listOfN(4, Gen.choose(1, 4).flatMap(k =>
        Gen.listOfN(k, Gen.frequency(3 -> Gen.oneOf(pool), 1 -> seg))
          .map(_.mkString)))
    } yield alpha.mkString :: docs.head.take(l - 1) :: docs
  }

  test("suffix kernel matches brute force across code widths and doubling rounds") {
    for (d <- Seq(3, 4, 31, 32, 300); rounds <- 0 to 2) {
      val alpha = (0 until d).map(i => (0x4E00 + i).toChar)
      val w = graft.ops.Corpus.suffixKeyShape(d, 4096)._3
      val genL = rounds match {
        case 0 => Gen.choose(2, w)
        case 1 => Gen.choose(w + 1, 2 * w)
        case _ => Gen.choose(2 * w + 1, 4 * w)
      }
      val gen = genL.flatMap(l => genPlantedCorpus(alpha, l).map(l -> _))
      // no shrinking: every shrink step is another Spark job, and the
      // label plus the unshrunk corpus already localise a failure
      val prop = Prop.forAllNoShrink(gen) { case (l, docs) =>
        val df = docs.zipWithIndex
          .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
          .repartition(3)
        // both consumers read one memoized kernel build: spans pin the
        // duplicated positions, edges pin the class partition itself;
        // the build leaves no pinned RDD but the memo's own
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val spans = graft.ops.Corpus
          .suffixRankSpans(df, "doc_id", "text", minLen = l)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        val edges = graft.ops.Corpus
          .dupAttribution(df, "doc_id", "text", minLen = l, topK = 100000)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val leaked = spark.sparkContext.getPersistentRDDs.keySet --
          before -- graft.ops.SuffixRankMemo.pinnedRddIds
        spans == bruteSpans(docs, l) && edges == bruteEdges(docs, l) &&
          leaked.isEmpty
      }
      check(s"suffix-kernel-d$d-rounds$rounds", prop, minTests = 2)
    }
  }

  test("suffix kernel on an empty frame and on docs with no full window") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.Corpus
      .suffixRankSpans(empty, "doc_id", "text", minLen = 30).count() == 0)
    val short = Seq((1L, "abcabc"), (2L, "abcabc"), (3L, null: String))
      .toDF("doc_id", "text")
    assert(graft.ops.Corpus
      .suffixRankSpans(short, "doc_id", "text", minLen = 7).count() == 0)
    assert(graft.ops.Corpus
      .suffixRankSpans(short, "doc_id", "text", minLen = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet == Set((1L, 1L, 6L), (2L, 1L, 6L)))
  }

  // ---- suffix-rank rewrite + attribution vs brute force (r16 verdict
  // item 4: their tie/ordering rules — globally-first = min (id, p),
  // edge aggregation, cover excision — only had example coverage) -----

  private val genSuffixCorpus: Gen[List[String]] = {
    val genDoc: Gen[String] = Gen.listOfN(14,
      Gen.frequency(5 -> Gen.const('a'), 4 -> Gen.const('b'),
        2 -> Gen.const(' '))).map(_.mkString
      .replaceAll(" +", " ").trim)
    Gen.listOfN(4, genDoc).map(_.filter(_.length >= 2))
  }

  /** Brute global census of l-char windows over the normalized texts:
    * window class -> occurrences as (id, p), 1-based positions. */
  private def bruteWindowCensus(docs: List[String], l: Int)
      : Map[String, List[(Long, Long)]] = {
    val norm = docs.map(_.toLowerCase.trim.replaceAll("\\s+", " "))
    norm.zipWithIndex.flatMap { case (s, d) =>
      (1 to s.length - l + 1).map(i =>
        s.substring(i - 1, i - 1 + l) -> (d.toLong, i.toLong))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  test("suffixRankRewrite matches brute force on random corpora across partition counts") {
    val prop = Prop.forAllNoShrink(genSuffixCorpus, Gen.choose(2, 5),
        Gen.oneOf(1, 3, 7)) { (docs, l, np) =>
      docs.isEmpty || {
        val df = docs.zipWithIndex
          .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
          .repartition(np)
        val got = graft.ops.Corpus
          .suffixRankRewrite(df, "doc_id", "text", minLen = l)
          .orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3))).toList
        // brute: every dup-class member except the min-(id,p) first
        // occurrence marks its l chars covered; survivors rebuild
        val norm = docs.map(_.toLowerCase.trim.replaceAll("\\s+", " "))
        val marked = bruteWindowCensus(docs, l).values
          .filter(_.size >= 2)
          .flatMap(occ => occ.filterNot(_ == occ.min)).toSet
        val covered: Set[(Long, Long)] = marked.flatMap { case (d, p) =>
          (p until p + l).map(d -> _) }
        val want = norm.zipWithIndex.map { case (s, d) =>
          val kept = (1 to s.length)
            .filterNot(i => covered((d.toLong, i.toLong)))
            .map(i => s.charAt(i - 1)).mkString
          (d.toLong, s.length.toLong, (s.length - kept.length).toLong,
            kept)
        }
        got == want
      }
    }
    check("suffix-rewrite-vs-bruteforce", prop, minTests = 8)
  }

  test("dupAttribution matches brute force on random corpora across partition counts") {
    val prop = Prop.forAllNoShrink(genSuffixCorpus, Gen.choose(2, 5),
        Gen.oneOf(1, 3, 7)) { (docs, l, np) =>
      docs.isEmpty || {
        val df = docs.zipWithIndex
          .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
          .repartition(np)
        // topK far above any possible edge count -> the FULL edge set,
        // so the comparison also pins the aggregation, not the cut
        val got = graft.ops.Corpus
          .dupAttribution(df, "doc_id", "text", minLen = l, topK = 1000)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        // self-edges (within-doc repeats) included
        got == bruteEdges(docs, l)
      }
    }
    check("dup-attribution-vs-bruteforce", prop, minTests = 8)
  }

  // ---- best-fit packing vs the sequential BFD fold -----------------

  // doc 0 is forced over-budget so splitting always occurs
  private val genPackDocs: Gen[List[(Long, Int)]] =
    Gen.listOfN(24, Gen.choose(0, 23)).map(ns =>
      (0L, 25) :: ns.zipWithIndex.map { case (n, i) => ((i + 1).toLong, n) })

  test("packBestFit matches the sequential BFD reference on random corpora") {
    val prop = Prop.forAllNoShrink(genPackDocs, Gen.oneOf(1, 3, 7),
        Gen.oneOf(8, 10)) { (docs, nPart, budget) =>
      val shards = 3
      val df = docs.map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
        .toDF("doc_id", "text").repartition(nPart)
      val got = graft.ops.Corpus.packBestFit(df, "doc_id", "text", budget, shards)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val pieces = docs.filter(_._2 > 0).flatMap { case (id, n) =>
        val shard = id * 2654435761L % 4294967296L % shards
        (0 until (n + budget - 1) / budget).map(p =>
          (shard, id, p.toLong, math.min(budget.toLong, n - p.toLong * budget)))
      }
      val want = pieces.groupBy(_._1).toSeq.flatMap { case (shard, ps0) =>
        val rem = scala.collection.mutable.ArrayBuffer.empty[Long]
        ps0.sortBy(p => (-p._4, p._2, p._3)).map { case (_, d, p, l) =>
          val feas = rem.zipWithIndex.filter(_._1 >= l)
          val bin = if (feas.isEmpty) { rem += (budget - l); rem.length.toLong }
          else {
            val i = rem.indexOf(feas.map(_._1).min)
            rem(i) -= l; (i + 1).toLong
          }
          (d, p) -> ((l, shard, bin))
        }
      }.toMap
      got == want
    }
    check("packBestFit-vs-bruteforce", prop, minTests = 12)
  }

  // ---- stupid backoff vs brute force -------------------------------

  // doc 0 (even: lands in train) is forced to >= 3 tokens so n_train
  // is never zero; other docs range 0..6 tokens over a 4-word alphabet
  // so seen/backoff/OOV branches all occur across samples
  private val genSbDocs: Gen[List[(Long, String)]] =
    Gen.listOfN(7, Gen.choose(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd")))).map(ds =>
      (0L, "aa bb cc aa bb") :: ds.zipWithIndex.map {
        case (ws, i) => ((i + 1).toLong, ws.mkString(" ")) })

  test("stupidBackoffScore matches brute force on random tiny corpora") {
    val prop = Prop.forAllNoShrink(genSbDocs, Gen.oneOf(1, 5)) { (docs, nPart) =>
      val df = docs.toDF("doc_id", "text").repartition(nPart)
      val train = df.filter(col("doc_id") % 2 === 0)
      val got = graft.ops.Corpus.stupidBackoffScore(df, train, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      def toks(s: String) = s.split(" ").filter(_.nonEmpty).toSeq
      def grams(ts: Seq[String], n: Int) =
        if (ts.size < n) Seq.empty else ts.sliding(n).map(_.toList).toSeq
      val tr = docs.filter(_._1 % 2 == 0).map(t => toks(t._2))
      val c3 = tr.flatMap(grams(_, 3)).groupBy(identity).view.mapValues(_.size).toMap
      val c2 = tr.flatMap(grams(_, 2)).groupBy(identity).view.mapValues(_.size).toMap
      val c1 = tr.flatten.groupBy(identity).view.mapValues(_.size).toMap
      val nTrain = tr.map(_.size).sum
      val want = docs.flatMap { case (id, s) =>
        val tris = grams(toks(s), 3)
        if (tris.isEmpty) None
        else Some((id, tris.size.toLong, tris.map { case List(w1, w2, w3) =>
          val v =
            if (c3.contains(List(w1, w2, w3)))
              math.log(c3(List(w1, w2, w3)).toDouble / c2(List(w1, w2)))
            else if (c2.contains(List(w2, w3)))
              math.log(0.4 * (c2(List(w2, w3)).toDouble / c1(w2)))
            else math.log(0.4 * 0.4 *
              (c1.get(w3).map(_.toDouble).getOrElse(0.5) / nTrain))
          math.floor(1e9 * v).toLong
        }.sum))
      }.sortBy(_._1)
      got == want
    }
    check("stupidBackoff-vs-bruteforce", prop, minTests = 12)
  }
}
