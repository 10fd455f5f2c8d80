package graft

import graft.functions.{Dedup, TextOps}
import graft.operators.{Drift, QualityChecker, StatsGenerator, Transformers}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic properties (SURVEY.md §5 test plan): invariants that must
  * hold for ANY input, checked over scalacheck-generated data (sampled
  * manually — the scalatest/scalacheck bridge isn't on the offline
  * classpath).
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val doublesGen: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.choose(-1000.0, 1000.0)).map(_.take(200))

  test("binning partitions the domain: every value lands in exactly one bin 1..k") {
    for ((xs, k) <- samples(doublesGen, 4).zip(Seq(2, 3, 5, 8))) {
      val df = xs.toDF("x")
      val binned = Transformers.attributeBinning(df, Seq("x"), "equal_range", k)
      val bins = binned.select("x_binned").collect().map(_.getInt(0))
      assert(bins.length == xs.length)
      assert(bins.forall(b => b >= 1 && b <= k), s"bins out of range for k=$k")
    }
  }

  test("minhash index build is partition-invariant (random corpora, random layouts)") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docGen = Gen.chooseNum(5, 25).flatMap(n => Gen.listOfN(n, wordGen))
      .map(_.mkString(" "))
    for (round <- 0 until 3) {
      val texts = samples(docGen, 12).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = texts.toDF("doc_id", "text")
      def canon(d: org.apache.spark.sql.DataFrame) = d
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2), r.getSeq[Long](3)))
        .sortBy(t => (t._1, t._3)).toSeq
      val a = canon(Dedup.minhashIndexMd5(df.repartition(1), "text", "doc_id"))
      val b = canon(Dedup.minhashIndexMd5(df.repartition(7 + round), "text", "doc_id"))
      assert(a == b, s"index differs across partition layouts (round $round)")
    }
  }

  test("index probe estimates are in [0,1] and exact copies score 1.0") {
    val wordGen = Gen.oneOf("one", "two", "three", "four", "five", "six")
    val docGen = Gen.chooseNum(6, 20).flatMap(n => Gen.listOfN(n, wordGen))
      .map(_.mkString(" "))
    val texts = samples(docGen, 10).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val corpus = texts.toDF("doc_id", "text")
    val index = Dedup.minhashIndexMd5(corpus, "text", "doc_id",
      maxBucketSize = 1000000)
    // probe the corpus against itself with shifted keys: every doc is an
    // exact copy of its original -> est exactly 1.0 for the self match
    val probe = corpus.withColumn("doc_id", col("doc_id") + 100)
    val res = Dedup.dedupAgainstIndexMd5(probe, index, "text", "doc_id",
      threshold = 0.0).collect()
    res.foreach { r =>
      if (!r.isNullAt(3)) {
        val est = r.getDouble(3)
        assert(est >= 0.0 && est <= 1.0)
      }
    }
    // every probed doc with shingles must find its exact twin at est 1.0
    val flagged = res.filter(!_.isNullAt(2))
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    texts.filter(_._2.split(" ").length >= 3).foreach { case (id, _) =>
      assert(flagged.get(id + 100).contains(1.0), s"doc $id missed its exact twin")
    }
  }

  test("imputation leaves non-null rows unchanged") {
    for (xs <- samples(doublesGen, 3) if xs.size >= 3) {
      val df = xs.zipWithIndex.map { case (x, i) =>
        (i, if (i % 3 == 0) None else Some(x))
      }.toDF("id", "x")
      val out = Transformers.imputationMMM(df, Seq("x"), Nil)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      xs.zipWithIndex.foreach { case (x, i) =>
        if (i % 3 != 0) assert(out(i) == x)
        else assert(!out(i).isNaN)
      }
    }
  }

  test("PSI(p, p) = 0 for any distribution") {
    for (xs <- samples(doublesGen, 3) if xs.distinct.size >= 3) {
      val df = xs.toDF("x")
      val r = Drift.driftStatistics(df, df, Seq("x"), binCount = 5).collect()(0)
      assert(r.getDouble(r.fieldIndex("PSI")) == 0.0)
      assert(r.getDouble(r.fieldIndex("KS")) == 0.0)
    }
  }

  test("exact dedup is idempotent") {
    val textGen = Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "Alpha ", " beta", "gamma"))
      .map(_.take(30))
    for (texts <- samples(textGen, 4)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = Dedup.exactDedup(df, "text", "doc_id")
      val twice = Dedup.exactDedup(once, "text", "doc_id")
      assert(once.count() == twice.count())
      val fps = once.select(TextOps.fingerprint(col("text"))).collect().map(_.getString(0))
      assert(fps.distinct.length == fps.length)
    }
  }

  test("outlier clamp treatment is idempotent and bounded") {
    for (xs <- samples(doublesGen, 3) if xs.distinct.size >= 10) {
      val df = xs.toDF("x")
      val bounds = QualityChecker.outlierBounds(df, Seq("x"))
      val once = QualityChecker.outlierTreatment(df, bounds, "value")
      val twice = QualityChecker.outlierTreatment(once, bounds, "value")
      val a = once.select("x").collect().map(_.getDouble(0)).sorted.toSeq
      val b = twice.select("x").collect().map(_.getDouble(0)).sorted.toSeq
      assert(a == b)
      assert(a.forall(v => v >= bounds.head.lower && v <= bounds.head.upper))
    }
  }

  test("missing + fill counts always sum to row count") {
    for (xs <- samples(doublesGen, 3)) {
      val df = xs.zipWithIndex.map { case (x, i) =>
        if (i % 4 == 0) (None: Option[Double]) else Some(x)
      }.toDF("x")
      val r = StatsGenerator.measuresOfCounts(df, Seq("x")).collect()(0)
      assert(r.getLong(r.fieldIndex("fill_count")) + r.getLong(r.fieldIndex("missing_count"))
        == xs.length)
    }
  }

  test("withRowId always emits the permutation 0..n-1 ordered by the sort key") {
    for (xs <- samples(doublesGen, 3)) {
      val df = xs.distinct.toDF("x").repartition(4)
      val ids = graft.sources.Ingest.withRowId(df, Seq("x"))
        .collect().map(r => r.getDouble(0) -> r.getLong(1))
      assert(ids.map(_._2).sorted.toSeq == ids.indices.map(_.toLong))
      assert(ids.sortBy(_._1).map(_._2).toSeq == ids.indices.map(_.toLong),
        "ids must follow the sort order")
    }
  }

  test("driver union-find equals distributed label propagation on random graphs") {
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)).suchThat(p => p._1 != p._2))
    for (edges <- samples(edgeGen, 3) if edges.nonEmpty) {
      val pairs = edges.toDF("key_1", "key_2")
      // maxLocalEdges = 0 forces the distributed path; default takes union-find
      val local = Dedup.duplicateClusters(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Dedup.duplicateClusters(pairs, maxLocalEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, "union-find and label propagation disagree")
    }
  }

  test("country flag expression agrees with the broadcast box join") {
    val latLonGen = Gen.zip(Gen.choose(-90.0, 90.0), Gen.choose(-180.0, 180.0))
    val pts = samples(Gen.listOfN(40, latLonGen), 1).head
    val df = pts.zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }
      .toDF("id", "lat", "lon")
    for (code <- Seq("US", "BR", "AU", "RU", "SG")) {
      val viaFlag = df
        .filter(graft.functions.Geo.locationInCountry(col("lat"), col("lon"), code) === 1)
        .select("id").collect().map(_.getLong(0)).toSet
      val viaJoin = graft.functions.Geo.locationCountries(df, "lat", "lon")
        .filter(col("country_code") === code)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(viaFlag == viaJoin, s"flag/join disagree for $code")
    }
  }

  test("shard packing: every shard except the last reaches the budget") {
    val weightsGen = Gen.nonEmptyListOf(Gen.choose(1L, 50L)).map(_.take(300))
    for ((ws, budget) <- samples(weightsGen, 4).zip(Seq(60L, 100L, 137L, 250L))) {
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
      val packed = graft.functions.Sharding.packByBudget(df, "w", Seq("id"), budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // shard ids are non-decreasing in the order key
      val byId = packed.sortBy(_._1)
      assert(byId.sliding(2).forall { case Array(a, b) => a._3 <= b._3; case _ => true })
      // a shard closes only at/after the budget: every shard except the
      // highest must have cumulative weight >= budget
      val sums = byId.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
      val last = sums.keys.max
      sums.foreach { case (s, total) =>
        if (s != last) assert(total >= budget - 49,
          s"shard $s closed at $total under budget $budget")
      }
    }
  }

  test("deterministic sample: fraction accuracy and threshold monotonicity") {
    val fr = Seq(0.1, 0.25, 0.5, 0.9)
    // hex thresholds are monotone in the fraction
    assert(fr.map(graft.sources.Sampling.hashThresholdHex).sliding(2)
      .forall { case Seq(a, b) => a <= b; case _ => true })
    val d = (1 to 4000).map(i => (i, i % 13)).toDF("id", "g")
    var prev = Set.empty[Int]
    for (f <- fr) {
      val kept = graft.sources.Sampling.deterministicSample(d, f, Seq("id"))
        .select("id").collect().map(_.getInt(0)).toSet
      val expect = 4000 * f
      assert(math.abs(kept.size - expect) < 4 * math.sqrt(expect),
        s"fraction $f kept ${kept.size}, expected ~$expect")
      assert(prev.subsetOf(kept), "samples must nest as the fraction grows")
      prev = kept
    }
  }

  test("fuzzy pairs equal brute-force distance-1 truth on random short strings") {
    val strGen: Gen[String] =
      Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i.max(j))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    for (round <- 0 until 3; maxDist <- Seq(1, 2)) {
      val strs = samples(strGen, 40).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val got = Dedup.editDistancePairs(strs.toDF("id", "s"), "s", "id", maxDist = maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = (for {
        (k1, s1) <- strs; (k2, s2) <- strs if k1 < k2
        d = lev(s1, s2) if d <= maxDist
      } yield (k1, k2, d)).toSet
      assert(got == want, s"round $round d=$maxDist: got ${got.size}, want ${want.size}")
    }
  }

  test("mixture sampling: per-source token coverage lands in [target, target + max doc)") {
    val tokGen: Gen[List[Int]] = Gen.nonEmptyListOf(Gen.choose(1, 50)).map(_.take(120))
    for ((toks, budget) <- samples(tokGen, 3).zip(Seq(100L, 500L, 2000L))) {
      val d = toks.zipWithIndex.map { case (t, i) => (i.toLong, s"s${i % 2}", t) }
        .toDF("id", "src", "tok")
      val targets = graft.sources.Sampling.mixtureTargets(
        Map("s0" -> 1.0, "s1" -> 3.0), budget)
      val kept = graft.sources.Sampling
        .mixtureSample(d, "src", col("tok"), Seq("id"), targets)
        .groupBy("src").agg(sum("tok").as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val totals = toks.zipWithIndex.groupBy { case (_, i) => s"s${i % 2}" }
        .view.mapValues(_.map(_._1.toLong).sum).toMap
      for ((s, tgt) <- targets if tgt > 0 && totals.getOrElse(s, 0L) > 0) {
        val t = kept.getOrElse(s, 0L)
        val covered = math.min(tgt, totals(s))
        assert(t >= covered, s"$s kept $t < covered target $covered (budget $budget)")
        assert(t - 50 < tgt || t == totals(s), s"$s overshot: kept $t, target $tgt")
      }
    }
  }

  test("pagerank: mass conserves on symmetric graphs, hubs outrank leaves") {
    // star: hub 0 connected to leaves 1..8 (symmetric)
    val edges = (1L to 8L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val r = graft.functions.Graph.pageRank(edges, iterations = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val hub = r(0L)
    (1L to 8L).foreach(l => assert(hub > 2 * r(l), s"hub $hub vs leaf ${r(l)}"))
    // symmetric graph, no dangling mass → ranks sum to 1
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"mass ${r.values.sum}")
    // leaves are symmetric → identical ranks
    assert((1L to 8L).map(r).distinct.size == 1)
  }

  test("hits: directed star separates hubs from authorities exactly") {
    // all spokes point AT the center: center is the unique authority,
    // spokes are the (symmetric, therefore equal) hubs
    val edges = (1L to 6L).map(s => (s, 0L)).toDF("src", "dst")
    val r = graft.functions.Graph.hits(edges, iterations = 3)
      .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2)))
    val byNode = r.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byNode(0L) == ((1.0, 0.0)), s"center ${byNode(0L)}") // max-normalized authority, no out-edges
    (1L to 6L).foreach { s =>
      assert(byNode(s) == ((0.0, 1.0)), s"spoke $s ${byNode(s)}")
    }
    // add a second, smaller authority: spokes 1..6 -> 0 plus 1..3 -> 7;
    // hubs covering both authorities must outrank single-authority hubs,
    // and the smaller authority stays strictly between 0 and the max
    val edges2 = ((1L to 6L).map(s => (s, 0L)) ++ (1L to 3L).map(s => (s, 7L)))
      .toDF("src", "dst")
    val r2 = graft.functions.Graph.hits(edges2, iterations = 5)
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    assert(r2(0L)._1 == 1.0, "big authority is the max")
    assert(r2(7L)._1 > 0.0 && r2(7L)._1 < 1.0, s"small authority ${r2(7L)._1}")
    // hubs pointing at BOTH authorities outrank hubs seeing one
    assert(r2(1L)._2 == 1.0 && r2(4L)._2 < 1.0,
      s"two-authority hub ${r2(1L)._2} vs one-authority hub ${r2(4L)._2}")
  }

  test("hits: uniform edge-multiplicity scaling cancels in normalization") {
    // duplicating the whole edge multiset doubles every raw sum AND the
    // step max — powers of two divide exactly, so normalized scores are
    // bit-identical (the weighted-multigraph contract)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 3L), (3L, 5L))
      .toDF("src", "dst")
    val doubled = edges.unionAll(edges)
    def scores(e: org.apache.spark.sql.DataFrame) =
      graft.functions.Graph.hits(e, iterations = 4)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
        .toMap
    assert(scores(edges) == scores(doubled))
  }

  test("k-core peeling keeps the clique, sheds the tail") {
    // 4-clique (1..4, degree 3 each) with a chain tail 4-5-6-7: at k=3
    // the tail peels (7 first, then 6, then 5 — within 5 rounds) and the
    // clique survives with exact in-core degree 3
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val tail = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (clique ++ tail).toDF("src", "dst")
    val core = graft.functions.Graph.kCore(edges, k = 3, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $core")
    // k=1 keeps everything (every node has an edge); degrees exact
    val all = graft.functions.Graph.kCore(edges, k = 1, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L,
      5L -> 2L, 6L -> 2L, 7L -> 1L), s"got $all")
  }

  test("graph sweep checkpoints round r when r % every == 0 and after the last round") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    def isCheckpoint(df: DataFrame) = df.queryExecution.logical.isInstanceOf[LogicalRDD]
    val schedules = Seq((5, 2) -> Set(2, 4, 5), (3, 3) -> Set(3),
      (6, 3) -> Set(3, 6), (4, 1) -> Set(1, 2, 3, 4))
    for (((rounds, every), checkpointed) <- schedules) {
      val inputs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val out = graft.functions.Graph.sweep(spark.range(3).toDF("x"), rounds, every) {
        (df, r) => inputs += df; df.select((col("x") + r).as("x"))
      }
      // round r reads round r−1's frame; round 1 reads the lazy init
      assert(inputs.map(isCheckpoint).toSeq == (0 until rounds).map(checkpointed),
        s"round inputs for ($rounds, $every)")
      assert(isCheckpoint(out), s"result for ($rounds, $every)")
      assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
        (0L until 3L).map(_ + rounds * (rounds + 1) / 2), s"values for ($rounds, $every)")
    }
  }

  test("graph ops on an empty edge frame: a declared error or an empty result") {
    import graft.functions.Graph
    import org.apache.spark.sql.DataFrame
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val noComm = Seq.empty[(Long, Long)].toDF("node", "community")
    // no node to rank, no pair to count, no seed in the graph: each
    // fails with IllegalArgumentException, never an engine error
    val failing = Seq[(String, () => DataFrame)](
      "pageRank" -> (() => Graph.pageRank(empty)),
      "personalizedPageRank" -> (() => Graph.personalizedPageRank(empty, Seq(1L).toDF("node"))),
      "neighborhoodFunction" -> (() => Graph.neighborhoodFunction(empty)),
      "neighborhoodFunctionApprox" -> (() => Graph.neighborhoodFunctionApprox(empty, radius = 2)))
    for ((name, op) <- failing)
      withClue(name)(intercept[IllegalArgumentException](op().collect()))
    val emptyOut = Seq[(String, () => DataFrame)](
      "hits" -> (() => Graph.hits(empty)),
      "kCore" -> (() => Graph.kCore(empty)),
      "connectedComponents" -> (() => Graph.connectedComponents(empty)),
      "labelPropagation" -> (() => Graph.labelPropagation(empty)),
      "louvainCommunities" -> (() => Graph.louvainCommunities(empty)),
      "louvainRefine" -> (() => Graph.louvainRefine(empty, noComm)),
      "louvainMultiLevel" -> (() => Graph.louvainMultiLevel(empty)),
      "communityProfile" -> (() => Graph.communityProfile(empty, noComm)),
      "degreeHistogram" -> (() => Graph.degreeHistogram(empty)),
      "projectBipartite" -> (() => Graph.projectBipartite(empty, "src", "dst")),
      "randomWalks" -> (() => Graph.randomWalks(empty)),
      "skipGramPairs" -> (() => Graph.skipGramPairs(Graph.randomWalks(empty))),
      "harmonicCentrality" -> (() => Graph.harmonicCentrality(empty)),
      "harmonicCentralityApprox" -> (() => Graph.harmonicCentralityApprox(empty, radius = 2)),
      "triangleCounts" -> (() => Graph.triangleCounts(empty)))
    for ((name, op) <- emptyOut) assert(op().count() == 0, name)
    // the one-row summaries report a zero-edge graph
    val mod = Graph.modularity(empty, noComm).collect()
    assert(mod.length == 1 && mod(0).getLong(0) == 0L && mod(0).getLong(1) == 0L,
      s"modularity ${mod.toSeq}")
    val summary = Graph.graphSummary(empty).collect()
    assert(summary.length == 1 && summary(0).getLong(0) == 0L && summary(0).getLong(1) == 0L,
      s"graphSummary ${summary.toSeq}")
  }

  test("unigram encode(train(corpus)) tokens re-concatenate to the normalized text") {
    // lossless-cover property: for every document, joining the emitted
    // token stream reproduces the normalized text minus spaces — a
    // Viterbi DP that silently drops a pruned piece mid-path (or
    // returns a partial cover) breaks this where no vocab-level oracle
    // row would notice
    import graft.functions.{TextOps, UnigramTokenizer}
    val wordGen = Gen.choose(1, 9)
      .flatMap(n => Gen.listOfN(n, Gen.choose('a', 'f')).map(_.mkString))
    val docGen = Gen.choose(1, 12)
      .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    for (docs <- samples(Gen.listOfN(25, docGen), 2)) {
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val vocab = UnigramTokenizer.trainUnigram(df, "text", vocabSize = 40,
        rounds = 2, maxPieceLen = 3, maxWordLen = 10,
        minSeedCount = 1L, seedSize = 200)
      val bad = UnigramTokenizer.unigramEncode(df, "text", "doc_id", vocab)
        .select(col("doc_id"), array_join(col("tokens"), "").as("joined"))
        .join(df.select(col("doc_id"),
          regexp_replace(TextOps.normalizeText(col("text")), " ", "")
            .as("expect")), Seq("doc_id"))
        .filter(col("joined") =!= col("expect"))
        .collect()
      assert(bad.isEmpty,
        s"non-covering segmentation: ${bad.take(3).mkString("; ")}")
    }
  }

  test("wordpiece encode(train(corpus)) covers the text and keeps word boundaries") {
    // the WordPiece twin of the unigram lossless-cover property: joined
    // tokens minus the "</w>" markers reproduce the normalized text
    // minus spaces, and the MARKER COUNT equals the word count — a
    // greedy segmenter that eats across a boundary (or a fold that
    // merges through "</w>" incorrectly) breaks one of the two where no
    // vocab-level oracle row would notice
    import graft.functions.{TextOps, WordPieceTokenizer}
    val wordGen = Gen.choose(1, 9)
      .flatMap(n => Gen.listOfN(n, Gen.choose('a', 'f')).map(_.mkString))
    val docGen = Gen.choose(1, 12)
      .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    for (docs <- samples(Gen.listOfN(25, docGen), 2)) {
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val merges = WordPieceTokenizer.trainMerges(df, "text", numMerges = 8)
      val norm = regexp_replace(TextOps.normalizeText(col("text")), " ", "")
      val words = size(split(TextOps.normalizeText(col("text")), " "))
      val bad = WordPieceTokenizer.wordPieceEncode(df, "text", "doc_id", merges)
        .select(col("doc_id"),
          regexp_replace(array_join(col("tokens"), ""), "</w>", "").as("joined"),
          size(org.apache.spark.sql.functions.filter(col("tokens"),
            t => t.endsWith("</w>"))).as("n_marks"))
        .join(df.select(col("doc_id"), norm.as("expect"), words.as("n_words")),
          Seq("doc_id"))
        .filter(col("joined") =!= col("expect") || col("n_marks") =!= col("n_words"))
        .collect()
      assert(bad.isEmpty,
        s"cover/boundary violation: ${bad.take(3).mkString("; ")}")
    }
  }

  test("connected components equal union-find truth on random graphs") {
    // 26 nodes, 60 random edges: rounds = 5 converges even on a full
    // path (propagate+jump covers distance 2^(r+1)-2), so the fixed-
    // round output must BE the true min-id component labeling
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)).suchThat(p => p._1 != p._2))
    for (edges <- samples(edgeGen, 3) if edges.nonEmpty) {
      val got = graft.functions.Graph
        .connectedComponents(edges.toDF("src", "dst"), rounds = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver union-find with union-by-min: find() IS the component min
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val truth = nodes.map(n => n -> find(n)).toMap
      assert(got == truth, "fixed-round labels diverge from union-find")
    }
  }

  test("connected components: path graph converges exponentially in rounds") {
    // 0-1-2-...-25: after r rounds every label has moved 2^(r+1)-2 ids
    // down, so 4 rounds label the whole path 0 and 2 rounds must NOT
    // (distance 6 < 25) — pins the pointer-jump actually jumping
    val path = (0L until 25L).map(i => (i, i + 1)).toDF("src", "dst")
    val conv = graft.functions.Graph.connectedComponents(path, rounds = 4)
      .collect().map(_.getLong(1)).distinct
    assert(conv.toSeq == Seq(0L), s"4 rounds must converge a 26-path: $conv")
    val partial = graft.functions.Graph.connectedComponents(path, rounds = 2)
      .collect().map(_.getLong(1)).distinct
    assert(partial.length > 1, "2 rounds cannot cover distance 25 — jump overshoot?")
  }

  test("label propagation separates bridged cliques that components would fuse") {
    import graft.functions.Graph
    // two triangles joined by one bridge: LPA's majority rule keeps two
    // communities (hand-traced through 3 synchronous min-tie rounds),
    // while connected components fuses everything reachable
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val lp = Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L),
      s"got $lp")
    val cc = Graph.connectedComponents(edges)
      .collect().map(_.getLong(1)).distinct
    assert(cc.toSeq == Seq(1L), "components must fuse the bridge")
  }

  test("louvain matches an independent synchronous-modularity reference") {
    import graft.functions.Graph
    // Independent reference: exact-integer modularity score
    // 2m·kiin − k·Σtot' with (score desc, stay-first, smallest-id)
    // argmax, half-graph parity-alternating moves — re-derived here,
    // not shared with the library code.
    def refLouvain(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).distinct
      val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val m = es.size.toLong
      val k = adj.view.mapValues(_.size.toLong).toMap
      var comm: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
      for (r <- 1 to rounds) {
        val sumtot = comm.toSeq.groupBy(_._2).view
          .mapValues(_.map(p => k(p._1)).sum).toMap.withDefaultValue(0L)
        comm = comm.map { case (u, a) =>
          if (math.floorMod(u, 2L) != (r % 2).toLong) u -> a
          else {
            val kiin = adj(u).groupBy(comm).view.mapValues(_.size.toLong).toMap
            val best = (kiin.keySet + a).toSeq.minBy { c =>
              val st = sumtot(c) - (if (c == a) k(u) else 0L)
              val score = 2L * m * kiin.getOrElse(c, 0L) - k(u) * st
              (-score, if (c == a) 0 else 1, c)
            }
            u -> best
          }
        }
      }
      comm
    }
    // two triangles + bridge: Louvain keeps two communities where
    // connected components fuses everything (traced by hand through the
    // three parity-alternating rounds)
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val got = Graph.louvainCommunities(tri.toDF("src", "dst"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refLouvain(tri, 3), s"got $got")
    assert(got.values.toSet.size == 2, s"bridge must not fuse: $got")
    // random graphs: fixed-round output equals the reference's, and a
    // 7-way repartition changes nothing (partition invariance)
    val edgeGen = Gen.listOfN(50,
      Gen.zip(Gen.choose(0L, 17L), Gen.choose(0L, 17L)).suchThat(p => p._1 != p._2))
    for (edges <- samples(edgeGen, 3) if edges.nonEmpty) {
      val df = edges.toDF("src", "dst")
      val out = Graph.louvainCommunities(df, rounds = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == refLouvain(edges, 4), "diverges from reference")
      val out7 = Graph.louvainCommunities(df.repartition(7), rounds = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out7 == out, "not partition-invariant")
    }
  }

  test("modularity is exact and ranks louvain above the one-community fuse") {
    import graft.functions.Graph
    // two 4-cliques + one bridge; m = 13. Hand-computed:
    //  - true 2-community split: e_in = 12, Σtot² = 13² + 13² = 338
    //    q = (4·13·12 − 338)/(4·169) = (624 − 338)/676 = 0.423076923
    //  - everything in ONE community: e_in = 13, Σtot² = 26² = 676
    //    q = (676 − 676)/676 = 0
    val k4a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val k4b = for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val edges = (k4a ++ k4b :+ (4L, 5L)).toDF("src", "dst")
    import spark.implicits._
    val split = (1L to 8L).map(n => (n, if (n <= 4) 1L else 5L)).toDF("node", "community")
    val qSplit = Graph.modularity(edges, split).collect()(0)
    assert(qSplit.getLong(0) == 13L && qSplit.getLong(1) == 12L)
    assert(qSplit.getDouble(2) == 0.423076923, s"got ${qSplit.getDouble(2)}")
    val fused = (1L to 8L).map(n => (n, 1L)).toDF("node", "community")
    assert(Graph.modularity(edges, fused).collect()(0).getDouble(2) == 0.0)
    // louvain finds the split (or better) — its modularity must beat the fuse
    val louvain = Graph.louvainCommunities(edges, rounds = 4)
    val qLv = Graph.modularity(edges, louvain).collect()(0).getDouble(2)
    assert(qLv >= 0.42, s"louvain modularity $qLv below the clique split")
    // a node missing from the assignment is an implicit singleton
    val partial = Seq((1L, 1L)).toDF("node", "community")
    val qPart = Graph.modularity(edges, partial).collect()(0)
    assert(qPart.getLong(1) == 0L) // no intra edges among singletons
    // singleton labels live in a tagged space: a missing node whose id
    // EQUALS a live community label must NOT merge into it. Path
    // 1-2-3, comm {2->1, 3->1}, node 1 absent: ein=1 (only 2-3),
    // Σtot² = 3² + 1² = 10, q = (4·2·1 − 10)/16 = −0.125 — the
    // id-coalescing bug folded node 1 into community 1 and read 0.0
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val collide = Seq((2L, 1L), (3L, 1L)).toDF("node", "community")
    val qc = Graph.modularity(path, collide).collect()(0)
    assert(qc.getLong(1) == 1L, s"intra ${qc.getLong(1)}")
    assert(qc.getDouble(2) == -0.125, s"q ${qc.getDouble(2)}")
    // non-integer community labels must not break the tagged-singleton
    // coercion (r18 ADVICE): string labels score identically to their
    // long twins
    val strSplit = (1L to 8L).map(n => (n, if (n <= 4) "a" else "b"))
      .toDF("node", "community")
    assert(Graph.modularity(edges, strSplit).collect()(0).getDouble(2)
      == 0.423076923, "string labels diverge")
  }

  test("LPA labels come from the rounds-hop neighborhood") {
    import graft.functions.Graph
    // a node's label after r synchronous rounds can only have traveled
    // <= r hops: it must be the id of a node within r hops of it in the
    // symmetric adjacency (catches any off-by-one in the per-round
    // neighbor aggregate that a fixed oracle row can't)
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 21L), Gen.choose(0L, 21L)).suchThat(p => p._1 != p._2))
    for ((edges, rounds) <- samples(edgeGen, 3).zip(Seq(1, 2, 3)) if edges.nonEmpty) {
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def ball(n: Long, r: Int): Set[Long] = {
        var reached = Set(n)
        var frontier = Set(n)
        for (_ <- 1 to r) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- reached
          reached ++= frontier
        }
        reached
      }
      val lp = Graph.labelPropagation(edges.toDF("src", "dst"), rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      lp.foreach { case (n, l) =>
        assert(ball(n, rounds).contains(l),
          s"label $l of node $n is outside its $rounds-hop ball")
      }
    }
  }

  test("weighted graph ops at w=1 equal their unweighted forms") {
    import graft.functions.Graph
    val edgeGen = Gen.listOfN(50,
      Gen.zip(Gen.choose(0L, 17L), Gen.choose(0L, 17L)).suchThat(p => p._1 != p._2))
    for (raw <- samples(edgeGen, 2) if raw.nonEmpty) {
      // simple graph: the unweighted path dedups parallel edges while
      // the weighted path SUMS them into multiplicity weights, so the
      // w=1 equivalence only holds on distinct canonical pairs
      val edges = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val df = edges.toDF("src", "dst")
      val dfw = df.withColumn("w", lit(1L))
      // louvain + modularity are exact integers: equality is bitwise
      val lv = Graph.louvainCommunities(df, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val lvw = Graph.louvainCommunities(dfw, rounds = 3, weightCol = "w")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(lv == lvw, "weighted louvain at w=1 diverges")
      val comm = Graph.louvainCommunities(df, rounds = 3)
      val q0 = Graph.modularity(df, comm).collect()(0).getDouble(2)
      val q1 = Graph.modularity(dfw, comm, weightCol = "w").collect()(0).getDouble(2)
      assert(q0 == q1, s"weighted modularity at w=1: $q1 != $q0")
      // pagerank contributions divide by sum(1.0) instead of count —
      // same value for integral counts, so ranks agree exactly
      val pr = Graph.pageRank(df, iterations = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val prw = Graph.pageRank(dfw.withColumn("w", lit(1.0)), iterations = 3,
        weightCol = "w")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      pr.foreach { case (n, v) =>
        assert(math.abs(prw(n) - v) < 1e-15, s"weighted pagerank at w=1: node $n")
      }
    }
  }

  test("weighted louvain matches an independent weighted reference") {
    import graft.functions.Graph
    // multigraph: duplicate pairs become multiplicity weights; the
    // reference re-derives the weighted gain (kiin/k/Σtot/m all weight
    // sums) independently of the library code
    def refLouvainW(wedges: Map[(Long, Long), Long], rounds: Int): Map[Long, Long] = {
      val adj = wedges.toSeq.flatMap { case ((a, b), w) => Seq((a, b, w), (b, a, w)) }
        .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3)).toMap
      val m = wedges.values.sum
      val k = adj.view.mapValues(_.map(_._2).sum).toMap
      var comm: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
      for (r <- 1 to rounds) {
        val sumtot = comm.toSeq.groupBy(_._2).view
          .mapValues(_.map(p => k(p._1)).sum).toMap.withDefaultValue(0L)
        comm = comm.map { case (u, a) =>
          if (math.floorMod(u, 2L) != (r % 2).toLong) u -> a
          else {
            // neighbor weight per COMMUNITY (not per neighbor id)
            val kiin = adj(u).groupBy(t => comm(t._1)).view
              .mapValues(_.map(_._2).sum).toMap
            val best = (kiin.keySet + a).toSeq.minBy { c =>
              val st = sumtot(c) - (if (c == a) k(u) else 0L)
              val score = 2L * m * kiin.getOrElse(c, 0L) - k(u) * st
              (-score, if (c == a) 0 else 1, c)
            }
            u -> best
          }
        }
      }
      comm
    }
    val edgeGen = Gen.listOfN(70,
      Gen.zip(Gen.choose(0L, 13L), Gen.choose(0L, 13L)).suchThat(p => p._1 != p._2))
    for (edges <- samples(edgeGen, 3) if edges.nonEmpty) {
      val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      val wmap = canon.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val df = canon.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
      val out = Graph.louvainCommunities(df, rounds = 4, weightCol = "w")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == refLouvainW(wmap, 4), "diverges from weighted reference")
      // weighted modularity of the result must match the exact formula
      val wdf = wmap.toSeq.map { case ((a, b), w) => (a, b, w) }.toDF("src", "dst", "w")
      val comm = out.toSeq.toDF("node", "community")
      val got = Graph.modularity(wdf, comm, weightCol = "w").collect()(0)
      val mm = wmap.values.sum
      val ein = wmap.collect { case ((a, b), w) if out(a) == out(b) => w }.sum
      val kk = wmap.toSeq.flatMap { case ((a, b), w) => Seq(a -> w, b -> w) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val st2 = out.toSeq.groupBy(_._2).view
        .mapValues(_.map(p => kk(p._1)).sum).values.map(s => s * s).sum
      val qRef = BigDecimal((4.0 * mm * ein - st2.toDouble) / (4.0 * mm * mm))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got.getLong(0) == mm && got.getLong(1) == ein &&
        got.getDouble(2) == qRef, s"weighted modularity $got vs ($mm, $ein, $qRef)")
    }
  }

  test("personalized pagerank: all-nodes seeds reduce to pagerank; mass conserves") {
    import graft.functions.Graph
    val edgeGen = Gen.listOfN(50,
      Gen.zip(Gen.choose(0L, 17L), Gen.choose(0L, 17L)).suchThat(p => p._1 != p._2))
    for (edges <- samples(edgeGen, 2) if edges.nonEmpty) {
      // symmetric so no mass dangles
      val df = edges.flatMap(e => Seq(e, e.swap)).toDF("src", "dst")
      val allNodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("node")
      val pr = Graph.pageRank(df, iterations = 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val ppr = Graph.personalizedPageRank(df, allNodes, iterations = 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // (1−d)/N vs (1−d)·(1/N) differ by one fp op — tolerance, not bits
      pr.foreach { case (n, v) =>
        assert(math.abs(ppr(n) - v) < 1e-12, s"all-seed PPR diverges at $n")
      }
      // restricted seeds: total mass stays 1 on a symmetric graph
      // (Σr_t = (1−d) + d·Σr_{t−1}, Σr_0 = 1), seeds outrank distant
      // non-seeds on average
      val seedIds = allNodes.collect().map(_.getLong(0)).sorted.take(2)
      val seeds = seedIds.toSeq.toDF("node")
      val rp = Graph.personalizedPageRank(df, seeds, iterations = 6)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(math.abs(rp.values.sum - 1.0) < 1e-9, s"mass ${rp.values.sum}")
      assert(seedIds.map(rp).sum > 0, "seed mass vanished")
    }
  }

  test("louvain refine: level 2 keeps or improves modularity, composition is consistent") {
    import graft.functions.Graph
    // chain of 5 triangles bridged in a line: one-level synchronous
    // louvain under-converges at 2 rounds (parity halves merge pairwise),
    // the coarsen + re-optimize level merges whole communities — the
    // multi-level claim, asserted via the modularity yardstick
    val tris = (0 until 5).flatMap { t =>
      val b = 3L * t
      Seq((b, b + 1), (b, b + 2), (b + 1, b + 2))
    }
    val bridges = (0 until 4).map(t => (3L * t + 2, 3L * t + 3))
    val edges = (tris ++ bridges).toDF("src", "dst")
    val l1 = Graph.louvainCommunities(edges, rounds = 2).localCheckpoint()
    val l2 = Graph.louvainRefine(edges, l1, rounds = 2)
    val q1 = Graph.modularity(edges, l1).collect()(0).getDouble(2)
    val q2 = Graph.modularity(edges, l2).collect()(0).getDouble(2)
    assert(q2 >= q1, s"refine lost modularity: $q2 < $q1")
    // composition: every level-2 community is a union of whole level-1
    // communities (a node can only move WITH its super-node)
    val a1 = l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a2 = l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1.keySet == a2.keySet, "refine changed the node set")
    a1.groupBy(_._2).values.foreach { grp =>
      assert(grp.keys.map(a2).toSet.size == 1, "level-1 community split by refine")
    }
    // louvainMultiLevel(levels = 2) IS fit + refine at equal rounds
    val ml = Graph.louvainMultiLevel(edges, levels = 2, roundsPerLevel = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ml == a2, "multiLevel(2) != fit + refine")
  }

  test("bipartite projection with a non-binding cap equals the exact projection") {
    import graft.functions.Graph
    // random membership rows; cap >= any group size, so the salted-hash
    // cut keeps everything and the output must equal the brute
    // projection with exact shared-left multiplicities
    val memGen = Gen.listOfN(80,
      Gen.zip(Gen.choose(0L, 11L), Gen.choose(100L, 115L)))
    for (mem <- samples(memGen, 3) if mem.nonEmpty) {
      val distinctMem = mem.distinct
      val expected = distinctMem.groupBy(_._1).values.flatMap { grp =>
        val rs = grp.map(_._2).distinct.sorted
        for (i <- rs.indices; j <- (i + 1) until rs.size) yield (rs(i), rs(j))
      }.groupBy(identity).map { case (p, xs) => (p._1, p._2, xs.size.toLong) }.toSet
      val got = Graph.projectBipartite(mem.toDF("l", "r"), "l", "r",
          maxPerGroup = 64, salt = "p")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(got == expected, "capped projection diverges from exact at non-binding cap")
    }
  }

  test("community profile: hand-computed conductance on the bridged cliques") {
    import graft.functions.Graph
    // two 4-cliques + one bridge (m = 13), split assignment: each side
    // has 4 nodes, 6 internal edges, 1 boundary edge, volume 13;
    // conductance = 1 / min(13, 26 − 13) = 0.076923077
    val k4a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val k4b = for (i <- 5L to 8L; j <- (i + 1) to 8L) yield (i, j)
    val edges = (k4a ++ k4b :+ (4L, 5L)).toDF("src", "dst")
    val split = (1L to 8L).map(n => (n, if (n <= 4) 1L else 5L)).toDF("node", "community")
    val rows = Graph.communityProfile(edges, split).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(rows.keySet == Set(1L, 5L))
    rows.values.foreach { v =>
      assert(v == ((4L, 6L, 1L, 13L, 0.076923077)), s"got $v")
    }
    // one community holding the whole graph: no boundary, cut
    // denominator 0 → NULL conductance
    val fused = (1L to 8L).map(n => (n, 1L)).toDF("node", "community")
    val f = Graph.communityProfile(edges, fused).collect()(0)
    assert(f.getLong(3) == 0L && f.isNullAt(5))
    // weighted: doubling every weight doubles the integer columns and
    // leaves conductance unchanged (scale invariance)
    val w2 = edges.withColumn("w", lit(2L))
    val rw = Graph.communityProfile(w2, split, weightCol = "w").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(5)))).toMap
    rw.values.foreach { v => assert(v == ((12L, 2L, 0.076923077)), s"got $v") }
  }

  test("neighborhood function: exact on a path, HyperANF matches exact on random graphs") {
    import graft.functions.Graph
    // path 1-2-3-4-5: N(0) = 5, N(1) = 5 + 8 = 13 (4 edges × 2),
    // N(2) = 13 + 6 = 19 (three nodes gain 2 peers at distance 2)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val nf = Graph.neighborhoodFunction(path, radius = 2, quantile = 0.9)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(nf(0) == ((5L, false)) && nf(1) == ((13L, false)) && nf(2) == ((19L, true)),
      s"got $nf")
    // the effective flag marks the SMALLEST qualifying depth: at
    // quantile 0.5, N(1)/N(2) = 13/19 ≈ 0.68 already qualifies
    val nf5 = Graph.neighborhoodFunction(path, radius = 2, quantile = 0.5)
      .collect().map(r => r.getInt(0) -> r.getBoolean(3)).toMap
    assert(nf5 == Map(0 -> false, 1 -> true, 2 -> false), s"got $nf5")
    // HyperANF twin: sparse-mode HLL is exact on small graphs, so the
    // estimated totals and the effective flag must agree with the BFS
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)).suchThat(p => p._1 != p._2))
    for (edges <- samples(edgeGen, 2) if edges.nonEmpty) {
      val df = edges.toDF("src", "dst")
      val exact = Graph.neighborhoodFunction(df, radius = 3)
        .collect().map(r => (r.getInt(0), r.getLong(1).toDouble, r.getBoolean(3))).toSet
      val approx = Graph.neighborhoodFunctionApprox(df, radius = 3)
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(3))).toSet
      assert(approx == exact, s"HyperANF diverges: $approx vs $exact")
    }
  }

  test("graph summary matches hand-computed profile values") {
    import graft.functions.Graph
    // triangle 1-2-3 plus pendant 3-4: n=4, m=4, degrees (2,2,3,1)
    //  Σk=8, Σk²=18, Σk³=44, wedges=1+1+3+0=5, triangles=1
    //  Σxy over adj: edges (1,2):2·2 (2,3):2·3 (1,3):2·3 (3,4):3·1,
    //  each twice → 2·(4+6+6+3)=38
    //  assortativity = (8·38 − 18²)/(8·44 − 18²) = (304−324)/(352−324)
    //                = −20/28 = −0.714285714
    //  clustering = 3·1/5 = 0.6; avg_degree = 8/4 = 2.0
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.graphSummary(edges).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 2.0)
    assert(r.getDouble(4) == -0.714285714, s"assortativity ${r.getDouble(4)}")
    assert(r.getLong(5) == 1L)
    assert(r.getDouble(6) == 0.6)
    // degree-regular graph (a square): zero degree variance → NULL
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val s2 = Graph.graphSummary(square).collect()(0)
    assert(s2.isNullAt(4), "regular graph must yield NULL assortativity")
    assert(s2.getLong(5) == 0L && s2.getDouble(6) == 0.0)
  }

  test("degree histogram bins exactly at power-of-two boundaries") {
    import graft.functions.Graph
    // star: center 0 has degree 6 (bin 2: 100..111), leaves degree 1
    // (bin 0); add edge 1-2 so leaves 1,2 get degree 2 (bin 1: 10..11)
    val star = ((1L to 6L).map(l => (0L, l)) :+ (1L, 2L)).toDF("src", "dst")
    val rows = Graph.degreeHistogram(star).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows(0) == ((1L, 4L, 1L, 1L)), s"bin0 ${rows.get(0)}") // 4 leaves of degree 1
    assert(rows(1) == ((2L, 2L, 2L, 2L)), s"bin1 ${rows.get(1)}") // leaves 1,2
    assert(rows(2) == ((4L, 1L, 6L, 6L)), s"bin2 ${rows.get(2)}") // the hub
    assert(rows.size == 3)
  }

  test("random walks are valid paths, partition-invariant, and cap-respecting") {
    import graft.functions.Graph
    val edgeGen = Gen.listOfN(50,
      Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)).suchThat(p => p._1 != p._2))
    for (edges <- samples(edgeGen, 2) if edges.nonEmpty) {
      val df = edges.toDF("src", "dst")
      val walks = Graph.randomWalks(df, walkLength = 3, walksPerNode = 2,
        maxNeighbors = 4, salt = "t")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      // every walk emits exactly walkLength+1 positions starting at its node
      val byWalk = walks.groupBy(w => (w._1, w._2))
      byWalk.foreach { case ((s, _), rows) =>
        assert(rows.length == 4 && rows.find(_._3 == 0).get._4 == s)
      }
      // every consecutive (step t-1 -> t) pair is a real undirected edge
      val undirected = edges.flatMap(e => Seq(e, e.swap)).toSet
      byWalk.foreach { case (_, rows) =>
        val path = rows.sortBy(_._3).map(_._4).toSeq
        path.sliding(2).foreach { case Seq(a, b) =>
          assert(undirected.contains((a, b)), s"non-edge hop $a -> $b in $path")
        }
      }
      // partition-invariance: a different physical layout yields the
      // identical walk set (hash-indexed selection has no order inputs)
      val re = Graph.randomWalks(df.repartition(7), walkLength = 3,
        walksPerNode = 2, maxNeighbors = 4, salt = "t")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      assert(walks.sorted.toSeq == re.sorted.toSeq)
      // maxNeighbors = 1: every step from a node goes to its single
      // min-hash candidate — walks through the same node always agree
      val capped = Graph.randomWalks(df, walkLength = 2, walksPerNode = 1,
        maxNeighbors = 1, salt = "t")
        .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
      val hops = capped.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      hops.foreach { case (_, path) =>
        path.sliding(2).foreach { case Seq(a, b) =>
          // b is a's unique candidate: any other walk stepping from a
          // must also go to b
          hops.values.foreach { other =>
            other.sliding(2).foreach { case Seq(x, y) =>
              if (x == a) assert(y == b, s"cap-1 divergence at $a: $b vs $y")
            }
          }
        }
      }
    }
  }

  test("harmonic centrality: exact on a path, HyperBall matches exact on random graphs") {
    import graft.functions.Graph
    // path 1-2-3-4-5, radius 2: h(3) = 2/1 + 2/2 = 3, h(1) = 1/1 + 1/2
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val h = Graph.harmonicCentrality(path, radius = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(h(3L) == ((4L, 3.0)), s"center ${h(3L)}")
    assert(h(1L) == ((2L, 1.5)) && h(5L) == ((2L, 1.5)), s"ends ${h(1L)}")
    assert(h(2L) == ((3L, 2.5)), s"near-end ${h(2L)}")
    // HyperBall twin: on small graphs sparse-mode HLL counts are exact,
    // so ball estimates — and therefore the harmonic sums — must agree
    // with the exact BFS at every node
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 25L)).suchThat(p => p._1 != p._2))
    for (edges <- samples(edgeGen, 2) if edges.nonEmpty) {
      val df = edges.toDF("src", "dst")
      val exact = Graph.harmonicCentrality(df, radius = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val approx = Graph.harmonicCentralityApprox(df, radius = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(exact.keySet == approx.keySet)
      exact.foreach { case (n, ex) =>
        assert(math.abs(approx(n) - ex) < 1e-6,
          s"node $n: exact $ex vs hyperball ${approx(n)}")
      }
    }
  }

  test("misra-gries: exact when distinct <= k, error-bounded beyond") {
    // exact regime: distinct = 10 <= k = 16 → counts equal groupBy truth,
    // and the result is partition-layout invariant
    val xs = (0 until 3000).map(i => s"w${i % 10}")
    val exact = TextOps.heavyHitters(xs.toDF("s").repartition(7), "s", 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == xs.groupBy(identity).view.mapValues(_.size.toLong).toMap)
    // lossy regime: zipfish stream, k = 4 — every item with true
    // frequency > n/(k+1) must survive with count in
    // [true - n/(k+1), true]
    val freqs = Map("hot" -> 1200, "warm" -> 400, "t1" -> 60, "t2" -> 50,
      "t3" -> 40, "t4" -> 30, "t5" -> 20)
    val stream = scala.util.Random.javaRandomToRandom(new java.util.Random(42))
      .shuffle(freqs.toSeq.flatMap { case (s, n) => Seq.fill(n)(s) })
    val n = stream.size
    val k = 4
    val bound = n / (k + 1)
    val got = TextOps.heavyHitters(stream.toDF("s").repartition(5), "s", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((s, t) <- freqs if t > bound) {
      assert(got.contains(s), s"$s (freq $t > $bound) must survive")
      assert(got(s) <= t && got(s) >= t - bound,
        s"$s estimate ${got(s)} outside [${t - bound}, $t]")
    }
    got.foreach { case (s, c) =>
      assert(c <= freqs(s), s"$s overestimated: $c > ${freqs(s)}")
    }
  }

  test("bounded_collect_long: complete under cap, NULL over cap, layout-invariant") {
    graft.plans.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.{col, expr}
    // groups g0..g9 with sizes 1..10; cap 6 → groups of size > 6 drop
    val rows = (0 until 10).flatMap(g => (0 until (g + 1)).map(i => (s"g$g", g * 100L + i)))
    for (parts <- Seq(1, 3, 13)) { // exercise single-buffer AND merge paths
      val d = rows.toDF("g", "v").repartition(parts)
      val got = d.groupBy("g").agg(expr("bounded_collect_long(v, 6)").as("ks"))
        .collect().map(r => r.getString(0) ->
          Option(r.getSeq[Long](1)).map(_.sorted.toList)).toMap
      (0 until 10).foreach { g =>
        val expect =
          if (g + 1 > 6) None
          else Some((0 until (g + 1)).map(i => g * 100L + i).toList)
        assert(got(s"g$g") == expect, s"group g$g at $parts partitions: ${got(s"g$g")}")
      }
    }
    // nulls count toward the cap (count(*)-window semantics) but are
    // never collected
    val overByNulls = spark.sql(
      "SELECT bounded_collect_long(v, 3) AS ks FROM VALUES (1L), (NULL), (2L), (NULL) t(v)")
      .collect()(0)
    assert(overByNulls.isNullAt(0), "4 rows > cap 3 must drop even when 2 are null")
    val withNulls = spark.sql(
      "SELECT bounded_collect_long(v, 4) AS ks FROM VALUES (1L), (NULL), (2L), (NULL) t(v)")
      .collect()(0).getSeq[Long](0).sorted
    assert(withNulls == Seq(1L, 2L))
  }

  test("degree orientation: bijective on edges, triangles match brute force") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(60, for {
        a <- Gen.choose(0L, 14L); b <- Gen.choose(0L, 14L) if a != b
      } yield (a, b))
    for (es <- samples(edgeGen, 3) if es.nonEmpty) {
      val canon = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val e = canon.toDF("lo", "hi")
      val oriented = graft.functions.Graph.orientByDegree(e)
        .select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      // every canonical edge appears EXACTLY once, in one direction
      assert(oriented.length == canon.length)
      assert(oriented.map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet ==
        canon.toSet)
      // triangle counts equal the O(n^3) brute-force truth
      val adj = canon.toSet
      def conn(a: Long, b: Long) = adj((math.min(a, b), math.max(a, b)))
      val nodes = canon.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val brute = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        i <- nodes.indices; j <- (i + 1) until nodes.length; k <- (j + 1) until nodes.length
        if conn(nodes(i), nodes(j)) && conn(nodes(j), nodes(k)) && conn(nodes(i), nodes(k))
        n <- Seq(nodes(i), nodes(j), nodes(k))
      } brute(n) += 1
      val got = graft.functions.Graph.triangleCounts(
        es.toDF("src", "dst")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == brute.toMap, s"triangles $got != brute ${brute.toMap}")
    }
  }

  test("editBinRange: only equal-signed-sided numeric ranges collapse") {
    import graft.operators.BasicReport
    val numGen = Gen.choose(-999.0, 999.0)
      .map(d => BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString)
    // independent uniforms are never equal — force some (x, x) pairs so
    // the collapse branch is actually exercised, not statistically dead
    val pairGen = Gen.frequency(
      3 -> (for { a <- numGen; b <- numGen } yield (a, b)),
      1 -> numGen.map(a => (a, a)))
    for (ps <- samples(Gen.listOfN(50, pairGen), 2)) {
      val labels = ps.map { case (a, b) => s"$a-$b" }
      val out = labels.toDF("l")
        .select(BasicReport.editBinRange(col("l"))).as[String].collect().toSeq
      labels.zip(ps).zip(out).foreach { case ((lbl, (a, b)), o) =>
        if (a == b) assert(o == a, s"equal sides must collapse: $lbl -> $o")
        else assert(o == lbl, s"unequal sides must pass through: $lbl -> $o")
      }
    }
  }

  test("iterative imputation is idempotent on complete data") {
    for (xs <- samples(doublesGen, 2) if xs.length >= 4) {
      val df = xs.zipWithIndex.map { case (x, i) => (x, x * 2 + i) }.toDF("a", "b")
      val out = graft.operators.IterativeImputer.imputationIterative(df, Seq("a", "b"))
      // no nulls anywhere → every value passes through untouched
      val before = df.select(col("a").cast("double"), col("b").cast("double"))
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).sorted.toSeq
      val after = out.collect().map(r => (r.getDouble(0), r.getDouble(1))).sorted.toSeq
      assert(after == before)
    }
  }

  test("key and value columns named with a backtick or a quote reach the hashes as names") {
    import graft.operators.{KnnImputer, LatentFeatures}
    import graft.sources.Sampling
    val plain = (1 to 200).map { i =>
      val x = (i * 37 % 101).toDouble / 10
      (i.toLong, x, if (i % 9 == 0) None else Some(3 * x + 5 + (i % 7) * 0.01), i % 5 + 5.0)
    }.toDF("id", "x", "y", "z")
    val odd = plain.withColumnRenamed("id", "a`b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    val kept = rows(Sampling.deterministicSample(plain, 0.3, Seq("id")))
    assert(kept.nonEmpty && kept.size < 200)
    assert(rows(Sampling.deterministicSample(odd, 0.3, Seq("a`b"))) == kept)
    val knn = rows(KnnImputer.imputationKnnDeterministic(
      plain, Seq("x", "y"), Seq("id"), k = 3, sampleSize = 40))
    assert(rows(KnnImputer.imputationKnnDeterministic(
      odd, Seq("x", "y"), Seq("a`b"), k = 3, sampleSize = 40)) == knn)
    // the value column's NAME is part of its mask hash, so a renamed
    // column masks other cells: the ranking must still pick the same
    // winner, and the quoted-name run must be partition-invariant
    def auto(df: org.apache.spark.sql.DataFrame, v: String) = LatentFeatures
      .autoImputationDeterministic(df, Seq("x", v), Seq("id"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    val quoted = plain.withColumnRenamed("y", "it's")
    val named = auto(quoted, "it's")
    assert(named == auto(quoted.repartition(5), "it's"))
    val plainAuto = auto(plain, "y")
    assert(named.keySet == plainAuto.keySet)
    assert(named.filter(_._2._2).keySet == plainAuto.filter(_._2._2).keySet)
  }

  test("engine ops build native expressions without writing the function registry") {
    import graft.functions._
    val s = spark.newSession()
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the dog", "https://a.example.com/x"),
      (2L, "the quick brown fox jumps over the cat", "https://a.example.com/y"),
      (3L, "lorem ipsum dolor sit amet", "https://b.example.org/z"))
      .toDF("doc_id", "text", "url")
    val pts = Seq((1L, 10.0, 20.0), (2L, 10.1, 20.1), (3L, -5.0, 3.0))
      .toDF("id", "lat", "lon")
    Seq(
      Dedup.minhashNearDuplicatesMd5(docs, "text", "doc_id", threshold = 0.1),
      Dedup.simhashMd5(docs, "text", "doc_id"),
      UrlOps.capPerDomain(docs, "url", "doc_id", maxDocs = 1),
      Sharding.shuffledShards(docs, "doc_id", nShards = 2),
      TextOps.heavyHitters(docs, "text", 4),
      BpeTokenizer.pieceEncode(docs, "text", "doc_id", Seq("th", "qu")),
      Geo.clusterAnalysisDeterministic(pts, "id", "lat", "lon", k = 2)
    ).foreach(_.collect())
    val reg = s.sessionState.functionRegistry
    Seq("geohash_encode", "md5_prefix60", "simhash_votes", "jaro_winkler",
      "misra_gries", "bounded_collect_long", "bounded_topk_long", "bpe_encode",
      "piece_encode", "unigram_viterbi", "psl_suffix_len").foreach { n =>
      assert(!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)),
        s"$n was written to the session's function registry")
    }
  }

  test("bounded top-k kernel equals a sort of the non-NaN stream") {
    import graft.functions.Similarity
    // small half-steps plant ties; ±0.0, NaN and ±∞ are the IEEE edges
    val scoreGen = Gen.frequency(
      4 -> Gen.choose(-3, 3).map(_ / 2.0),
      2 -> Gen.choose(-1e6, 1e6),
      1 -> Gen.oneOf(0.0, -0.0),
      1 -> Gen.const(Double.NaN),
      1 -> Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity))
    val streamGen = for {
      n <- Gen.choose(0, 60)
      ids <- Gen.listOfN(n, Gen.choose(-20L, 20L))
      scores <- Gen.listOfN(n, scoreGen)
      k <- Gen.choose(1, 80) // often larger than the stream
    } yield (ids.zip(scores), k)
    for ((stream, k) <- samples(streamGen, 300)) {
      val top = new Similarity.TopK(k)
      stream.foreach { case (id, s) => top.offer(id, s) }
      val got = (0 until top.size).map(i => (top.ids(i), top.scores(i)))
      // the kernel compares with ==, so 0.0 and -0.0 tie and fall back to
      // the id; `+ 0.0` maps -0.0 to 0.0 for the total-order reference sort
      val want = stream.filter(!_._2.isNaN)
        .sortBy { case (id, s) => (-s + 0.0, id) }(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        .take(k)
      assert(got == want, s"k=$k stream=$stream")
    }
  }

  test("vector top-k and KNN imputers reject k < 1 and a vector wider than the index") {
    import graft.functions.Similarity
    import graft.operators.KnnImputer
    val vecs = (1 to 8).map(i => (i.toLong, Array(i.toFloat, 1f, (i % 3).toFloat, 2f)))
      .toDF("id", "embedding")
    val (model, lists) = Similarity.buildIvfPqIndex(vecs, "id", "embedding",
      cellCount = 2, m = 2, ksub = 2)
    val nums = (1 to 8).map(i => (i.toLong, i.toDouble, if (i == 3) None else Some(2.0 * i)))
      .toDF("id", "x", "y")
    for (k <- Seq(0, -1)) Seq[(String, () => Any)](
      "bruteForceTopK" -> (() => Similarity.bruteForceTopK(vecs, "id", "embedding", k = k)),
      "crossTopK" -> (() => Similarity.crossTopK(vecs, vecs, "id", "embedding", k = k)),
      "ivfTopK" -> (() => Similarity.ivfTopK(vecs, "id", "embedding", k = k, cellCount = 2)),
      "lshTopK" -> (() => Similarity.lshTopK(vecs, "id", "embedding", k = k)),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(vecs, "id", "embedding", k = k,
        cellCount = 2, m = 2, ksub = 2)),
      "annAgainstIndex" -> (() => Similarity.annAgainstIndex(vecs, "id", "embedding",
        model, lists, k = k)),
      "imputationKnn" -> (() => KnnImputer.imputationKnn(nums, Seq("x", "y"), k = k)),
      "imputationKnnDeterministic" -> (() => KnnImputer.imputationKnnDeterministic(
        nums, Seq("x", "y"), Seq("id"), k = k))
    ).foreach { case (name, op) =>
      val e = withClue(s"$name k=$k")(intercept[IllegalArgumentException](op()))
      assert(e.getMessage.contains("k must be >= 1"), s"$name: ${e.getMessage}")
    }
    // a 65-dim vector among 64-dim ones: its id is not the md5-lowest, so
    // the quantizer's fit sample starts 64-dim and the centroids are 64-dim
    val rows = (1 to 20).map(i =>
      (i.toLong, Array.tabulate(64)(j => ((i * 31 + j * 7) % 13).toFloat - 6f)))
    val plantedId = (21L to 30L).maxBy(id => Similarity.md5Prefix60(id.toString))
    val wide = (rows :+ (plantedId -> Array.fill(65)(1f))).toDF("id", "embedding")
    val e = intercept[Exception](
      Similarity.ivfTopK(wide, "id", "embedding", k = 3, cellCount = 2, nprobe = 2).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(msgs.exists(_.contains("vector dim 65 != index dim 64")), msgs.mkString(" | "))
  }

  test("KNN fill with no finite neighbour distance falls back to the column mean") {
    import graft.operators.KnnImputer
    // x = +∞ makes every scaled distance infinite: no neighbour qualifies,
    // so y takes its column mean instead of an average of stale slots
    val df = Seq((1L, 1.0, Some(10.0)), (2L, 2.0, Some(20.0)), (3L, 3.0, Some(60.0)),
      (4L, Double.PositiveInfinity, None)).toDF("id", "x", "y")
    for (out <- Seq(KnnImputer.imputationKnn(df, Seq("x", "y"), k = 2),
        KnnImputer.imputationKnnDeterministic(df, Seq("x", "y"), Seq("id"), k = 2))) {
      val y4 = out.filter(col("id") === 4L).select("y").head().getDouble(0)
      assert(y4 == 30.0, s"filled y = $y4")
    }
  }

  test("vector ops on an empty embedding frame: a declared error or an empty result") {
    import graft.functions.Similarity
    import org.apache.spark.sql.DataFrame
    val empty = Seq.empty[(Long, Array[Float], String)].toDF("id", "embedding", "label")
    // nothing to fit a quantizer or a codebook on: IllegalArgumentException
    val failing = Seq[(String, () => Any)](
      "ivfTopK" -> (() => Similarity.ivfTopK(empty, "id", "embedding")),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(empty, "id", "embedding")),
      "pqEncode" -> (() => Similarity.pqEncode(empty, "id", "embedding")),
      "buildIvfPqIndex" -> (() => Similarity.buildIvfPqIndex(empty, "id", "embedding")),
      "semanticDedup" -> (() => Similarity.semanticDedup(empty, "id", "embedding")),
      "labelNoiseKnn" -> (() => Similarity.labelNoiseKnn(empty, "id", "embedding", "label")))
    for ((name, op) <- failing)
      withClue(name)(intercept[IllegalArgumentException](op()))
    val emptyOut = Seq[(String, () => DataFrame)](
      "bruteForceTopK" -> (() => Similarity.bruteForceTopK(empty, "id", "embedding")),
      "crossTopK" -> (() => Similarity.crossTopK(empty, empty, "id", "embedding")),
      "lshTopK" -> (() => Similarity.lshTopK(empty, "id", "embedding")),
      "embeddingNearDuplicates" -> (() => Dedup.embeddingNearDuplicates(empty, "id", "embedding")))
    for ((name, op) <- emptyOut) assert(op().collect().isEmpty, name)
  }
}
