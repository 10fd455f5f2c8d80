package graft

import graft.functions.{Dedup, Sharding, Similarity, TextOps}
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {

  test("zipf fit recovers a planted power-law slope; flat corpora flatten it") {
    import graft.functions.TextOps
    import spark.implicits._
    // vocabulary with EXACT Zipf counts f(r) = round(4000 / r): OLS over
    // ln-ln must come out near −1
    val words = (1 to 60).map(r => s"w$r" -> math.max(1, math.round(4000.0 / r).toInt))
    val docs = words.flatMap { case (w, f) => Seq.fill(f)(w) }
      .grouped(200).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val fit = TextOps.zipfFit(docs, "text", topV = 60).first()
    assert(fit.getLong(0) == 60)
    val slope = fit.getDouble(1)
    assert(math.abs(slope - (-1.0)) < 0.05, s"planted zipf slope: $slope")
    assert(fit.getLong(3) == 4000L)
    // a uniform vocabulary (every word equally frequent) has slope 0
    val flat = (0 until 50).map(i => (i.toLong, (1 to 40).map(w => s"u$w").mkString(" ")))
      .toDF("doc_id", "text")
    val flatFit = TextOps.zipfFit(flat, "text", topV = 40).first()
    assert(flatFit.getDouble(1) == 0.0, s"uniform corpus slope: ${flatFit.getDouble(1)}")
  }
  import spark.implicits._

  test("token counts and normalization") {
    val d = Seq("  Hello   World  ", "", "one two three").toDF("text")
    val counts = d.select(TextOps.tokenCount(col("text"))).collect().map(_.getInt(0)).toSeq
    assert(counts == Seq(2, 0, 3))
    val norm = d.select(TextOps.normalizeText(col("text"))).first().getString(0)
    assert(norm == "hello world")
  }

  test("fingerprint is whitespace/case invariant") {
    val d = Seq(("A  B\tC", "a b c")).toDF("t1", "t2")
    val r = d.select(TextOps.fingerprint(col("t1")) === TextOps.fingerprint(col("t2"))).first()
    assert(r.getBoolean(0))
  }

  test("langId picks the dominant stopword profile") {
    val d = Seq(
      "the cat and the dog of the house is that it",
      "el perro y la casa de los gatos se fue por que",
      "xyzzy qwerty").toDF("text")
    val langs = d.select(TextOps.langId(col("text"))).collect().map(_.getString(0)).toSeq
    assert(langs == Seq("en", "es", "und"))
  }

  test("exact duplicates found via fingerprint groupBy") {
    val d = Seq((1L, "same text here"), (2L, "Same   TEXT here"), (3L, "different"))
      .toDF("doc_id", "text")
    val dups = Dedup.exactDuplicates(d, "text", "doc_id").collect()
    assert(dups.length == 1 && dups(0).getLong(1) == 2 && dups(0).getLong(2) == 1L)
    assert(Dedup.exactDedup(d, "text", "doc_id").count() == 2)
  }

  test("shingles produce distinct word n-grams") {
    val d = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val sh = Dedup.shingles(d, "text", "doc_id", n = 2).collect().map(_.getString(1)).sorted
    assert(sh.toSeq == Seq("a b", "b c", "c d"))
  }

  test("repetition score: duplicate n-gram fractions") {
    val d = Seq(
      (1L, "spam spam spam spam"),          // 1 distinct unigram of 4, 1 distinct bigram of 3
      (2L, "all words here are different"), // no repeats at any n
      (3L, "ab")                            // shorter than n → 0.0
    ).toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
        TextOps.repetitionScore(col("text"), 1).as("r1"),
        TextOps.repetitionScore(col("text"), 2).as("r2"),
        TextOps.repetitionScore(col("text"), 3).as("r3"))
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(r(1L) == ((0.75, 0.6667, 0.5)))
    assert(r(2L) == ((0.0, 0.0, 0.0)))
    assert(r(3L)._3 == 0.0)
    val cov = d.select(col("doc_id"), TextOps.topNgramCoverage(col("text"), 2).as("c"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(cov(1L) == 1.0) // "spam spam" is every bigram
    assert(cov(2L) == 0.25) // 4 distinct bigrams, each covers 1/4
    assert(cov(3L) == 0.0) // shorter than n
  }

  test("contamination flags docs sharing shingles with the benchmark") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then the quick brown fox appears here"), // shares shingles
      (2L, "completely unrelated content with zero overlap whatsoever")
    ).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, bench, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(1L) && hits(1L) >= 2) // "the quick brown", "quick brown fox"
    assert(!hits.contains(2L))
  }

  test("minhash LSH finds planted near-duplicates and verifies jaccard") {
    val base = (" alpha beta gamma delta epsilon zeta eta theta iota kappa" * 5).trim
    val d = Seq(
      (1L, base), (2L, base + " perturbed"), (3L, "совершенно другой текст without overlap at all"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDuplicates(d, "text", "doc_id",
      shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.3).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) > 0.5)
  }

  test("index dedup: new batch probes a saved band index without re-hashing the corpus") {
    val base = (" alpha beta gamma delta epsilon zeta eta theta iota kappa" * 5).trim
    val corpus = Seq(
      (1L, base),
      (2L, "the quick brown fox jumps over the lazy dog again and again and again"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashIndexMd5(corpus, "text", "doc_id",
      shingleSize = 3, numHashes = 16, bands = 4)
    // index carries one row per (band, doc) with the full signature
    assert(index.count() == 8)
    val newb = Seq(
      (10L, base + " perturbed"),                                  // near-dup of 1
      (11L, "совершенно другой текст without any overlap at all")) // novel
      .toDF("doc_id", "text")
    val res = Dedup.dedupAgainstIndexMd5(newb, index, "text", "doc_id",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.3)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(res(10L) == ((true, 1L)))
    assert(res(11L) == ((false, -1L)))
  }

  test("index dedup: degenerate index bucket drops whole under the cap") {
    val boiler = "shared boilerplate tokens one two three four five six seven eight"
    val corpus = (1L to 5L).map(i => (i, boiler)).toDF("doc_id", "text")
    val index = Dedup.minhashIndexMd5(corpus, "text", "doc_id",
      shingleSize = 3, numHashes = 16, bands = 4)
    val newb = Seq((10L, boiler)).toDF("doc_id", "text")
    // build-time cap 4 < 5 identical postings per bucket -> the whole
    // degenerate bucket is ABSENT from the index, so probes can't match
    val cappedIdx = Dedup.minhashIndexMd5(corpus, "text", "doc_id",
      shingleSize = 3, numHashes = 16, bands = 4, maxBucketSize = 4)
    assert(cappedIdx.count() == 0)
    val capped = Dedup.dedupAgainstIndexMd5(newb, cappedIdx, "text", "doc_id",
      shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.3)
    assert(capped.filter(col("is_dup")).count() == 0)
    // default cap keeps them: exact copy matches with estimate 1.0
    val open = Dedup.dedupAgainstIndexMd5(newb, index, "text", "doc_id",
        shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.3)
      .collect()(0)
    assert(open.getBoolean(1) && open.getLong(2) == 1L && open.getDouble(3) == 1.0)
  }

  test("simhash: identical texts at hamming 0, near texts close") {
    val t = "one two three four five six seven eight nine ten"
    val d = Seq((1L, t), (2L, t), (3L, t + " eleven")).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDuplicatesMd5(d, "text", "doc_id", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(p => (p._1, p._2))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("bad MinHash banding fails naming the parameter, before any Spark job") {
    import spark.implicits._
    // (numHashes, bands, the parameter the error must name)
    val cases = Seq((16, 0, "bands"), (0, 4, "numHashes"), (64, 8, "numHashes"), (16, 3, "bands"))
    val d = Seq((1L, "one two three four five")).toDF("doc_id", "text")
    val missing = java.nio.file.Files.createTempDirectory("banding").toString + "/absent"
    val group = "banding-no-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, group)
    try cases.foreach { case (h, b, param) =>
      def rejects(what: String)(f: => Any): Unit = {
        val err = intercept[IllegalArgumentException](f)
        assert(err.getMessage.contains(param), s"$what ($h, $b): ${err.getMessage}")
      }
      rejects("checkBanding")(Dedup.checkBanding(h, b))
      rejects("minhashNearDuplicates")(Dedup.minhashNearDuplicates(d, "text", "doc_id",
        numHashes = h, bands = b))
      // the input path does not exist: reading it would fail differently,
      // so the workflow must reject the banding while building its steps
      Seq(s"build_dedup_index: {path: \"$missing/idx\", num_hashes: $h, bands: $b}",
          s"dedup_against_index: {index_path: \"$missing/idx\", num_hashes: $h, bands: $b}")
        .foreach { arm =>
          rejects(arm)(graft.workflow.Workflow.run(spark, s"""
input_dataset:
  read_dataset:
    file_path: "$missing"
    file_type: parquet
text_pipeline:
  id_col: doc_id
  $arm
"""))
        }
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get == 0, s"${jobs.get} Spark job(s) ran before the rejection")
  }

  test("brute-force cosine top-k ranks by similarity") {
    val d = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top1 = Similarity.bruteForceTopK(d, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1(1L) == 2L && top1(2L) == 1L)
  }

  test("LSH top-k recovers planted near-neighbours") {
    // Random gaussian vectors are near-orthogonal — SRP-LSH recall on them
    // is inherently weak. The guarantee that matters: genuinely-close
    // pairs land in the same bucket. Plant 30 perturbed twins.
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 30).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val twin = base.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, base), (i.toLong * 2 + 1, twin))
    }
    val d = vecs.toDF("vec_id", "embedding")
    val approx = Similarity.lshTopK(d, "vec_id", "embedding", k = 1, numPlanes = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0 until 30).count(i => approx.get(i.toLong * 2).contains(i.toLong * 2 + 1))
    assert(hits >= 27, s"LSH twin recall too low: $hits/30")
  }

  test("IVF top-k recovers planted near-neighbours") {
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 30).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val twin = base.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, base), (i.toLong * 2 + 1, twin))
    }
    val d = vecs.toDF("vec_id", "embedding")
    val approx = Similarity.ivfTopK(d, "vec_id", "embedding", k = 1, cellCount = 6, nprobe = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0 until 30).count(i => approx.get(i.toLong * 2).contains(i.toLong * 2 + 1))
    assert(hits >= 27, s"IVF twin recall too low: $hits/30")
  }

  test("stop-shingle df cap removes ubiquitous shingles from the candidate join") {
    // every doc shares the boilerplate "the quick brown"; pairs 1-2 also
    // share real content
    val boiler = "the quick brown"
    val docs = (1 to 20).map(i => (i.toLong, s"$boiler unique tokens number $i here")) ++
      Seq((100L, s"$boiler alpha beta gamma delta"), (101L, s"$boiler alpha beta gamma delta"))
    val d = docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
    val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id", "lang",
      n = 3, threshold = 0.5, maxShingleDf = 5)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the boilerplate-only pairs are gone; the real near-dup pair remains
    // with jaccard computed over NON-stop shingles only (here: identical
    // remaining sets → 1.0)
    assert(got == Set((100L, 101L)))
    assert(pairs.collect().head.getDouble(2) == 1.0)
  }

  test("minhash bucket cap drops degenerate buckets but keeps near-dups reachable") {
    // 30 identical docs form degenerate buckets in EVERY band; with the
    // cap they produce no pairs (exactDedup territory), while a distinct
    // near-dup pair below the cap is still found
    val t = (1 to 40).map(i => s"token$i").mkString(" ")
    val clones = (1 to 30).map(i => (i.toLong, "all work and no play makes a dull boy " * 4))
    val pair = Seq((200L, t), (201L, t + " extra"))
    val d = (clones ++ pair).toDF("doc_id", "text")
    val res = Dedup.minhashNearDuplicates(d, "text", "doc_id",
      threshold = 0.5, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(res == Set((200L, 201L)))
  }

  test("duplicate clusters: min-label propagation finds connected components") {
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), // chain: component min 1
      (10L, 11L),                   // pair
      (20L, 21L), (21L, 22L), (20L, 22L) // triangle
    ).toDF("key_1", "key_2")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // empty input converges immediately
    assert(Dedup.duplicateClusters(pairs.limit(0)).count() == 0)
    // treatment: one representative per cluster + untouched singletons
    val docs = (1L to 4L).map(k => (k, s"doc$k")) ++
      Seq((10L, "a"), (11L, "b"), (20L, "c"), (21L, "d"), (22L, "e"), (99L, "solo"))
    val kept = Dedup.dropNearDuplicates(
      docs.toDF("doc_id", "text"), "doc_id", Dedup.duplicateClusters(pairs))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L, 99L))
  }

  test("string cluster keys: driver union-find matches Spark's UTF-8 byte order") {
    // U+1F600 (surrogate pair, UTF-16 units D83D DE00) sorts BELOW U+E000
    // under String.compareTo but ABOVE it under Spark's UTF-8/code-point
    // least() — the representative must not depend on which side of the
    // maxLocalEdges cap the input lands
    val emoji = new String(Character.toChars(0x1F600))
    val pua = "\uE000"
    val pairs = Seq((pua, emoji), (emoji, "\uFFFD")).toDF("key_1", "key_2")
    val local = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = Dedup.duplicateClusters(pairs, maxLocalEdges = 0L).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist)
    assert(local.values.toSet == Set(pua)) // U+E000 is the code-point min
  }

  test("reliable checkpoint flag: both dedup paths produce identical clusters") {
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("key_1", "key_2")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    spark.conf.set("graft.dedup.reliableCheckpoint", "true")
    try {
      val got = Dedup.duplicateClusters(pairs, maxLocalEdges = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally spark.conf.unset("graft.dedup.reliableCheckpoint")
    val local = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expected)
  }

  test("exhaustive-probe IVF equals brute force exactly (distributed exact path)") {
    val rnd = new scala.util.Random(23)
    val d = (0 until 80).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val brute = Similarity.bruteForceTopK(d, "vec_id", "embedding", k = 3)
      .collect().map(key).sortBy(t => (t._1, t._4))
    val exact = Similarity.ivfTopK(d, "vec_id", "embedding", k = 3,
      cellCount = 5, nprobe = 5)
      .select("vec_id", "neighbor_id", "cos", "rank")
      .collect().map(key).sortBy(t => (t._1, t._4))
    assert(exact.toSeq == brute.toSeq)
  }

  test("salted IVF stays exact under a pathologically hot cell") {
    // one tight cluster (9/10 of the data lands in ONE quantizer cell) +
    // a tiny memberCapPerCell forces the salted sub-group path; with
    // exhaustive probing the result must still equal brute force exactly
    val rnd = new scala.util.Random(31)
    val hot = (0 until 90).map { i =>
      (i.toLong, Array.tabulate(8)(j => (1.0 + 0.01 * rnd.nextGaussian()).toFloat * (if (j == 0) 1f else 0.02f)))
    }
    val spread = (90 until 100).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val d = (hot ++ spread).toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val brute = Similarity.bruteForceTopK(d, "vec_id", "embedding", k = 3)
      .collect().map(key).sortBy(t => (t._1, t._4))
    val salted = Similarity.ivfTopK(d, "vec_id", "embedding", k = 3,
      cellCount = 4, nprobe = 4, memberCapPerCell = 10)
      .select("vec_id", "neighbor_id", "cos", "rank")
      .collect().map(key).sortBy(t => (t._1, t._4))
    assert(salted.toSeq == brute.toSeq)
  }

  test("auto-sized IVF picks a √N cell grid and stays recall-strong") {
    val rnd = new scala.util.Random(37)
    val vecs = (0 until 40).flatMap { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      val twin = base.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, base), (i.toLong * 2 + 1, twin))
    }
    val d = vecs.toDF("vec_id", "embedding")
    // cellCount = 0 → auto (√80 → clamped to the 16 floor); exhaustive
    // probe keeps it exact so the auto grid cannot lose neighbours
    val approx = Similarity.ivfTopK(d, "vec_id", "embedding", k = 1,
      cellCount = 0, nprobe = Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0 until 40).count(i => approx.get(i.toLong * 2).contains(i.toLong * 2 + 1))
    assert(hits == 40, s"auto-grid exhaustive IVF must be exact: $hits/40")
  }

  test("embedding near-dup finds planted noisy copies") {
    val rnd = new scala.util.Random(17)
    val base = (0 until 40).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val noisy = base.take(10).map { case (id, v) => (id + 100, v.map(_ * 1.001f)) }
    val d = (base ++ noisy).toDF("vec_id", "embedding")
    val dups = Dedup.embeddingNearDuplicates(d, "vec_id", "embedding", threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 10).foreach { i =>
      assert(dups.get(i.toLong + 100).contains(i.toLong), s"copy ${i + 100} not mapped to $i")
    }
  }

  test("quality score rewards normal prose") {
    val d = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away to the hills",
      "!!! ??? ###").toDF("text")
    val scores = d.select(TextOps.qualityScore(col("text"))).collect().map(_.getDouble(0)).toSeq
    assert(scores(0) == 1.0 && scores(1) < 0.5)
  }

  test("PII redaction scrubs emails, IPs, and phones in order") {
    val d = Seq(
      "mail bob.smith+x@corp.example.org now",
      "host 192.168.0.12 responded",
      "dial +1(415)555-0142 today",
      "clean text with no pii at all").toDF("text")
    val out = d.select(TextOps.piiRedact(col("text"))).collect().map(_.getString(0)).toSeq
    assert(out(0) == "mail [EMAIL] now")
    assert(out(1) == "host [IP] responded")
    assert(out(2) == "dial [PHONE] today")
    assert(out(3) == "clean text with no pii at all")
  }

  test("line dedup keeps the first occurrence of each line corpus-wide") {
    val d = Seq(
      (1L, "alpha beta\nshared footer"),
      (2L, "gamma delta\nshared footer"),
      (3L, "alpha beta\nshared footer")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "alpha beta\nshared footer" && out(0).getLong(2) == 2)
    assert(out(1).getString(1) == "gamma delta" && out(1).getLong(3) == 1)
    assert(out(2).getString(1) == "" && out(2).getLong(2) == 0) // every line seen before
  }

  test("shard packing respects the token budget and partition layout") {
    val d = (1 to 100).map(i => (i.toLong, 10L)).toDF("doc_id", "w")
    val packed = graft.functions.Sharding.packByBudget(d, "w", Seq("doc_id"), budget = 100L)
    val byShard = packed.groupBy("shard").sum("w").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byShard.size == 10 && byShard.values.forall(_ == 100L))
    // partition-invariant assignment
    val repart = graft.functions.Sharding
      .packByBudget(d.repartition(7), "w", Seq("doc_id"), budget = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val base = packed.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(base == repart)
    // an oversize doc owns the shard where it starts; following docs move on
    val big = Seq((1L, 10L), (2L, 500L), (3L, 10L)).toDF("doc_id", "w")
    val shards = graft.functions.Sharding.packByBudget(big, "w", Seq("doc_id"), budget = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(shards == Map(1L -> 0L, 2L -> 0L, 3L -> 5L))
  }

  test("md5 minhash family: identical normalized texts share signatures") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "Alpha  BETA gamma delta epsilon zeta"), // same after normalize
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignaturesMd5(Dedup.shingles(d, "text", "doc_id"), 8)
      .collect().map(r => r.getLong(0) -> (1 until 9).map(r.getLong)).toMap
    assert(sigs(1L) == sigs(2L), "normalize-equal docs must hash equal")
    assert(sigs(1L) != sigs(3L))
    // deterministic across runs / partitionings
    val again = Dedup.minhashSignaturesMd5(
      Dedup.shingles(d.repartition(5), "text", "doc_id"), 8)
      .collect().map(r => r.getLong(0) -> (1 until 9).map(r.getLong)).toMap
    assert(sigs == again)
  }

  test("md5 simhash: near-identical docs land at small hamming distance") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val d = Seq(
      (1L, base),
      (2L, base.replace("today", "tonight")), // one token differs
      (3L, "completely different words about spark query engines and shuffles"))
      .toDF("doc_id", "text")
    val fp = Dedup.simhashMd5(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(1L), fp(2L)) < hamming(fp(1L), fp(3L)),
      "one-token edit must be closer than an unrelated doc")
    assert(hamming(fp(1L), fp(2L)) <= 12)
  }

  test("int8 quantization reconstruction error is bounded by half a step") {
    val dir = "/root/testdata/sf0.001"
    val s = spark
    val rows = graft.queries.TextQueries.qEmbeddingQuantize.fn(s, dir).collect()
    assert(rows.nonEmpty)
    // global bounds → step = (hi-lo)/255; rounding to nearest code keeps
    // |v - decode(c)| <= step/2 (plus the 1e-4 output rounding)
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val b = e.agg(
      org.apache.spark.sql.functions.min(array_min(col("embedding"))),
      org.apache.spark.sql.functions.max(array_max(col("embedding")))).first()
    val step = (b.getFloat(1).toDouble - b.getFloat(0).toDouble) / 255.0
    rows.foreach { r =>
      assert(r.getDouble(2) <= step / 2 + 1e-4, s"err ${r.getDouble(2)} > ${step / 2}")
    }
  }

  test("new text ops are null/empty safe") {
    val d = Seq((1L, ""), (2L, "   "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // piiRedact propagates null, keeps empties
    val pii = d.select(TextOps.piiRedact(col("text"))).collect().map(r => Option(r.get(0)))
    assert(pii(0).contains("") && pii(2).isEmpty)
    // gopher signals: zero words → all-zero ratios, no NaN/crash
    val g = TextOps.gopherSignals(d.filter(col("text").isNotNull), "text", "doc_id")
      .collect()
    g.foreach { r =>
      assert(r.getAs[Int]("n_words") == 0 && !r.getAs[Boolean]("passes"))
      assert(r.getAs[Double]("mean_word_len") == 0.0)
    }
    // line dedup: whitespace-only lines dedup like any other line
    val ld = Dedup.lineDedup(d.filter(col("text").isNotNull), "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(ld.length == 2 && ld(0).getLong(2) == 1 && ld(1).getLong(2) == 1)
  }

  test("jaro-winkler expression matches standard reference values") {
    import graft.plans.JaroWinklerExpr.similarity
    // canonical Winkler vectors + boost-threshold / window / empty edges,
    // all verified against DuckDB's jaro_winkler_similarity
    val eps = 1e-12
    assert(math.abs(similarity("martha", "marhta") - 0.9611111111111111) < eps)
    assert(math.abs(similarity("dixon", "dicksonx") - 0.8133333333333332) < eps)
    assert(math.abs(similarity("duane", "dwayne") - 0.8400000000000001) < eps)
    assert(math.abs(similarity("crate", "trace") - 0.7333333333333334) < eps)
    assert(math.abs(similarity("cat", "cta") - 0.5555555555555555) < eps) // <= 0.7: no boost
    assert(similarity("ab", "ba") == 0.0)  // window 0 → no matches
    assert(similarity("", "abc") == 0.0 && similarity("abc", "abc") == 1.0)
    // codegen path agrees with the interpreted path
    graft.plans.GraftFunctions.register(spark)
    val viaSql = Seq(("martha", "marhta")).toDF("a", "b")
      .select(expr("jaro_winkler(a, b)")).head().getDouble(0)
    assert(math.abs(viaSql - 0.9611111111111111) < eps)
  }

  test("naive bayes seed classifier separates planted vocabularies") {
    // curated seed speaks "alpha", junk seed speaks "zeta"; held-out
    // docs mix them — the classifier must side with the majority tokens
    val docs = Seq(
      (1L, "alpha alpha beta gamma"), (2L, "alpha beta alpha delta"),  // seed 1
      (3L, "zeta zeta eta theta"), (4L, "zeta eta zeta iota"),          // seed 0
      (5L, "alpha alpha alpha beta"),  // unlabeled, clearly curated
      (6L, "zeta zeta eta eta"),       // unlabeled, clearly junk
      (7L, "totally novel words")      // all-OOV → prior only (= 0 here)
    ).toDF("doc_id", "text")
    val seed = Seq((1L, 1), (2L, 1), (3L, 0), (4L, 0)).toDF("doc_id", "label")
    val got = TextOps.nbSeedClassifier(docs, "text", "doc_id", seed)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    assert(got(5L)._2 == 1 && got(5L)._1 > 0, s"curated doc: ${got(5L)}")
    assert(got(6L)._2 == 0 && got(6L)._1 < 0, s"junk doc: ${got(6L)}")
    // balanced seed → prior ln(2/2) = 0; all-OOV doc scores exactly 0
    assert(got(7L) == (0.0, 1), s"oov doc: ${got(7L)}")
    // seed docs score toward their own label
    assert(got(1L)._2 == 1 && got(3L)._2 == 0)
  }

  test("deletion-neighborhood fuzzy pairs have exact distance-1 recall") {
    val names = Seq(
      (1L, "Acme Corp"), (2L, "Acme Corpx"),   // insertion
      (3L, "Acme Cor"),                        // deletion of (1)
      (4L, "Acme 卡orp"),                     // substitution (non-ascii)
      (5L, "acme corp"),                       // dist 0 after lower()
      (6L, "Completely Different"), (7L, ""), (8L, "x"))
    val d = names.toDF("id", "name")
    val got = Dedup.editDistancePairs(d, "name", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force truth over the normalized names
    val norm = names.map { case (k, v) => k -> v.toLowerCase.trim }
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i.max(j))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val want = (for {
      (k1, s1) <- norm; (k2, s2) <- norm if k1 < k2
      dist = lev(s1, s2) if dist <= 1
    } yield (k1, k2, dist)).toSet
    assert(got == want, s"got $got\nwant $want")
    assert(want.contains((1L, 5L, 0)) && want.contains((1L, 2L, 1)) &&
      want.contains((1L, 3L, 1)) && want.contains((1L, 4L, 1)))
  }

  test("bloom decontamination pre-screen has no false negatives") {
    val bench = Seq((100L, "the secret benchmark question about spark internals today"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the secret benchmark question about spark internals today verbatim copy"),
      (2L, "entirely unrelated content with other words in it"),
      (3L, "more clean text that shares nothing with the benchmark set"))
      .toDF("doc_id", "text")
    val flagged = Dedup.contaminationBloom(corpus, bench, "text", "doc_id",
      expectedShingles = 1000L)
      .collect().map(_.getLong(0)).toSet
    assert(flagged.contains(1L), "a true contamination must always be flagged")
    // exact confirmation pass agrees on the survivor
    val exact = Dedup.contamination(corpus, bench, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(exact == Set(1L))
    assert(exact.subsetOf(flagged), "bloom screen must cover every exact hit")
  }

  test("native md5_prefix60 equals the built-in hex-parse expression") {
    graft.plans.GraftFunctions.register(spark)
    val d = (1 to 500).map(i => s"value-$i-é中").toDF("s")
    val cmp = d.select(
      expr("md5_prefix60(cast(s as binary))").as("native"),
      expr("cast(conv(substring(md5(cast(s as binary)), 1, 15), 16, 10) as bigint)").as("ref"))
    assert(cmp.filter(col("native") =!= col("ref")).count() == 0)
    // null-safe
    val n = Seq[Option[String]](None).toDF("s")
      .selectExpr("md5_prefix60(cast(s as binary))").first()
    assert(n.isNullAt(0))
    // stays inside whole-stage codegen (use a file scan — a local
    // relation constant-folds to LocalTableScan before codegen)
    val filePlan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("md5_prefix60(cast(text as binary)) AS h")
      .queryExecution.executedPlan.toString
    assert(filePlan.contains("*(1)"), // the WholeStageCodegen marker
      s"expected the projection inside a codegen stage:\n$filePlan")
  }

  test("duplicate spans flag and remove exact cross-doc substrings") {
    // docs 1 and 2 share a 10-token run (positions 2..11 in doc 1,
    // 0..9 in doc 2); doc 3 is unrelated
    val shared = "one two three four five six seven eight nine ten"
    val d = Seq(
      (1L, s"aa bb $shared cc dd"),
      (2L, s"$shared xx yy zz"),
      (3L, "totally different words with no overlap at all here friend")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "text", "doc_id", windowTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1: windows at pos 2,3,4 (8-token windows inside the run) merge
    // to [2, 12); doc 2: windows at 0,1,2 merge to [0, 10)
    assert(spans == Set((1L, 2L, 12L), (2L, 0L, 10L)), s"spans: $spans")
    val cleaned = Dedup.removeDuplicateSpans(d, "text", "doc_id", windowTokens = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(cleaned(1L) == ("aa bb cc dd", 10L))
    assert(cleaned(2L) == ("xx yy zz", 10L))
    assert(cleaned(3L)._2 == 0L && cleaned(3L)._1.startsWith("totally different"))
    // layout invariance: same spans from a different partitioning
    val again = Dedup.duplicateSpans(d.repartition(7), "text", "doc_id", windowTokens = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == spans)
  }

  test("crossTopK retrieves exact neighbors and guards an oversized query side") {
    import graft.functions.Similarity
    val qs = Seq((100L, Array(1f, 0f)), (200L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(2f, 0.1f)), (2L, Array(0.1f, 2f)), (3L, Array(1f, 1f)),
      (4L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.crossTopK(qs, corpus.repartition(3), "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // query 100 ~ x-axis: nearest corpus vecs 1 then 3; query 200 ~ y-axis: 2 then 3
    assert(got((100L, 1)) == 1L && got((100L, 2)) == 3L)
    assert(got((200L, 1)) == 2L && got((200L, 2)) == 3L)
    // partition-layout invariance
    val again = Similarity.crossTopK(qs, corpus.repartition(1), "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(again == got)
    // oversized query side fails loudly instead of OOMing the driver
    val big = spark.range(10).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.array(lit(1f), lit(0f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.crossTopK(big, corpus, "vec_id", "embedding", k = 1, maxQueryRows = 5)
    }
    assert(e.getMessage.contains("query side exceeds"))
    // a zero-norm corpus vector (NaN cosine) must NOT squat in the
    // top-k — results equal the clean-corpus run
    val dirty = corpus.unionByName(
      Seq((99L, Array(0f, 0f))).toDF("vec_id", "embedding"))
    val withZero = Similarity.crossTopK(qs, dirty.repartition(3), "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(withZero == got, s"zero vector leaked into top-k: $withZero")
    // the self-join top-k paths share the rule: a zero vector placed
    // first (so it is scored while the slots are still empty) must not
    // change any non-zero vector's neighbours
    val pts = (1 to 12).map { i =>
      (i.toLong, Array((i % 5).toFloat - 2f, (i % 3).toFloat + 0.5f, (i * 7 % 4).toFloat - 1f))
    }.toDF("vec_id", "embedding")
    val zeroFirst = Seq((99L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding").unionByName(pts)
    def neighbours(top: org.apache.spark.sql.DataFrame) = top
      .filter(col("vec_id") =!= 99L).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rank")) -> r.getAs[Long]("neighbor_id"))
      .toMap
    for ((name, op) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "bruteForceTopK" -> (d => Similarity.bruteForceTopK(d, "vec_id", "embedding", k = 3)),
        "ivfTopK" -> (d => Similarity.ivfTopK(d, "vec_id", "embedding", k = 3,
          cellCount = 3, nprobe = 3)),
        "lshTopK" -> (d => Similarity.lshTopK(d, "vec_id", "embedding", k = 3, numPlanes = 2)))) {
      val clean = neighbours(op(pts.coalesce(1)))
      assert(clean.size == 36, s"$name: ${clean.size} neighbours")
      val dirty = neighbours(op(zeroFirst.coalesce(1)))
      assert(dirty == clean, s"$name: zero vector leaked into top-k: $dirty")
    }
  }

  test("concat-and-chunk packing assigns offsets and sequence spans") {
    import graft.functions.Sharding
    val d = Seq((1L, 300L), (2L, 300L), (3L, 10L), (4L, 0L), (5L, 600L))
      .toDF("doc_id", "n")
    val got = Sharding.concatChunk(d.repartition(3), "n", Seq("doc_id"), seqLen = 512)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("tok_offset"), r.getAs[Long]("seq_first"), r.getAs[Long]("seq_last"))).toMap
    // offsets 0, 300, 600, 610, 610; seq boundaries at 512, 1024
    assert(got(1L) == (0L, 0L, 0L))
    assert(got(2L) == (300L, 0L, 1L), "doc 2 straddles the 512 boundary")
    assert(got(3L) == (600L, 1L, 1L))
    assert(got(4L) == (610L, 1L, 1L), "empty doc pins to its offset's sequence")
    assert(got(5L) == (610L, 1L, 2L))
    // layout invariance
    val again = Sharding.concatChunk(d.repartition(1), "n", Seq("doc_id"), seqLen = 512)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("tok_offset")).toMap
    assert(again == got.map { case (k, v) => k -> v._1 })
  }

  test("bm25 ranks term-dense short docs first, closed-form score check") {
    import graft.functions.TextOps
    val d = Seq(
      (1L, "spark spark spark engine"), // tf 3, dl 4
      (2L, "spark engine engine core"), // tf 1, dl 4
      (3L, "unrelated words entirely here")
    ).toDF("doc_id", "text")
    val got = TextOps.bm25TopK(d, "text", "doc_id", Seq(7L -> "spark"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.map(x => (x._2, x._4)).toSet == Set((1L, 1), (2L, 2)), s"${got.toSeq}")
    // closed form: N=3, df=2 → idf = ln(1 + 1.5/2.5); avgdl = 4 = dl → the
    // length term collapses to 1, score = idf · tf·2.2/(tf+1.2)
    val idf = math.log(1 + 1.5 / 2.5)
    def s(tf: Double) = BigDecimal(idf * tf * 2.2 / (tf + 1.2))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byDoc = got.map(x => x._2 -> x._3).toMap
    assert(byDoc(1L) == s(3) && byDoc(2L) == s(1), s"$byDoc vs ${s(3)}, ${s(1)}")
  }

  test("gopher signals compute rule flags per document") {
    val longDoc = (Seq.fill(20)("the data and table with that have rows") :+ "end").mkString(" ")
    val bullets = "- one\n- two\n- three\nthe end of that list to be with"
    val d = Seq((1L, longDoc), (2L, bullets), (3L, "## # # …")).toDF("doc_id", "text")
    val rows = TextOps.gopherSignals(d, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[Boolean]("passes"), "long prose doc should pass")
    val b = rows(1)
    assert(b.getAs[Double]("bullet_ratio") == 0.75 && !b.getAs[Boolean]("passes"))
    val sym = rows(2)
    assert(sym.getAs[Double]("symbol_ratio") > 0.1 && !sym.getAs[Boolean]("passes"))
  }

  test("semantic dedup keeps one survivor per planted duplicate group") {
    // two well-separated gaussian-free blobs: ids 0-9 near (1,0,...),
    // 10-19 near (0,1,...); within a blob every pair has cosine ≈ 1 ≥ τ,
    // across blobs cosine ≈ 0 — so exactly two survivors, the min ids
    val dim = 8
    val vecs = (0 until 20).map { i =>
      val base = Array.fill(dim)(0.001f * ((i * 13) % 7))
      if (i < 10) base(0) = 1f else base(1) = 1f
      (i.toLong, base.toSeq)
    }
    val d = vecs.toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(d, "vec_id", "embedding",
      threshold = 0.95, cellCount = 2, lloydIters = 5, lloydQuantize = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size == 20)
    assert(out.count(_._2._2) == 2, s"expected 2 survivors, got ${out.count(_._2._2)}")
    assert(out(0L) == ((0L, true)) && out(10L) == ((10L, true)))
    (1L until 10L).foreach(i => assert(out(i) == ((0L, false))))
    (11L until 20L).foreach(i => assert(out(i) == ((10L, false))))
    // cap bounds the per-cell quadratic work: capped-out rows keep themselves
    val capped = Similarity.semanticDedup(d, "vec_id", "embedding",
      threshold = 0.95, cellCount = 2, maxCellSize = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(capped.count(!_._2) <= 4) // at most 2 dropped per 3-capped cell
  }

  test("sliding-window chunking: boundaries, overlap, and empty docs") {
    val d = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only three tokens"),
      (3L, "   "), // empty after normalization → no chunks
      (4L, "single")).toDF("doc_id", "text")
    val out = graft.functions.Sharding.chunkWithOverlap(d, "text", "doc_id",
      chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getString(4), r.getString(5))).toMap
    // doc 1: starts 0,3,6,9 → sizes 4,4,4,1; chunk i starts at token i*3+1
    assert(out((1L, 0L)) == ((4, "t1", "t4")))
    assert(out((1L, 1L)) == ((4, "t4", "t7"))) // 1-token overlap
    assert(out((1L, 2L)) == ((4, "t7", "t10")))
    assert(out((1L, 3L)) == ((1, "t10", "t10")))
    assert(out((2L, 0L)) == ((3, "only", "tokens")))
    assert(out((4L, 0L)) == ((1, "single", "single")))
    assert(!out.keys.exists(_._1 == 3L))
    assert(out.size == 6)
    // every token of every doc is covered by at least one chunk
    val covered = out.keys.filter(_._1 == 1L).flatMap { case (_, c) =>
      val s = c.toInt * 3; s until math.min(s + 4, 10) }.toSet
    assert(covered == (0 until 10).toSet)
  }

  test("DSIR scores rank target-like raw docs above off-domain ones") {
    import graft.functions.ImportanceSampling
    val target = (0 until 30).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon", true))
    val likeTarget = (100 until 110).map(i =>
      (i.toLong, "alpha beta gamma something", false))
    val junk = (200 until 210).map(i =>
      (i.toLong, "zzz qqq www xxx yyy", false))
    val d = (target ++ likeTarget ++ junk).toDF("doc_id", "text", "is_t")
    val scores = ImportanceSampling.dsirScores(d, "text", "doc_id",
      isTarget = col("is_t"), numBuckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // only raw-pool docs are scored
    assert(scores.keySet == ((100 until 110) ++ (200 until 210)).map(_.toLong).toSet)
    val worstLike = (100 until 110).map(i => scores(i.toLong)).min
    val bestJunk = (200 until 210).map(i => scores(i.toLong)).max
    assert(worstLike > bestJunk,
      s"target-like floor $worstLike must beat junk ceiling $bestJunk")
    // gumbel-top-k is deterministic and favors high scores
    val sel = ImportanceSampling.gumbelTopK(
      ImportanceSampling.dsirScores(d, "text", "doc_id", col("is_t"), 1024),
      "id", k = 8).collect().map(_.getLong(0)).toSet
    val sel2 = ImportanceSampling.gumbelTopK(
      ImportanceSampling.dsirScores(d.repartition(7), "text", "doc_id", col("is_t"), 1024),
      "id", k = 8).collect().map(_.getLong(0)).toSet
    assert(sel == sel2, "selection must be partition-invariant")
    assert(sel.count(_ < 200) >= 6, s"selection should favor target-like docs: $sel")
  }

  test("leakage-safe split keeps duplicate clusters on one side") {
    val d = (1L to 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("key_1", "key_2")
    val out = Dedup.leakageSafeSplit(d, "doc_id", pairs,
      Seq("train" -> 0.5, "test" -> 0.5))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(out.size == 100)
    // clustered docs share their representative's split
    assert(Set(out(1L), out(2L), out(3L)).size == 1 && out(1L)._1 == 1L)
    assert(out(10L) == out(11L) && out(10L)._1 == 10L)
    // singletons represent themselves
    assert(out(50L)._1 == 50L)
    // no cluster representative maps to two splits
    val byRep = out.values.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(byRep.values.forall(_.size == 1))
    // both splits are populated at 50/50
    val splits = out.values.map(_._2).groupBy(identity).view.mapValues(_.size)
    assert(splits("train") > 20 && splits("test") > 20)
  }

  test("keyword tf-idf surfaces doc-specific terms over corpus-wide ones") {
    // "shared" appears in every doc (idf = ln 1 = 0 → score 0);
    // each doc's private term must outrank it despite lower tf
    val d = Seq(
      (1L, "shared shared shared alpha"),
      (2L, "shared shared shared beta beta"),
      (3L, "shared shared shared gamma")).toDF("doc_id", "text")
    val kw = TextOps.keywordTfidf(d, "text", "doc_id", topK = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kw == Map(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
    // rank ties break lexicographically: two terms with equal tf and df
    val tie = Seq((1L, "zz aa")).toDF("doc_id", "text")
    val top = TextOps.keywordTfidf(tie, "text", "doc_id", topK = 2)
      .orderBy("rank").collect().map(_.getString(1)).toSeq
    assert(top == Seq("aa", "zz"))
  }

  test("pii mentions extract typed matches with stable pseudonyms") {
    val d = Seq(
      (1L, "mail a@b.com and a@b.com again, server 10.0.0.1"),
      (2L, "mail a@b.com from another doc"),
      (3L, "clean text")).toDF("doc_id", "text")
    val m = TextOps.piiMentions(d, "text", "doc_id").collect()
    // doc 1: two email mentions + one ip; doc 2: one email; doc 3: none
    assert(m.count(_.getLong(0) == 1L) == 3)
    assert(m.count(_.getLong(0) == 3L) == 0)
    // consistent pseudonymization: the same mention gets the same token
    // across rows AND documents; different kinds never collide
    val byMention = m.groupBy(r => (r.getString(1), r.getString(2)))
      .view.mapValues(_.map(_.getString(3)).toSet)
    assert(byMention.values.forall(_.size == 1))
    val emailTok = byMention(("email", "a@b.com")).head
    assert(emailTok.startsWith("[EMAIL_") && emailTok.endsWith("]"))
    // 64-bit token: [KIND_ + 16 hex chars + ]
    assert(emailTok.stripPrefix("[EMAIL_").stripSuffix("]")
      .matches("[0-9a-f]{16}"))
    assert(m.map(_.getString(3)).distinct.length ==
      m.map(r => (r.getString(1), r.getString(2))).distinct.length)
    // keyed: a different per-corpus salt yields different tokens, so an
    // unsalted dictionary over enumerable values can't reverse them
    val salted = TextOps.piiMentions(d, "text", "doc_id", salt = "k1").collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getString(3)).toMap
    assert(salted(("email", "a@b.com")) != emailTok)
  }

  test("duplication profile scores covered-token fraction per doc") {
    val shared = "one two three four five six seven eight" // an 8-token window
    val d = Seq(
      (1L, shared + " unique tail here alpha"),   // 12 tokens, 8 covered
      (2L, "prefix words " + shared),             // 10 tokens, 8 covered
      (3L, "completely different content nothing shared at all ok")) // clean
      .toDF("doc_id", "text")
    val p = Dedup.duplicationProfile(d, "text", "doc_id", windowTokens = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toMap
    assert(p(1L) == ((12, 8L, 1, 8.0 / 12)) ||
      (p(1L)._1 == 12 && p(1L)._2 == 8L && math.abs(p(1L)._4 - 0.6667) < 1e-9))
    assert(p(2L)._1 == 10 && p(2L)._2 == 8L && p(2L)._4 == 0.8)
    // zero-span docs report 0.0, not a missing row
    assert(p(3L)._2 == 0L && p(3L)._3 == 0 && p(3L)._4 == 0.0)
  }

  test("duplication profile: null-text docs report 0 tokens / 0.0 fraction") {
    val d = Seq((1L, Option("one two three four five six seven eight nine")),
      (2L, None: Option[String]), (3L, Option(""))).toDF("doc_id", "text")
    val p = Dedup.duplicationProfile(d, "text", "doc_id", windowTokens = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toMap
    // every doc appears with non-null zeros — null text must not leak
    // null n_tokens/dup_fraction through split(null)
    assert(p(2L) == ((0, 0L, 0, 0.0)))
    assert(p(3L) == ((0, 0L, 0, 0.0)))
    assert(p(1L)._1 == 9)
  }

  test("encoding quality counts replacement, control, and mojibake signals") {
    val d = Seq(
      (1L, "plain clean text"),
      (2L, "cafÃ© and Â«quotedÂ»"), // 3 mojibake digraphs
      (3L, "bad�byte�"),                                 // 2 replacement
      (4L, "ctl\u0001and\u007Fdel"),                               // 2 control
      (5L, "tabs\tand\nnewlines are fine")                         // \t \n NOT control
    ).toDF("doc_id", "text")
    val m = TextOps.encodingQuality(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getInt(3), r.getInt(4),
        r.getBoolean(5))).toMap
    assert(m(1L) == ((0, 0, 0, true)))
    assert(m(2L) == ((0, 0, 3, false)))
    assert(m(3L) == ((2, 0, 0, false)))
    assert(m(4L) == ((0, 2, 0, false)))
    assert(m(5L) == ((0, 0, 0, true)))
  }

  test("vocab coverage curve is ranked and cumulative to 1") {
    // freqs: a=3, b=2, c=1 → shares 0.5, 0.333333, 0.166667
    val d = Seq((1L, "a a b"), (2L, "a b c")).toDF("doc_id", "text")
    val v = TextOps.vocabCoverage(d, "text", topV = 3)
      .orderBy("rank").collect()
    assert(v.map(_.getString(1)).toSeq == Seq("a", "b", "c"))
    assert(v.map(_.getLong(2)).toSeq == Seq(3L, 2L, 1L))
    assert(math.abs(v(0).getDouble(4) - 0.5) < 1e-9)
    assert(math.abs(v(2).getDouble(4) - 1.0) < 1e-9)
    // topV cuts the curve, cumulative share stays partial
    val cut = TextOps.vocabCoverage(d, "text", topV = 2).collect()
    assert(cut.length == 2 && cut.map(_.getString(1)).toSet == Set("a", "b"))
  }

  test("packing efficiency compares padded vs concat waste") {
    // docs of 10, 250, 300 tokens at seqLen 256:
    // padded: ceil(10/256)+ceil(250/256)+ceil(300/256) = 1+1+2 = 4 seqs
    //   waste = 1 - 560/(4*256) = 0.4531
    // concat: ceil(560/256) = 3 seqs, waste = 1 - 560/768 = 0.2708
    val d = Seq(10L, 250L, 300L).toDF("n_tokens")
    val r = Sharding.packingEfficiency(d, "n_tokens", 256L).collect()(0)
    assert(r.getLong(0) == 3 && r.getLong(1) == 560L && r.getLong(2) == 4L)
    assert(r.getDouble(3) == 0.4531)
    assert(r.getLong(4) == 3L && r.getDouble(5) == 0.2708)
    // null weights count 0; empty frame reports zero waste, not NaN
    val e = Sharding.packingEfficiency(
      Seq.empty[Option[Long]].toDF("n_tokens"), "n_tokens", 256L).collect()(0)
    assert(e.getLong(0) == 0 && e.getDouble(3) == 0.0 && e.getDouble(5) == 0.0)
  }

  test("shuffled shards: deterministic, partition-invariant, dense ranks") {
    val d = spark.range(500).selectExpr("id AS doc_id", "'x' AS text")
    val a = Sharding.shuffledShards(d, "doc_id", nShards = 8, salt = "e0")
      .select("doc_id", "shard", "shard_pos").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    // reproducible under a different partitioning
    val b = Sharding.shuffledShards(d.repartition(7), "doc_id", 8, "e0")
      .select("doc_id", "shard", "shard_pos").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(a == b)
    // shards in range; ranks dense 0..k-1 per shard
    assert(a.values.forall { case (s, p) => s >= 0 && s < 8 && p >= 0 })
    a.values.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).toSeq.sorted == (0 until g.size))
    }
    // a different salt reshuffles (epoch-distinct order)
    val c = Sharding.shuffledShards(d, "doc_id", 8, "e1")
      .select("doc_id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.keys.count(k => a(k)._1 != c(k)) > 0)
    // salt is data, not SQL: quotes/backslashes must hash, not parse
    val q = Sharding.shuffledShards(d, "doc_id", 8, "o'\\brien")
      .select("doc_id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q.size == 500 && q.values.forall(s => s >= 0 && s < 8))
    assert(a.keys.count(k => a(k)._1 != q(k)) > 0)
  }

  test("source overlap computes exact pairwise shingle jaccard") {
    val d = Seq(
      (1L, "a b c d e", "s1"),   // shingles: "a b c","b c d","c d e"
      (2L, "a b c x y", "s2"),   // shares "a b c" with s1
      (3L, "p q r s t", "s3")).toDF("doc_id", "text", "source")
    val o = Dedup.sourceOverlap(d, "text", "source", n = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // DENSE contract: every unordered pair appears, zero-overlap included
    assert(o.keySet == Set(("s1", "s2"), ("s1", "s3"), ("s2", "s3")))
    val (na, nb, inter, j) = o(("s1", "s2"))
    assert(na == 3 && nb == 3 && inter == 1)
    assert(math.abs(j - 1.0 / 5.0) < 1e-9)
    val (_, _, i13, j13) = o(("s1", "s3"))
    assert(i13 == 0 && j13 == 0.0)
  }

  test("source overlap refuses a high-cardinality source column") {
    // doc_id passed as the source by mistake: quadratic fan-out refused
    val d = spark.range(200)
      .selectExpr("id AS doc_id", "concat('w', id, ' a b c d') AS text",
        "cast(id AS string) AS source")
    val e = intercept[IllegalArgumentException] {
      Dedup.sourceOverlap(d, "text", "source", n = 3, maxSources = 64)
    }
    assert(e.getMessage.contains("maxSources"))
    // the same frame passes with the cap raised deliberately
    val ok = Dedup.sourceOverlap(d, "text", "source", n = 3, maxSources = 256)
    assert(ok.columns.toSeq ==
      Seq("source_a", "source_b", "n_a", "n_b", "inter", "jaccard"))
  }

  test("bpe train matches an independent driver-side reference") {
    import graft.functions.BpeTokenizer
    // Independent reference BPE (Sennrich encode rule) over a word-freq
    // map — re-derived here, not shared with the library code.
    def refBpe(freqs: Map[String, Long], k: Int, minFreq: Long): Seq[(String, String, Long)] = {
      var words: Seq[(Seq[String], Long)] =
        freqs.map { case (w, f) => (w.map(_.toString).toSeq :+ "</w>", f) }.toSeq
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var continue = true
      while (out.length < k && continue) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, f) <- words; Seq(x, y) <- syms.sliding(2))
          counts((x, y)) = counts.getOrElse((x, y), 0L) + f
        val eligible = counts.filter(_._2 >= minFreq)
        if (eligible.isEmpty) continue = false
        else {
          val ((a, b), w) = eligible.minBy { case ((x, y), c) => (-c, x, y) }
          out += ((a, b, w))
          words = words.map { case (syms, f) =>
            val merged = scala.collection.mutable.ArrayBuffer.empty[String]
            for (s <- syms) {
              if (merged.nonEmpty && merged.last == a && s == b)
                merged(merged.length - 1) = a + b
              else merged += s
            }
            (merged.toSeq, f)
          }
        }
      }
      out.toSeq
    }
    // corpus with a clear merge gradient: "ababab", "abab", "cd cd", noise
    val docs = Seq(
      (1L, "abab abab ababab cd"),
      (2L, "abab cd cd zq"),
      (3L, "ababab abab cd xy"),
      (4L, "Dropped! 42 tokens; abab")).toDF("doc_id", "text")
    // eligible words only: "dropped!", "42", "tokens;" fail [a-z]+
    val freqs = Map("abab" -> 5L, "ababab" -> 2L, "cd" -> 4L, "zq" -> 1L,
      "xy" -> 1L)
    val expected = refBpe(freqs, 6, 2L)
    val got = BpeTokenizer.trainMerges(docs, "text", numMerges = 6)
      .map(m => (m.lhs, m.rhs, m.pairCount))
    assert(got == expected, s"\ngot      $got\nexpected $expected")
    // partition invariance: a 7-way repartition learns the same table
    val got7 = BpeTokenizer.trainMerges(docs.repartition(7), "text", 6)
      .map(m => (m.lhs, m.rhs, m.pairCount))
    assert(got7 == expected)
  }

  test("bpe batched rounds pick symbol-disjoint pairs in rank order") {
    import graft.functions.BpeTokenizer
    // all four pairs tie at w=3: (a,b) < (b,</w>) < (c,d) < (d,</w>) in
    // (w desc, lhs, rhs) order; greedy disjointness must take (a,b),
    // skip (b,</w>) [b used], take (c,d), skip (d,</w>) [d used]
    val docs = Seq((1L, "ab ab ab cd cd cd")).toDF("doc_id", "text")
    val got = BpeTokenizer.trainMerges(docs, "text", numMerges = 2,
      mergesPerRound = 4)
    assert(got.map(m => (m.lhs, m.rhs, m.pairCount)) ==
      Seq(("a", "b", 3L), ("c", "d", 3L)))
    // per-round picks never share a symbol
    val syms = got.flatMap(m => Seq(m.lhs, m.rhs))
    assert(syms.distinct.size == syms.size)
    // the batch-applied states feed encode consistently
    val enc = BpeTokenizer.bpeEncode(
      Seq((1L, "abcd")).toDF("doc_id", "text"), "text", "doc_id", got)
      .collect()(0).getSeq[String](1)
    assert(enc == Seq("ab", "cd", "</w>"))
  }

  test("greedy piece encode takes the longest match with single-char fallback") {
    import graft.functions.BpeTokenizer
    // vocab has overlapping pieces: greedy must take "abc" over "ab"/"a";
    // 'x','y' are missing from the vocab -> single-char fallback
    val vocab = Seq("abc", "ab", "a", "b", "c", "d</w>", "</w>")
    val d = Seq((1L, "abcd"), (2L, "abcab"), (3L, "xy"), (4L, "Mix3 abc"))
      .toDF("doc_id", "text")
    val enc = BpeTokenizer.pieceEncode(d, "text", "doc_id", vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(enc(1L) == Seq("abc", "d</w>"))       // longest at both cuts
    assert(enc(2L) == Seq("abc", "ab", "</w>"))  // greedy, not optimal
    assert(enc(3L) == Seq("x", "y", "</w>"))     // fallback chars
    assert(enc(4L) == Seq("mix3", "abc", "</w>")) // ineligible word verbatim
    // a non-BPE-derived vocab missing "</w>" gets it auto-appended: the
    // marker must come out as ONE token, never "<","/","w",">" fallbacks
    val noMarker = BpeTokenizer.pieceEncode(
        Seq((1L, "abc")).toDF("doc_id", "text"), "text", "doc_id",
        Seq("abc", "a", "b", "c"))
      .collect()(0).getSeq[String](1)
    assert(noMarker == Seq("abc", "</w>"))
  }

  test("bpe encode applies merges in rank order; ineligible words pass through") {
    import graft.functions.BpeTokenizer
    import graft.functions.BpeTokenizer.BpeMerge
    val merges = Seq(BpeMerge(1, "a", "b", 0L), BpeMerge(2, "ab", "ab", 0L),
      BpeMerge(3, "c", "</w>", 0L))
    val d = Seq((1L, "ababab abc"), (2L, "Mixed42 ab"), (3L, "c")).toDF("doc_id", "text")
    val enc = BpeTokenizer.bpeEncode(d, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getInt(2))).toMap
    // "ababab" → chars+</w> → ab ab ab </w> → abab ab </w> (left-to-right,
    // non-overlapping) ; "abc" → ab c </w> → ab c</w>
    assert(enc(1L)._1 == Seq("abab", "ab", "</w>", "ab", "c</w>"))
    assert(enc(1L)._2 == 5)
    // "mixed42" (normalized) fails [a-z]+ → single verbatim token
    assert(enc(2L)._1 == Seq("mixed42", "ab", "</w>"))
    assert(enc(3L)._1 == Seq("c</w>"))
  }

  test("wordpiece train matches an independent likelihood-scored reference") {
    import graft.functions.WordPieceTokenizer
    // Independent reference: BPE merge loop, pick maximizes
    // pc/(count(lhs)*count(rhs)) with (score desc, lhs, rhs) order —
    // re-derived here, not shared with the library code.
    def refWp(freqs: Map[String, Long], k: Int, minFreq: Long)
        : Seq[(String, String, Long, Double)] = {
      var words: Seq[(Seq[String], Long)] =
        freqs.map { case (w, f) => (w.map(_.toString).toSeq :+ "</w>", f) }.toSeq
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Double)]
      var continue = true
      while (out.length < k && continue) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        val sc = scala.collection.mutable.Map.empty[String, Long]
        for ((syms, f) <- words) {
          for (s <- syms) sc(s) = sc.getOrElse(s, 0L) + f
          for (Seq(x, y) <- syms.sliding(2))
            pc((x, y)) = pc.getOrElse((x, y), 0L) + f
        }
        val eligible = pc.filter(_._2 >= minFreq).map { case ((x, y), c) =>
          ((x, y), c, c.toDouble / (sc(x).toDouble * sc(y).toDouble))
        }
        if (eligible.isEmpty) continue = false
        else {
          val ((a, b), w, s) =
            eligible.minBy { case ((x, y), _, sco) => (-sco, x, y) }
          out += ((a, b, w, s))
          words = words.map { case (syms, f) =>
            val merged = scala.collection.mutable.ArrayBuffer.empty[String]
            for (sym <- syms) {
              if (merged.nonEmpty && merged.last == a && sym == b)
                merged(merged.length - 1) = a + b
              else merged += sym
            }
            (merged.toSeq, f)
          }
        }
      }
      out.toSeq
    }
    // "qu" is rare but cohesive (q only ever precedes u); "ab" is
    // frequent but both symbols are common — likelihood must prefer the
    // cohesive pair where raw BPE would take the frequent one
    val docs = Seq(
      (1L, "quiz quit abab abba"),
      (2L, "quad abab baba"),
      (3L, "aqua abba abab Skip42")).toDF("doc_id", "text")
    val freqs = Map("quiz" -> 1L, "quit" -> 1L, "quad" -> 1L, "aqua" -> 1L,
      "abab" -> 3L, "abba" -> 2L, "baba" -> 1L)
    val expected = refWp(freqs, 5, 2L)
    val got = WordPieceTokenizer.trainMerges(docs, "text", numMerges = 5)
      .map(m => (m.lhs, m.rhs, m.pairCount, m.score))
    assert(got == expected, s"\ngot      $got\nexpected $expected")
    // the first pick is the cohesive (q,u), not the frequent (a,b) —
    // the defining WordPiece-vs-BPE behavior
    assert(got.head._1 == "q" && got.head._2 == "u")
    // partition invariance: a 7-way repartition learns the same table
    val got7 = WordPieceTokenizer.trainMerges(docs.repartition(7), "text", 5)
      .map(m => (m.lhs, m.rhs, m.pairCount, m.score))
    assert(got7 == expected)
  }

  test("wordpiece encode re-concatenates to the normalized words") {
    import graft.functions.WordPieceTokenizer
    val docs = Seq(
      (1L, "quiz quit quad aqua"),
      (2L, "abab abba baba Skip42"),
      (3L, "zq")).toDF("doc_id", "text")
    val merges = WordPieceTokenizer.trainMerges(docs, "text", numMerges = 4)
    val enc = WordPieceTokenizer.wordPieceEncode(docs, "text", "doc_id", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // every document's token stream, with "</w>" mapped back to a word
    // boundary, re-forms its normalized text — no piece is lost/invented
    // (the ineligible "skip42" passes through verbatim as the last word)
    for ((id, text) <- Seq(1L -> "quiz quit quad aqua",
        2L -> "abab abba baba skip42", 3L -> "zq")) {
      val rebuilt = enc(id).mkString("").replace("</w>", " ").trim
        .replaceAll("\\s+", " ")
      assert(rebuilt == text, s"doc $id: $rebuilt != $text")
    }
  }

  test("tokenizer models round-trip through ModelStore and encode identically") {
    import graft.functions.{BpeTokenizer, UnigramTokenizer, WordPieceTokenizer}
    import graft.operators.ModelStore
    val docs = Seq(
      (1L, "quiz quit quad aqua abab"),
      (2L, "abab abba baba quiz aqua"),
      (3L, "quad abba abab quit baba")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("tokmodels").toString
    def hashes(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap

    val bpe = BpeTokenizer.trainMerges(docs, "text", numMerges = 5)
    ModelStore.saveBpeMerges(spark, bpe, s"$dir/bpe")
    assert(ModelStore.loadBpeMerges(spark, s"$dir/bpe") == bpe)
    assert(hashes(BpeTokenizer.bpeEncode(docs, "text", "doc_id",
        ModelStore.loadBpeMerges(spark, s"$dir/bpe"))) ==
      hashes(BpeTokenizer.bpeEncode(docs, "text", "doc_id", bpe)))

    val wp = WordPieceTokenizer.trainMerges(docs, "text", numMerges = 5)
    ModelStore.saveWordPieceMerges(spark, wp, s"$dir/wp")
    assert(ModelStore.loadWordPieceMerges(spark, s"$dir/wp") == wp)
    assert(hashes(WordPieceTokenizer.wordPieceEncode(docs, "text", "doc_id",
        ModelStore.loadWordPieceMerges(spark, s"$dir/wp"))) ==
      hashes(WordPieceTokenizer.wordPieceEncode(docs, "text", "doc_id", wp)))

    val uni = UnigramTokenizer.trainUnigram(docs, "text", vocabSize = 16,
      rounds = 1, maxPieceLen = 3, maxWordLen = 8, minSeedCount = 2L, seedSize = 60)
    ModelStore.saveUnigramVocab(spark, uni, s"$dir/uni")
    assert(ModelStore.loadUnigramVocab(spark, s"$dir/uni") == uni)
    assert(hashes(UnigramTokenizer.unigramEncode(docs, "text", "doc_id",
        ModelStore.loadUnigramVocab(spark, s"$dir/uni"), maxWordLen = 8)) ==
      hashes(UnigramTokenizer.unigramEncode(docs, "text", "doc_id", uni, maxWordLen = 8)))
  }

  test("unigram viterbi segments by max probability with the longest-piece tie rule") {
    import org.apache.spark.sql.functions.{call_function, lit}
    graft.plans.GraftFunctions.register(spark)
    def seg(word: String, spec: String): Option[Seq[String]] = {
      val r = Seq(word).toDF("w")
        .select(call_function("unigram_viterbi", col("w"), lit(spec)))
        .collect()(0)
      if (r.isNullAt(0)) None else Some(r.getSeq[String](0))
    }
    // max-prob: [ab] at -1.5 beats [a, b] at -2.0
    assert(seg("ab", "a -1.0\nb -1.0\nab -1.5") == Some(Seq("ab")))
    // exact tie ([ab] = [a, b] = -2.0): smallest j wins = longest final piece
    assert(seg("ab", "a -1.0\nb -1.0\nab -2.0") == Some(Seq("ab")))
    // cheaper split wins when the long piece is expensive
    assert(seg("ab", "a -1.0\nb -1.0\nab -2.5") == Some(Seq("a", "b")))
    // no covering segmentation -> null (trainer skips the word)
    assert(seg("ax", "a -1.0") == None)
    assert(seg("abab", "a -1.0\nb -1.0\nab -1.5") == Some(Seq("ab", "ab")))
  }

  test("unigram trainer is deterministic and self-consistent") {
    import graft.functions.UnigramTokenizer
    val docs = (1L to 60L).map { i =>
      (i, if (i % 3 == 0) "banana bandana" else if (i % 3 == 1) "ban ana nab" else "anna ban banana")
    }.toDF("doc_id", "text")
    val v1 = UnigramTokenizer.trainUnigram(docs, "text", vocabSize = 12,
      rounds = 2, maxPieceLen = 3, maxWordLen = 8, minSeedCount = 2L, seedSize = 50)
    val v2 = UnigramTokenizer.trainUnigram(docs.repartition(7), "text", vocabSize = 12,
      rounds = 2, maxPieceLen = 3, maxWordLen = 8, minSeedCount = 2L, seedSize = 50)
    assert(v1 == v2, "training must be partition-invariant")
    assert(v1.nonEmpty && v1.size <= 12)
    // rank order is (count desc, piece asc); log-probs renormalize over
    // the kept mass at 6 dp
    assert(v1.map(p => (-p.n, p.piece)) == v1.map(p => (-p.n, p.piece)).sorted)
    val total = v1.map(_.n).sum.toDouble
    v1.foreach { p =>
      val want = BigDecimal(math.log(p.n / total))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(p.logp == want, s"logp mismatch for ${p.piece}")
    }
    assert(v1.map(_.rank) == (1L to v1.size.toLong))
  }

  test("url canonicalization applies all 7 documented rules") {
    import graft.functions.UrlOps
    val cases = Seq(
      // fragment + default https port + www + unsorted/tracking params
      (1L, "https://WWW.Example.COM:443/a/b/?utm_source=f&b=2&a=1#frag",
        "https://example.com/a/b?a=1&b=2"),
      // default http port + trailing slash
      (2L, "http://host.example.com:80/path/", "http://host.example.com/path"),
      // non-default port kept; root path normalizes to /
      (3L, "https://example.org:8443", "https://example.org:8443/"),
      // all params tracking → no query; case of path preserved
      (4L, "http://A.B.example.net/Mixed/Case?gclid=1&ref=x&fbclid=2",
        "http://a.b.example.net/Mixed/Case"),
      // empty-segment params dropped, '&&' collapses
      (5L, "https://e.io/p?b=1&&a=2", "https://e.io/p?a=2&b=1"),
      // scheme-less crawl form: defaults to http, COLLIDES with the
      // explicit http:// form of the same page (case 2)
      (6L, "host.example.com:80/path/", "http://host.example.com/path"),
      (7L, "www.example.com", "http://example.com/"))
    val out = cases.toDF("id", "url", "expect")
      .select(col("id"), UrlOps.canonicalizeUrl(col("url")).as("got"), col("expect"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    for ((id, got, expect) <- out) assert(got == expect, s"case $id")
  }

  test("registrable domain: longest public-suffix match wins") {
    import graft.functions.UrlOps
    val cases = Seq(
      ("sub.deep.example.co.uk", "example.co.uk"), // 2-label suffix
      ("a.example.com", "example.com"),            // 1-label suffix
      ("user.github.io", "user.github.io"),        // private-registry suffix
      ("b.user.github.io", "user.github.io"),
      ("x.s3.amazonaws.com", "x.s3.amazonaws.com"), // 3-label suffix
      ("co.uk", "co.uk"),                          // host IS a suffix
      // snapshot-resource entries beyond the literal fallback: co.nz
      // (and friends) used to miscollapse to the bare suffix
      ("shop.example.co.nz", "example.co.nz"),
      ("a.b.gob.mx", "b.gob.mx"),
      ("docs.readthedocs.io", "docs.readthedocs.io"), // private registry
      ("localhost", "localhost"),                  // single label
      // wildcard zone *.ck: any label under ck is itself a suffix
      ("foo.bar.ck", "foo.bar.ck"),                // bar.ck is a suffix → +1
      ("bar.ck", "bar.ck"),                        // IS a suffix → pass-through
      ("a.b.foo.ck", "b.foo.ck"),
      // exception !www.ck: registrable despite the wildcard
      ("www.ck", "www.ck"),
      ("a.www.ck", "www.ck"),
      // 2-label wildcard base *.kawasaki.jp and its !city exception
      ("x.pref.kawasaki.jp", "x.pref.kawasaki.jp"),
      ("deep.x.pref.kawasaki.jp", "x.pref.kawasaki.jp"),
      ("city.kawasaki.jp", "city.kawasaki.jp"),
      ("sub.city.kawasaki.jp", "city.kawasaki.jp"),
      // Fastly zones (regression: bare fastly.net was dropped when the
      // private registries grew — customer sites live under the product
      // zones, and plain fastly.net hosts are ordinary .net domains).
      // The full PSL lists map.fastly.net as an EXACT rule (the former
      // bundled subset carried the older *.map wildcard form)
      ("site-a.map.fastly.net", "site-a.map.fastly.net"), // exact suffix + 1
      ("x.site-a.map.fastly.net", "site-a.map.fastly.net"),
      ("customer.a.ssl.fastly.net", "customer.a.ssl.fastly.net"), // 4-label exact + 1
      ("deep.customer.a.ssl.fastly.net", "customer.a.ssl.fastly.net"),
      ("www.fastly.net", "fastly.net"),                   // NOT a suffix
      // zones ABSENT from the former 547-rule subset, present only in
      // the full PSL snapshot (r18 verdict item #3): these used to
      // miscollapse to the bare ccTLD+1
      ("shop.example.com.gh", "example.com.gh"),
      ("a.b.gov.pl", "b.gov.pl"),
      // full-list 5-label exact rule and 4-label wildcard base
      ("x.s3.dualstack.ap-northeast-1.amazonaws.com",
        "x.s3.dualstack.ap-northeast-1.amazonaws.com"),
      ("vm1.zone.compute.amazonaws.com.cn", "vm1.zone.compute.amazonaws.com.cn"),
      // IDN rule straight from the snapshot (UTF-8 labels ride the
      // InSet like any other string)
      ("example.公司.cn", "example.公司.cn"))
    val out = cases.toDF("host", "expect")
      .select(col("host"), UrlOps.registrableDomain(col("host")).as("got"), col("expect"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    for ((h, got, expect) <- out) assert(got == expect, s"host $h: got $got")
  }

  test("url dedup keeps one row per canonical form; domain cap is quota'd and salted") {
    import graft.functions.UrlOps
    val d = Seq(
      (1L, "https://WWW.a.com/x?b=2&a=1"),
      (2L, "https://a.com:443/x/?a=1&b=2&utm_source=f"), // same canonical as 1
      (3L, "https://a.com/y"),
      (4L, "http://b.org/z"), (5L, "http://c.b.org/z"), (6L, "http://d.b.org/z"))
      .toDF("doc_id", "url")
    val kept = UrlOps.urlDedup(d, "url", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L, 6L)) // 2 collapses into 1 (min key)
    // cap: b.org has 3 docs across hosts -> quota 2 keeps exactly 2,
    // deterministically, partition-invariantly
    val cap = UrlOps.capPerDomain(d, "url", "doc_id", maxDocs = 2, salt = "s0")
      .collect().map(_.getLong(0)).toSet
    val cap7 = UrlOps.capPerDomain(d.repartition(7), "url", "doc_id", 2, "s0")
      .collect().map(_.getLong(0)).toSet
    assert(cap == cap7)
    // two domains (a.com x3 docs, b.org x3 docs across hosts), quota 2 each
    assert(cap.count(Set(4L, 5L, 6L)) == 2 && cap.count(Set(1L, 2L, 3L)) == 2)
  }

  test("url edge cases: null-url rows still quota as one group; all-null keys keep a real row") {
    import graft.functions.UrlOps
    // 6 null-URL rows at quota 2: the null domain must cap like any
    // other group (the quota join is null-unsafe, so a null __dom would
    // otherwise never match its stats row and keep everything)
    val d = ((1L to 6L).map(i => (i, null: String)) :+ ((7L, "https://a.com/x")))
      .toDF("doc_id", "url")
    val capped = UrlOps.capPerDomain(d, "url", "doc_id", maxDocs = 2, salt = "s")
      .collect().map(_.getLong(0)).toSet
    assert(capped.count(_ <= 6L) == 2, s"null-domain group must cap at 2: $capped")
    assert(capped.contains(7L))
    // an exact-dup group whose EVERY key is null keeps one REAL row
    // (min_by on a bare null key would fabricate an all-null row)
    val dup = Seq((null: java.lang.Long, "same text", "m1"),
      (null: java.lang.Long, "same text", "m2"),
      (java.lang.Long.valueOf(9L), "other", "m3"))
      .toDF("doc_id", "text", "marker")
    val ded = graft.functions.Dedup.exactDedup(dup, "text", "doc_id")
      .collect().map(r => (r.get(0), r.getString(1), r.getString(2)))
    assert(ded.length == 2)
    val nullRow = ded.find(_._1 == null).get
    assert(nullRow._2 == "same text" && (nullRow._3 == "m1" || nullRow._3 == "m2"),
      s"all-null-key group must keep a real member: $nullRow")
    // dotted column names survive the struct round-trip
    val dotted = Seq((1L, "t", "x"), (2L, "t", "y")).toDF("doc_id", "text", "a.b")
    val dd = graft.functions.Dedup.exactDedup(dotted, "text", "doc_id").collect()
    assert(dd.length == 1 && dd(0).getString(2) == "x")
    // ...and so do names containing a backtick (identifier-quoting must
    // double embedded backticks, not just wrap the name)
    val ticked = Seq((1L, "t", "x"), (2L, "t", "y")).toDF("doc_id", "text", "a`b")
    val td = graft.functions.Dedup.exactDedup(ticked, "text", "doc_id").collect()
    assert(td.length == 1 && td(0).getString(2) == "x")
  }

  test("domain cap is hub-domain-safe: bounded heap, keep set exact in hash order") {
    import graft.functions.UrlOps
    // one hub domain ≫ the others: the quota must come from the bounded
    // per-domain top-k heap, not a full per-domain window sort
    val hub = (1L to 400L).map(i => (i, s"https://hub.example/p$i"))
    val small = Seq((1001L, "https://tiny.org/a"), (1002L, "https://tiny.org/b"))
    val d = (hub ++ small).toDF("doc_id", "url")
    val capped = UrlOps.capPerDomain(d.repartition(13), "url", "doc_id",
      maxDocs = 5, salt = "s1")
    val got = capped.collect().map(_.getLong(0)).toSet
    // exact expectation: the 5 hub docs smallest by (md5_prefix60, key) —
    // the same deterministic order the row_number form (and the DuckDB
    // oracle) defines — plus the whole under-quota domain
    val expectHub = hub.map(_._1)
      .sortBy(id => (graft.functions.Similarity.md5Prefix60(s"s1:$id"), id))
      .take(5).toSet
    assert(got == expectHub ++ Set(1001L, 1002L))
    assert(capped.columns.toSeq == Seq("doc_id", "url")) // helpers dropped
    // the physical plan carries the bounded heap aggregate; the only
    // window partitions by (domain, hash) — never by domain alone
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("bounded_topk_long"))
    val specs = "windowspecdefinition\\([^)]*".r.findAllIn(plan).toList
    assert(specs.nonEmpty && specs.forall(_.contains("__h#")),
      s"every window must partition by (domain, hash), got: $specs")
  }

  test("label-noise knn flags the planted mislabeled vector") {
    // two tight clusters in 2-d; vector 99 sits in cluster A but
    // carries cluster B's label → 100% neighbourhood disagreement
    val a = (0L until 6L).map(i => (i, Array(1.0f + i * 0.01f, 0.0f), 0))
    val b = (10L until 16L).map(i => (i, Array(0.0f, 1.0f + i * 0.01f), 1))
    val planted = Seq((99L, Array(1.0f, 0.05f), 1))
    val d = (a ++ b ++ planted).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelNoiseKnn(d, "vec_id", "embedding", "label",
      k = 3, cellCount = 2, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(out(99L) == 1.0, s"planted mislabel not flagged: ${out(99L)}")
    // core cluster members agree with their neighbourhood
    assert(out(1L) == 0.0 && out(11L) == 0.0)
  }
}
