package graft

import graft.functions.Multimodal
import graft.operators.LatentFeatures
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed aggregator over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val stream = input.toDF().toDF("ts", "value")
    val agg = StreamingOps.streamingAggregator(stream, "ts", "value", "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("agg_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1.0),
        (java.sql.Timestamp.valueOf("2024-01-01 10:45:00"), 3.0),
        (java.sql.Timestamp.valueOf("2024-01-01 11:15:00"), 10.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM agg_out ORDER BY window_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n_events") == 2 && rows(0).getAs[Double]("sum_value") == 4.0)
      assert(rows(1).getAs[Double]("mean_value") == 10.0)
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user stats") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val out = StreamingOps.runningUserStats(input.toDS())
    val q = out.writeStream.format("memory").queryName("user_stats")
      .outputMode("update").start()
    try {
      input.addData((1L, 2.0), (1L, 4.0), (2L, 10.0))
      q.processAllAvailable()
      input.addData((1L, 6.0))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT * FROM user_stats WHERE userId = 1 ORDER BY count DESC LIMIT 1").collect()(0)
      assert(last.getAs[Long]("count") == 3 && last.getAs[Double]("mean") == 4.0)
    } finally q.stop()
  }

  test("watermark closes windows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val stream = input.toDF().toDF("ts", "value")
    val agg = StreamingOps.streamingAggregator(stream, "ts", "value", "1 hour", "1 hour")
    val q = agg.writeStream.format("memory").queryName("append_out")
      .outputMode("append").start()
    try {
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1.0))
      q.processAllAvailable()
      // nothing emitted yet: window still open under the watermark
      assert(spark.sql("SELECT * FROM append_out").count() == 0)
      // an event far past the watermark closes the 10:00 window
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 13:00:00"), 5.0))
      q.processAllAvailable()
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 15:00:00"), 9.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM append_out ORDER BY window_start").collect()
      assert(rows.nonEmpty)
      assert(rows(0).getAs[Double]("sum_value") == 1.0) // the closed 10:00 window
    } finally q.stop()
  }

  test("streaming quality monitor counts nulls per window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Option[Double])]
    val stream = input.toDF().toDF("ts", "v")
    val agg = StreamingOps.streamingQualityMonitor(stream, "ts", Seq("v"), "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("quality_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), Some(1.0)),
        (java.sql.Timestamp.valueOf("2024-01-01 10:45:00"), None),
        (java.sql.Timestamp.valueOf("2024-01-01 10:50:00"), None))
      q.processAllAvailable()
      val r = spark.sql("SELECT * FROM quality_out").collect()(0)
      assert(r.getAs[Long]("rows__v") == 3 && r.getAs[Long]("missing__v") == 2)
    } finally q.stop()
  }

  test("streaming encoding monitor flags corrupted docs per window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val stream = input.toDF().toDF("ts", "text")
    val agg = StreamingOps.streamingEncodingMonitor(stream, "text", "ts", "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("enc_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), "clean text"),
        (java.sql.Timestamp.valueOf("2024-01-01 10:06:00"), "bad�byte�"),
        (java.sql.Timestamp.valueOf("2024-01-01 10:07:00"), "cafÃ© menu"),
        (java.sql.Timestamp.valueOf("2024-01-01 10:08:00"), "ctl\u0001end"))
      q.processAllAvailable()
      val r = spark.sql("SELECT * FROM enc_out").collect()(0)
      assert(r.getAs[Long]("n_docs") == 4)
      assert(r.getAs[Long]("docs_replacement") == 1)
      assert(r.getAs[Long]("docs_control") == 1)
      assert(r.getAs[Long]("docs_mojibake") == 1)
      assert(r.getAs[Long]("total_signals") == 4) // 2 repl + 1 ctl + 1 moji
      // batch parity: the same docs through the batch op agree
      import spark.implicits._
      val batch = graft.functions.TextOps.encodingQuality(
        Seq((1L, "clean text"), (2L, "bad�byte�"),
          (3L, "cafÃ© menu"), (4L, "ctl\u0001end"))
          .toDF("doc_id", "text"), "text", "doc_id")
      val sums = batch.agg(
        org.apache.spark.sql.functions.sum($"n_replacement" + $"n_control" + $"n_mojibake"))
        .first().getLong(0)
      assert(sums == 4)
    } finally q.stop()
  }

  test("streaming token-budget monitor serves a saved tokenizer model") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // train in batch, persist, serve the loaded model on the stream —
    // the production contract the ModelStore tokenizer tables exist for
    val corpus = Seq((1L, "quiz quit quad aqua"), (2L, "abab abba baba aqua"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("toksrv").toString
    graft.operators.ModelStore.saveWordPieceMerges(spark,
      graft.functions.WordPieceTokenizer.trainMerges(corpus, "text", numMerges = 3), dir)
    val vocab = graft.functions.WordPieceTokenizer.vocabFromMerges(
      graft.operators.ModelStore.loadWordPieceMerges(spark, dir))
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val stream = input.toDF().toDF("ts", "text")
    val agg = StreamingOps.streamingTokenBudgetMonitor(
      stream, "text", "ts", vocab, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("tok_out")
      .outputMode("complete").start()
    try {
      val docs = Seq(
        (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), "quiz abab zz"),
        (java.sql.Timestamp.valueOf("2024-01-01 10:06:00"), "aqua quit"),
        (java.sql.Timestamp.valueOf("2024-01-01 11:10:00"), "baba Caps42"))
      input.addData(docs: _*)
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM tok_out ORDER BY window_start").collect()
      assert(rows.length == 2) // two hourly windows
      // batch parity: identical encode + the same hourly rollup over the
      // static frame must agree window-for-window
      val perDoc = graft.functions.BpeTokenizer.pieceEncode(
          docs.toDF("ts", "text"), "text", "ts", vocab)
        .collect().map(r => (r.getTimestamp(0), r.getInt(2))).toSeq
      val byHour = perDoc.groupBy(_._1.toLocalDateTime.getHour)
        .map { case (h, xs) =>
          h -> (xs.size.toLong, xs.map(_._2.toLong).sum, xs.map(_._2.toLong).max)
        }
      for (r <- rows) {
        val h = r.getAs[java.sql.Timestamp]("window_start").toLocalDateTime.getHour
        val (nDocs, nToks, maxToks) = byHour(h)
        assert(r.getAs[Long]("n_docs") == nDocs)
        assert(r.getAs[Long]("n_tokens") == nToks)
        assert(r.getAs[Long]("max_doc_tokens") == maxToks)
      }
    } finally q.stop()
  }

  test("streaming binned frequencies feed the drift q-side") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val stream = input.toDF().toDF("ts", "value")
    val agg = StreamingOps.streamingBinnedFrequencies(stream, "ts", "value",
      cuts = Seq(10.0, 20.0), "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("bins_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 5.0),
        (java.sql.Timestamp.valueOf("2024-01-01 10:06:00"), 15.0),
        (java.sql.Timestamp.valueOf("2024-01-01 10:07:00"), 25.0),
        (java.sql.Timestamp.valueOf("2024-01-01 10:08:00"), 26.0))
      q.processAllAvailable()
      val bins = spark.sql("SELECT bin, n FROM bins_out").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(bins == Map(1 -> 1L, 2 -> 1L, 3 -> 2L))
    } finally q.stop()
  }

  test("streaming PSI end-to-end matches the batch drift pipeline") {
    implicit val sqlCtx = spark.sqlContext
    // p-side: saved source histogram over v in [0, 30), 3 bins
    val source = ((1 to 40).map(_ => 5.0) ++ (1 to 40).map(_ => 15.0) ++
      (1 to 20).map(_ => 25.0)).toDF("v")
    val path = java.nio.file.Files.createTempDirectory("drift-src").toString
    graft.operators.ModelStore.saveDriftSource(spark, source, Seq("v"), 3, path)
    val cuts = graft.operators.ModelStore.loadBinning(spark, s"$path/cuts")("v")
    val sourceFreq = spark.read.parquet(s"$path/frequencies")

    // q-side: a shifted target stream, all inside one event-time window
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val targetRows = ((1 to 10).map(_ => 5.0) ++ (1 to 30).map(_ => 15.0) ++
      (1 to 60).map(_ => 25.0))
    @volatile var latest: Array[org.apache.spark.sql.Row] = Array.empty
    val q = StreamingOps.streamingDriftMonitor(
      input.toDF().toDF("ts", "value"), "ts", "value", cuts, sourceFreq,
      windowDuration = "1 hour") { metrics => latest = metrics.collect() }
    try {
      input.addData(targetRows.map(v =>
        (java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), v)))
      q.processAllAvailable()
      assert(latest.length == 1)
      val streamed = latest(0)
      // batch reference: same target through the persisted-source path
      val batch = graft.operators.ModelStore.driftAgainstSavedSource(
        spark, targetRows.toDF("v"), path).collect()(0)
      for (m <- Seq("PSI", "HD", "JSD", "KS")) {
        assert(streamed.getAs[Double](m) == batch.getAs[Double](m),
          s"$m streamed ${streamed.getAs[Double](m)} != batch ${batch.getAs[Double](m)}")
      }
      assert(streamed.getAs[Int]("flagged") == 1) // distribution shifted
    } finally q.stop()
  }

  test("streaming exact dedup keeps the first doc per fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.streamingExactDedup(stream, "text", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "same text here", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, "Same   TEXT here", java.sql.Timestamp.valueOf("2024-01-01 10:01:00")),
        (3L, "different doc", java.sql.Timestamp.valueOf("2024-01-01 10:02:00")))
      q.processAllAvailable()
      input.addData( // a later duplicate inside the watermark is dropped too
        (4L, "same  text HERE", java.sql.Timestamp.valueOf("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM dedup_out").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L))
    } finally q.stop()
  }

  test("streaming index probe matches batch dedup-against-index per doc") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val base = (" alpha beta gamma delta epsilon zeta eta theta iota kappa" * 5).trim
    val corpus = Seq(
      (1L, base),
      (2L, "the quick brown fox jumps over the lazy dog again and again and again"))
      .toDF("doc_id", "text")
    val index = graft.functions.Dedup.minhashIndexMd5(corpus, "text", "doc_id",
      shingleSize = 3, numHashes = 16, bands = 4).cache()
    val newDocs = Seq(
      (10L, base + " perturbed"),
      (11L, "совершенно другой текст without any overlap at all"),
      (12L, base))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val out = StreamingOps.streamingIndexProbe(stream, index, "text", "doc_id",
      shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.3)
    val q = out.writeStream.format("memory").queryName("probe_out")
      .outputMode("append").start()
    try {
      input.addData(newDocs.take(2): _*)
      q.processAllAvailable()
      input.addData(newDocs.drop(2): _*)
      q.processAllAvailable()
      // set semantics: aggregate the streamed pairs to the batch per-doc shape
      val streamed = spark.sql(
        """SELECT key, min(idx_key) AS representative, max(est) AS best_est
          |FROM (SELECT DISTINCT * FROM probe_out) GROUP BY key""".stripMargin)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val batch = graft.functions.Dedup.dedupAgainstIndexMd5(
          newDocs.toDF("doc_id", "text"), index, "text", "doc_id",
          shingleSize = 3, numHashes = 16, bands = 4, threshold = 0.3)
        .filter(col("is_dup"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(streamed == batch)
      assert(streamed.contains(10L) && streamed.contains(12L) && !streamed.contains(11L))
    } finally {
      q.stop(); index.unpersist()
    }
  }

  test("streaming ANN radius probe matches the batch index probe's candidate set") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (model, lists) = graft.functions.Similarity.buildIvfPqIndex(
      emb, "vec_id", "embedding", cellCount = 8, m = 4, ksub = 16)
    model.cache(); lists.cache()
    val queries = emb.select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // radius from the batch distance distribution so the set is
    // non-trivial in both directions (some matches, some exclusions)
    val batchAll = graft.functions.Similarity.annAgainstIndex(
      emb, "vec_id", "embedding", model, lists, k = 10000, nprobe = 2)
    val dists = batchAll.select("adist").collect().map(_.getDouble(0)).sorted
    val radius = dists(dists.length / 4)
    val batch = batchAll.filter(col("adist") <= radius)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty && batch.size < dists.length)
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    val out = StreamingOps.streamingAnnProbe(stream, model, lists,
      "vec_id", "embedding", maxDist = radius, nprobe = 2)
    val q = out.writeStream.format("memory").queryName("ann_probe_out")
      .outputMode("append").start()
    try {
      val (first, rest) = queries.splitAt(queries.length / 2)
      input.addData(first.toIndexedSeq)
      q.processAllAvailable()
      input.addData(rest.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT DISTINCT key, neighbor_id, adist FROM ann_probe_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        s"streaming radius set diverged: +${(streamed diff batch).take(3)} " +
          s"-${(batch diff streamed).take(3)}")
    } finally { q.stop(); model.unpersist(); lists.unpersist() }
  }

  test("streaming z-ordered append keeps the batch layout's file skipping") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, input_file_name}
    val dir = java.nio.file.Files.createTempDirectory("zstream").toString
    val rows = (0 until 10000).map(i => (i / 100, i % 100, i.toLong))
    val input = MemoryStream[(Int, Int, Long)]
    val sink = StreamingOps.streamingZOrderedWrite(
      s"$dir/z", Seq("x", "y"), mins = Seq(0.0, 0.0), maxs = Seq(99.0, 99.0),
      filesPerBatch = 8)
    val q = input.toDF().toDF("x", "y", "id")
      .writeStream.foreachBatch(sink).start()
    try {
      input.addData(rows.take(5000): _*)
      q.processAllAvailable()
      input.addData(rows.drop(5000): _*)
      q.processAllAvailable()
    } finally q.stop()
    val z = spark.read.parquet(s"$dir/z")
    // lossless across both appended batches
    assert(z.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 10000L).toSeq)
    def filesHit(f: org.apache.spark.sql.Column): Long =
      z.filter(f).select(input_file_name()).distinct().count()
    val total = z.select(input_file_name()).distinct().count()
    assert(total >= 8, s"expected at least 8 tile files, got $total")
    // the pinned anchors keep every batch on the SAME z-curve, so the
    // skipping invariants of the batch layout hold on the accumulated
    // table (each batch contributes its own <=8 tiles; bounds are the
    // batch spec's, scaled by the two appends)
    assert(filesHit(col("y") < 25) <= total * 5 / 8,
      s"y-slice should skip tiles, hit ${filesHit(col("y") < 25)} of $total")
    assert(filesHit(col("x") < 25 && col("y") < 25) <= 6,
      s"2-D box should read few tiles, hit ${filesHit(col("x") < 25 && col("y") < 25)} of $total")
  }

  test("streaming sharded write lands batch-identical shard partitions") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("shardstream").toString
    val input = MemoryStream[Long]
    val sink = StreamingOps.streamingShardedWrite(s"$dir/s", "doc_id", 8, "e0")
    val q = input.toDF().toDF("doc_id").writeStream.foreachBatch(sink).start()
    try {
      input.addData(0L until 60L: _*)
      q.processAllAvailable()
      input.addData(60L until 120L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/s")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard").toLong).toMap
    assert(got.size == 120) // lossless across appended batches
    // shard assignment bit-identical to the batch op for the same salt
    val batch = graft.functions.Sharding.shuffledShards(
        spark.range(120).toDF("doc_id"), "doc_id", nShards = 8, salt = "e0")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard")).toMap
    assert(got == batch)
    // on-disk layout is one directory per shard
    val dirs = new java.io.File(s"$dir/s").listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.subsetOf((0 until 8).map(s => s"shard=$s").toSet))
  }

  test("streaming url curation dedups pages and enforces the domain quota") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.functions.UrlOps
    def urls(ids: Seq[Long]): Seq[(Long, String)] = ids.map { i =>
      // 3 hub pages cycle + unique pages: hub.example gets many docs,
      // tiny.org two; tracking params make distinct raw urls collide
      if (i % 2 == 0) (i, s"https://hub.example/p${i % 6}?utm_source=s$i")
      else if (i < 20) (i, s"https://hub.example/q$i")
      else (i, s"http://tiny.org/r$i")
    }
    // single-batch parity: keep set == batch urlDedup + capPerDomain
    val oneDir = java.nio.file.Files.createTempDirectory("urlcur1").toString
    val in1 = MemoryStream[(Long, String)]
    val q1 = in1.toDF().toDF("doc_id", "url").writeStream
      .foreachBatch(StreamingOps.streamingUrlCuratedWrite(s"$oneDir/c", "url", "doc_id", 4, "e0"))
      .start()
    try { in1.addData(urls(0L until 24L): _*); q1.processAllAvailable() }
    finally q1.stop()
    val gotOne = spark.read.parquet(s"$oneDir/c")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val batchKeep = UrlOps.capPerDomain(
        UrlOps.urlDedup(urls(0L until 24L).toDF("doc_id", "url"), "url", "doc_id"),
        "url", "doc_id", maxDocs = 4, salt = "e0")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(gotOne == batchKeep)
    // multi-batch: accumulated state holds — no canonical dup ever lands
    // twice, per-domain count never exceeds the quota, earlier arrivals
    // are never evicted
    val dir = java.nio.file.Files.createTempDirectory("urlcur2").toString
    val in2 = MemoryStream[(Long, String)]
    val q2 = in2.toDF().toDF("doc_id", "url").writeStream
      .foreachBatch(StreamingOps.streamingUrlCuratedWrite(s"$dir/c", "url", "doc_id", 4, "e0"))
      .start()
    try {
      in2.addData(urls(0L until 12L): _*)
      q2.processAllAvailable()
      val afterB1 = spark.read.parquet(s"$dir/c")
        .collect().map(_.getAs[Long]("doc_id")).toSet
      in2.addData(urls(12L until 40L): _*) // re-sends of hub pages + new docs
      q2.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/c")
        .select(col("doc_id"), col("url_canon"), col("domain")).collect()
      val canons = rows.map(_.getString(1))
      assert(canons.distinct.length == canons.length, "a page landed twice")
      val perDom = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
      assert(perDom.values.forall(_ <= 4), s"quota exceeded: $perDom")
      assert(perDom("tiny.org") == 4) // batch 2 filled tiny.org's quota
      val finalIds = rows.map(_.getAs[Long]("doc_id")).toSet
      assert(afterB1.subsetOf(finalIds), "an earlier arrival was evicted")
    } finally q2.stop()
  }

  test("streaming degree monitor accumulates batch-identical degrees across batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[(Long, Long)]
    val out = StreamingOps.streamingDegreeMonitor(
      in.toDF().toDF("src", "dst"), "src", "dst", k = 3)
    val q = out.toDF().writeStream.format("memory").queryName("deg_out")
      .outputMode("update").start()
    // batch 1: star around 7 + an isolated pair + a self-loop (dropped)
    val b1 = Seq((7L, 1L), (7L, 2L), (2L, 7L), (5L, 6L), (9L, 9L))
    // batch 2: re-sent edge (multiplicity counts) + new node into the star
    val b2 = Seq((7L, 1L), (3L, 7L))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      val afterB1 = spark.sql(
        "SELECT node, degree, at_core_threshold FROM deg_out")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(afterB1(7L) == ((3L, true)), s"hub after b1: ${afterB1(7L)}")
      assert(afterB1(5L) == ((1L, false)) && !afterB1.contains(9L))
      in.addData(b2: _*); q.processAllAvailable()
      // LAST update per node = cumulative multigraph degree, equal to the
      // batch aggregate over b1 ++ b2 (self-loops dropped, both endpoints)
      val rows = spark.sql(
        "SELECT node, degree, at_core_threshold FROM deg_out").collect()
      val last = rows.groupBy(_.getLong(0)).view
        .mapValues(_.map(r => (r.getLong(1), r.getBoolean(2))).maxBy(_._1)).toMap
      val truth = (b1 ++ b2).filter(e => e._1 != e._2)
        .flatMap(e => Seq(e._1, e._2)).groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      assert(last.view.mapValues(_._1).toMap == truth,
        s"stream $last vs batch truth $truth")
      last.foreach { case (n, (d, flag)) => assert(flag == (d >= 3), s"flag at $n") }
    } finally q.stop()
  }

  test("streaming url curation holds null-url state across batches") {
    // null/unparseable urls canonicalize to null; the state joins are
    // plain equi-joins, so without the "" sentinel coalesce the null
    // group would dodge the cross-batch dedup anti-join forever and
    // draw a fresh quota allowance every micro-batch
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("urlcurnull").toString
    val in = MemoryStream[(Long, String)]
    def rows(ids: Seq[Long]): Seq[(Long, String)] =
      ids.map(i => (i, if (i % 2 == 0) null else s"http://ok.example/p$i"))
    val q = in.toDF().toDF("doc_id", "url").writeStream
      .foreachBatch(StreamingOps.streamingUrlCuratedWrite(s"$dir/c", "url", "doc_id", 3, "e0"))
      .start()
    try {
      in.addData(rows(0L until 8L): _*)
      q.processAllAvailable()
      in.addData(rows(8L until 16L): _*)
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(s"$dir/c")
      .select(col("doc_id"), col("url_canon"), col("domain")).collect()
    // all null urls share canonical "" — exactly one may ever land, and
    // batch 2's resend must be deduped against batch 1's landed state
    assert(landed.count(_.getString(1) == "") == 1,
      "null-url group landed more than once across batches")
    // quota holds per accumulated domain, sentinel group included
    val perDom = landed.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(perDom.values.forall(_ <= 3), s"quota exceeded across batches: $perDom")
  }

  test("stream-static broadcast join enriches events in flight") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{broadcast, col}
    val dim = Seq((1, "gold"), (2, "basic")).toDF("tier_id", "tier")
    val input = MemoryStream[(Long, Int)]
    val out = input.toDF().toDF("user_id", "tier_id")
      .join(broadcast(dim), Seq("tier_id"), "left")
    val q = out.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData((10L, 1), (11L, 2), (12L, 9)) // 9 has no dim row
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, tier FROM enrich_out")
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows == Map(10L -> Some("gold"), 11L -> Some("basic"), 12L -> None))
    } finally q.stop()
  }

  test("map-only text ops run unchanged inside a stream") {
    // piiRedact / deterministicSample are pure projections/filters — the
    // exact same Columns drive readStream pipelines with no state, no
    // watermark, no mode restrictions
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    graft.plans.GraftFunctions.register(spark)
    val uniVocab = Seq(
      graft.functions.UnigramTokenizer.UnigramPiece(1L, "pii", 3L, -1.0),
      graft.functions.UnigramTokenizer.UnigramPiece(2L, "no", 2L, -1.2))
    val out = graft.sources.Sampling.deterministicSample(
        stream, 1.0, Seq("doc_id"))
      .withColumn("text", graft.functions.TextOps.piiRedact(col("text")))
      .withColumn("n_tokens", graft.functions.TextOps.tokenCount(col("text")))
      // the unigram Viterbi token column is a pure projection too — the
      // trained model folds into the streaming plan as a constant
      .withColumn("n_pieces", org.apache.spark.sql.functions.size(
        graft.functions.UnigramTokenizer.unigramTokens(col("text"), uniVocab)))
    val q = out.writeStream.format("memory").queryName("textops_out")
      .outputMode("append").start()
    try {
      input.addData((1L, "write to admin@ex.example.org now"), (2L, "no pii"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, text, n_tokens FROM textops_out")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows(1L) == "write to [EMAIL] now" && rows(2L) == "no pii")
      val pieces = spark.sql("SELECT doc_id, n_pieces FROM textops_out")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // "no pii" normalizes to words [no, pii] -> pieces [no] [pii] = 2
      assert(pieces(2L) == 2)
    } finally q.stop()
  }

  test("streaming duplication monitor: per-window dup rate matches batch flags") {
    implicit val sqlCtx = spark.sqlContext
    val base = (" alpha beta gamma delta epsilon zeta eta theta iota kappa" * 5).trim
    val corpus = Seq(
      (1L, base),
      (2L, "the quick brown fox jumps over the lazy dog again and again and again"))
      .toDF("doc_id", "text")
    val index = graft.functions.Dedup.minhashIndexMd5(corpus, "text", "doc_id",
      shingleSize = 3, numHashes = 16, bands = 4).cache()
    val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val arrivals = Seq(
      (10L, base + " perturbed", t(5)),                       // near-dup
      (11L, "entirely novel content with zero shared shingle mass here ok", t(6)),
      (12L, base, t(7)),                                      // exact dup
      (13L, "another novel doc nothing shared with anything at all really", t(8)),
      // the alarm scenario: the SAME doc re-sent within the watermark —
      // each arrival must contribute its own dup flag (dedup is on
      // (key, ts), not key alone)
      (12L, base, t(9)))
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.streamingDuplicationMonitor(stream, index,
      "text", "doc_id", "ts", shingleSize = 3, numHashes = 16, bands = 4,
      threshold = 0.3, windowDuration = "1 hour", watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("dupmon_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      q.processAllAvailable()
      // a far-future arrival advances the watermark and closes 10:00
      input.addData((99L, "window closer doc", java.sql.Timestamp.valueOf("2024-01-01 15:00:00")))
      q.processAllAvailable()
      val r = spark.sql("SELECT * FROM dupmon_out WHERE n_docs > 0 ORDER BY window_start")
        .collect()(0)
      assert(r.getAs[Long]("n_docs") == 5)
      assert(r.getAs[Long]("n_dup_docs") == 3)
      assert(r.getAs[Double]("dup_rate") == 0.6)
      // batch parity: the same arrivals (per-row, re-arrival included)
      // through dedupAgainstIndexMd5 flag the same count
      val batchDups = graft.functions.Dedup.dedupAgainstIndexMd5(
          arrivals.map(a => (a._1, a._2)).toDF("doc_id", "text"), index,
          "text", "doc_id", shingleSize = 3, numHashes = 16, bands = 4,
          threshold = 0.3)
        .filter(col("is_dup")).count()
      assert(batchDups == 3)
    } finally { q.stop(); index.unpersist() }
  }

  test("streaming shard assigner: batch-identical shards, dense arrival positions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val out = StreamingOps.streamingShardAssigner(input.toDS(), nShards = 8, salt = "e0")
    val q = out.writeStream.format("memory").queryName("shards_out")
      .outputMode("append").start()
    try {
      input.addData(0L until 50L: _*)
      q.processAllAvailable()
      input.addData(50L until 100L: _*) // counter state persists across batches
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM shards_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got.size == 100)
      // shard assignment is bit-identical to the batch op (same salt)
      val batch = graft.functions.Sharding.shuffledShards(
          spark.range(100).toDF("doc_id"), "doc_id", nShards = 8, salt = "e0")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard")).toMap
      assert(got.view.mapValues(_._1).toMap == batch)
      // positions dense 0..k-1 within every shard
      got.values.groupBy(_._1).foreach { case (_, slots) =>
        assert(slots.map(_._2).toSeq.sorted == (0L until slots.size))
      }
    } finally q.stop()
  }

  test("sessionization closes sessions after the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = StreamingOps.sessionize(input.toDS(), gapMs = 10000L)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // two bursts 60s apart -> first session closes when the second arrives
      input.addData((1L, 1000L), (1L, 3000L), (1L, 8000L))
      q.processAllAvailable()
      input.addData((1L, 70000L), (1L, 72000L))
      q.processAllAvailable()
      val sessions = spark.sql("SELECT * FROM sessions").collect()
      assert(sessions.length == 1)
      val s = sessions(0)
      assert(s.getAs[Long]("startMs") == 1000L && s.getAs[Long]("endMs") == 8000L)
      assert(s.getAs[Long]("events") == 3L)
      assert(s.getAs[Double]("durationSec") == 7.0)
    } finally q.stop()
  }

  test("salted join spreads hot keys and preserves results") {
    import graft.sources.SkewJoin
    val fact = ((1 to 900).map(_ => (1L, "hot")) ++ (1 to 100).map(i => (i.toLong + 1, "cold")))
      .toDF("k", "tag")
    val dim = (1 to 101).map(i => (i.toLong, s"dim_$i")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewJoin.saltedJoin(fact, dim, Seq("k"), saltFactor = 4)
      .groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted("dim_1") == 900L)
  }

  test("real image decode: PNG round-trip features and distributed resize") {
    def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val d = Seq(
      (1L, pngBytes(8, 6, 0xFFFFFF)),   // white
      (2L, pngBytes(4, 4, 0x000000)),   // black
      (3L, "not an image".getBytes)
    ).toDF("id", "payload").repartition(2)
    val feats = Multimodal.imageFeatures(d, "id", "payload").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats(1L).getInt(1) == 8 && feats(1L).getInt(2) == 6)
    assert(feats(1L).getDouble(4) == 1.0) // all-white mean intensity
    assert(feats(2L).getDouble(4) == 0.0)
    assert(feats(3L).isNullAt(1)) // undecodable → NULL, no task failure
    val resized = Multimodal.resizeImages(d.filter(col("id") === 1), "payload", 3, 2)
    val rf = Multimodal.imageFeatures(resized, "id", "payload").collect()(0)
    assert(rf.getInt(1) == 3 && rf.getInt(2) == 2 && rf.getDouble(4) == 1.0)
  }

  test("real audio decode: WAV features from generated PCM") {
    def wavBytes(hz: Double, seconds: Double, rate: Float = 8000f): Array[Byte] = {
      val n = (rate * seconds).toInt
      val pcm = new Array[Byte](n * 2)
      val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach { i =>
        bb.putShort((math.sin(2 * math.Pi * hz * i / rate) * 16384).toShort)
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val d = Seq((1L, wavBytes(440, 0.5)), (2L, "junk".getBytes))
      .toDF("id", "payload")
    val feats = Multimodal.audioFeatures(d, "id", "payload").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(feats(1L).getInt(1) == 8000 && feats(1L).getInt(2) == 1)
    assert(math.abs(feats(1L).getLong(3) - 500L) <= 1) // ~500 ms
    // RMS of a 0.5-amplitude sine ≈ 0.5/√2
    assert(math.abs(feats(1L).getDouble(4) - 0.5 / math.sqrt(2)) < 0.01)
    assert(feats(2L).isNullAt(1))
  }

  test("multimodal feature extraction is partition-wise and deterministic") {
    val d = Seq((1L, "hello world"), (2L, ""), (3L, "abc"))
      .toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
      .repartition(2)
    val feats = Multimodal.extractFeatures(d, "doc_id", "payload", dim = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Float](2))).toMap
    assert(feats(1L)._1 == 11L && feats(2L)._1 == 0L && feats(3L)._1 == 3L)
    assert(feats(1L)._2.length == 4)
    // deterministic across runs
    val again = Multimodal.extractFeatures(d, "doc_id", "payload", dim = 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(again(1L) == feats(1L)._2)
  }

  test("frame sampling explodes deterministic byte slices") {
    val d = Seq((1L, Array.range(0, 100).map(_.toByte))).toDF("id", "payload")
    val frames = Multimodal.frameSampleStub(d, "payload", frames = 4).collect()
    assert(frames.length == 4)
    assert(frames.map(_.getAs[Int]("frame_idx")).sorted.toSeq == Seq(0, 1, 2, 3))
  }

  test("streaming line dedup keeps exactly the batch first-occurrence line set") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps
    val corpus = Seq(
      1L -> "header line\nunique to one\nshared footer",
      2L -> "header line\nunique to two\nshared footer",
      3L -> "completely original document\nno shared lines at all",
      4L -> "header line\nshared footer\nunique to four")
    // batch truth: lineDedup's keepers = first (key, pos) per line
    val batch = graft.functions.Dedup.lineDedup(
      corpus.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.streamingLineDedup(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id", "ts")
    val q = out.writeStream.format("memory").queryName("line_dedup_out")
      .outputMode("append").start()
    try {
      val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // arrival order = doc id order, one batch per doc pair — the
      // stream-order analog of the batch min(struct(key, pos))
      input.addData(corpus.take(2).zipWithIndex.map { case ((k, tx), i) => (k, tx, t(i)) }: _*)
      q.processAllAvailable()
      input.addData(corpus.drop(2).zipWithIndex.map { case ((k, tx), i) => (k, tx, t(10 + i)) }: _*)
      q.processAllAvailable()
      val kept = spark.sql("SELECT key, pos, line FROM line_dedup_out")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      // reassemble per doc exactly like batch lineDedup does
      val rebuilt = kept.groupBy(_._1).map { case (k, ls) =>
        k -> ls.sortBy(_._2).map(_._3).mkString("\n")
      }
      corpus.map(_._1).foreach { k =>
        assert(rebuilt.getOrElse(k, "") == batch(k),
          s"doc $k: stream '${rebuilt.getOrElse(k, "")}' != batch '${batch(k)}'")
      }
    } finally q.stop()
  }

  test("streaming duplicate-span flags merge to the batch span set") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps
    val boiler = (1 to 6).map(i => s"boiler$i").mkString(" ") // 6-token boilerplate
    val corpus = Seq(
      1L -> s"alpha beta gamma $boiler delta epsilon",
      2L -> s"zeta eta $boiler theta iota kappa",
      3L -> "nothing duplicated in this document at all whatsoever truly")
    val w = 4
    val batchSpans = graft.functions.Dedup.duplicateSpans(
      corpus.toDF("doc_id", "text"), "text", "doc_id", windowTokens = w, minDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchSpans.nonEmpty, "fixture must produce batch spans")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.streamingDuplicateSpanFlags(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
      windowTokens = w, minDocFreq = 2)
    val q = out.writeStream.format("memory").queryName("span_flags_out")
      .outputMode("append").start()
    try {
      val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData(corpus.zipWithIndex.map { case ((k, tx), i) => (k, tx, t(i)) }: _*)
      q.processAllAvailable()
      val flags = spark.sql("SELECT DISTINCT key, pos FROM span_flags_out")
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      // merge flags into maximal half-open spans — the batch interval merge
      val streamSpans = flags.groupBy(_._1).flatMap { case (k, ps) =>
        val sorted = ps.map(_._2).sorted
        val spans = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
        sorted.foreach { p =>
          spans.lastOption match {
            case Some((kk, s, e)) if p <= e => spans(spans.length - 1) = (kk, s, math.max(e, p + w))
            case _ => spans += ((k, p.toLong, (p + w).toLong))
          }
        }
        spans
      }.toSet
      assert(streamSpans == batchSpans, s"stream $streamSpans != batch $batchSpans")
    } finally q.stop()
  }

  test("streaming moment sketches merge bit-identically to the batch store") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps
    import graft.operators.SketchStore
    val t = (h: Int, m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val events = (0 until 600).map(i =>
      (t(10 + (i % 2), (i / 2) % 60), s"g${i % 3}", i * 0.017))
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val out = StreamingOps.streamingMomentSketches(
      input.toDF().toDF("ts", "g", "v"), "v", "ts",
      windowDuration = "1 hour", groupCols = Seq("g"))
    val q = out.writeStream.format("memory").queryName("mom_stream_out")
      .outputMode("complete").start()
    try {
      input.addData(events.take(300): _*)
      q.processAllAvailable()
      input.addData(events.drop(300): _*)
      q.processAllAvailable()
      // the window ships FLAT (window_start/window_end group columns),
      // so the emitted schema is a plain moment-store table — no struct
      // projection needed before appending to a saved table
      val outCols = spark.table("mom_stream_out").columns.toSeq
      assert(outCols == Seq("window_start", "window_end", "g", "n", "sum_x", "sum_x2"),
        s"unexpected streaming moment-store schema: $outCols")
      val streamed = spark.sql("SELECT g, n, sum_x, sum_x2 FROM mom_stream_out")
      assert(streamed.count() == 6) // 2 hours × 3 groups
      // rolling the stream-ingested rows up equals the batch store's
      // from-scratch answer EXACTLY (decimal merge)
      val viaStream = SketchStore.mergeMoments(streamed, Seq("g"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      val viaBatch = SketchStore.mergeMoments(
        SketchStore.momentSketches(
          events.toDF("ts", "g", "v").withColumn("b", lit(1)), Seq("g", "b"), "v"),
        Seq("g"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      assert(viaStream == viaBatch, s"\n$viaStream\n$viaBatch")
    } finally q.stop()
  }

  test("streaming HLL sketches union to the batch sketch-store estimate") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps
    import graft.operators.SketchStore
    // two event-time hours of values with cross-window duplicates
    val t = (h: Int, m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val events = (0 until 600).map(i => (t(10 + (i % 2), (i / 2) % 60), i % 377))
    val input = MemoryStream[(java.sql.Timestamp, Int)]
    val out = StreamingOps.streamingHllSketches(
      input.toDF().toDF("ts", "v"), "v", "ts", windowDuration = "1 hour")
    val q = out.writeStream.format("memory").queryName("hll_stream_out")
      .outputMode("complete").start()
    try {
      input.addData(events.take(300): _*)
      q.processAllAvailable()
      input.addData(events.drop(300): _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT window, sketch FROM hll_stream_out")
      assert(streamed.count() == 2) // one sketch per event-time hour
      // union of the streaming per-window sketches == batch whole-table
      // sketch estimate (merge is exact over sketch state)
      val streamEst = SketchStore.unionEstimate(streamed).first().getLong(0)
      val batchEst = SketchStore.unionEstimate(
        SketchStore.hllSketches(
          events.toDF("ts", "v").withColumn("g", lit("all")), Seq("g"), "v"))
        .first().getLong(0)
      assert(streamEst == batchEst, s"stream $streamEst != batch $batchEst")
      assert(math.abs(streamEst - 377.0) / 377.0 < 0.05)
    } finally q.stop()
  }

  test("streaming span flags: occ cap cannot starve the distinct-doc decision") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingOps
    val boiler = "b1 b2 b3 b4"
    // doc 1 repeats the window 3 times — more occurrences than the cap —
    // then doc 2 carries it once; the window must STILL flag
    val corpus = Seq(
      1L -> s"$boiler x1 $boiler x2 $boiler",
      2L -> s"prefix tokens here $boiler")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.streamingDuplicateSpanFlags(
      input.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
      windowTokens = 4, minDocFreq = 2, maxOccState = 2)
    val q = out.writeStream.format("memory").queryName("span_cap_out")
      .outputMode("append").start()
    try {
      val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData((1L, corpus(0)._2, t(0)))
      q.processAllAvailable()
      input.addData((2L, corpus(1)._2, t(5)))
      q.processAllAvailable()
      val flags = spark.sql("SELECT DISTINCT key, pos FROM span_cap_out")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      // doc 2's occurrence flags even though the occ list was full, and
      // the capped stored occurrences flush
      assert(flags.exists(_._1 == 2L), s"doc 2 never flagged: $flags")
      assert(flags.exists(_._1 == 1L), s"doc 1's stored occs never flushed: $flags")
    } finally q.stop()
  }

  test("MJPEG demux survives corrupt near-2^31 chunk sizes without throwing") {
    // RIFF/AVI header + a chunk whose size field is huge: Int arithmetic
    // would overflow past the bounds check and throw from copyOfRange
    val bb = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(56)
    bb.put("AVI ".getBytes("US-ASCII"))
    bb.put("00dc".getBytes("US-ASCII")); bb.putInt(0x7FFFFFF0) // absurd frame size
    val corrupt = bb.array()
    assert(Multimodal.demuxMjpegAvi(corrupt).isEmpty) // rejected, not thrown
    // a valid header with an empty movi yields a frameless video, and
    // videoFeatures must emit the all-null row (key never vanishes)
    val headerOnly = Multimodal.muxMjpegAvi(Seq(jpegGray(8, 8, 10)), 8, 8)
    val v = Multimodal.demuxMjpegAvi(headerOnly).get
    assert(v.frames.nonEmpty)
    import spark.implicits._
    val empt = {
      // strip the movi frames by truncating right after hdrl: simplest
      // frameless-but-valid payload is header + empty movi LIST
      val bos = new java.io.ByteArrayOutputStream()
      def cc(s: String) = s.getBytes("US-ASCII")
      def le(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
      val avih = Array.fill[Byte](56)(0)
      val hdrl = cc("LIST") ++ le(4 + 8 + 56) ++ cc("hdrl") ++ cc("avih") ++ le(56) ++ avih
      val movi = cc("LIST") ++ le(4) ++ cc("movi")
      val body = cc("AVI ") ++ hdrl ++ movi
      bos.write(cc("RIFF")); bos.write(le(body.length)); bos.write(body)
      bos.toByteArray
    }
    val d = Seq((7L, empt)).toDF("id", "payload")
    val rows = Multimodal.videoFeatures(d, "id", "payload").collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 7L && rows(0).isNullAt(1))
  }

  private def jpegGray(w: Int, h: Int, g: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (g << 16) | (g << 8) | g
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  test("MJPEG-AVI mux → demux round-trips frames byte-identically") {
    val frames = Seq(jpegGray(16, 8, 40), jpegGray(16, 8, 200), jpegGray(16, 8, 127))
    val avi = Multimodal.muxMjpegAvi(frames, 16, 8, fps = 10)
    // container sanity: RIFF/AVI magic
    assert(new String(avi.take(4), "US-ASCII") == "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    val v = Multimodal.demuxMjpegAvi(avi).get
    assert(v.width == 16 && v.height == 8)
    assert(v.usPerFrame == 100000L) // 10 fps
    assert(v.frames.length == 3)
    v.frames.zip(frames).foreach { case (got, want) =>
      assert(java.util.Arrays.equals(got, want)) // demux is byte-exact
    }
    // junk and truncated payloads are rejections, not exceptions
    assert(Multimodal.demuxMjpegAvi("not a riff file at all".getBytes).isEmpty)
    assert(Multimodal.demuxMjpegAvi(null).isEmpty)
    val truncated = avi.take(avi.length / 2)
    Multimodal.demuxMjpegAvi(truncated) // must not throw; partial frames ok
  }

  test("videoFeatures decodes MJPEG frames distributed, with stride and null safety") {
    val avi1 = Multimodal.muxMjpegAvi(
      (0 until 4).map(i => jpegGray(32, 24, 50 * i)), 32, 24, fps = 25)
    val d = Seq((1L, avi1), (2L, "junk video".getBytes))
      .toDF("id", "payload").repartition(2)
    val rows = Multimodal.videoFeatures(d, "id", "payload").collect()
    val byKey = rows.groupBy(_.getLong(0))
    assert(byKey(1L).length == 4)
    byKey(1L).sortBy(_.getInt(1)).zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(1) == i && r.getInt(2) == 4)
      assert(r.getDouble(3) == 25.0)
      assert(r.getInt(4) == 32 && r.getInt(5) == 24)     // container dims
      assert(r.getInt(6) == 32 && r.getInt(7) == 24)     // decoded frame dims
      // uniform gray survives JPEG quantization exactly
      assert(r.getDouble(8) == (50 * i) / 255.0)
    }
    assert(byKey(2L).length == 1 && byKey(2L).head.isNullAt(1)) // undemuxable → null row
    // stride subsamples every k-th frame
    val strided = Multimodal.videoFeatures(d.filter(col("id") === 1L), "id", "payload",
      frameStride = 2).collect()
    assert(strided.map(_.getInt(1)).sorted.toSeq == Seq(0, 2))
  }

  test("PCA latent features reduce dimensionality deterministically") {
    val rnd = new scala.util.Random(3)
    val d = (1 to 200).map { _ =>
      val base = rnd.nextGaussian()
      (base + 0.01 * rnd.nextGaussian(), 2 * base + 0.01 * rnd.nextGaussian(),
        -base + 0.01 * rnd.nextGaussian())
    }.toDF("a", "b", "c")
    val out = LatentFeatures.pcaLatentFeatures(d, Seq("a", "b", "c"), 0.95)
    // one strongly-correlated factor → a single latent survives
    assert(out.columns.count(_.startsWith("latent_")) == 1)
    assert(out.count() == 200)
  }

  test("streaming simhash near-dup candidates find planted pairs across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.streamingNearDupCandidates(
      stream, "text", "doc_id", "ts", watermarkMs = 3600 * 1000L)
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
      input.addData(
        (1L, base, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
        (2L, "completely unrelated content about database query optimization and join plans",
          java.sql.Timestamp.valueOf("2024-01-01 10:01:00")))
      q.processAllAvailable()
      input.addData( // near-dup (here: identical text, hamming 0 — a short
        // doc with even one token changed flips > 3 of the 60 vote bits,
        // so the deterministic planted pair uses an exact copy) of doc 1
        // arriving in a LATER batch: found via bucket state, not a join
        (3L, base, java.sql.Timestamp.valueOf("2024-01-01 10:10:00")))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT DISTINCT key_1, key_2, hamming FROM neardup_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(pairs.exists { case (a, b, h) => a == 1L && b == 3L && h == 0 },
        s"planted pair missing: ${pairs.toSeq}")
      assert(!pairs.exists { case (a, b, _) => b == 2L || a == 2L },
        s"unrelated doc flagged: ${pairs.toSeq}")
      // the row-local signature equals the batch simhash aggregate
      import spark.implicits._
      val batchSig = graft.functions.Dedup.simhashMd5(
        Seq((1L, base)).toDF("doc_id", "text"), "text", "doc_id")
        .collect()(0).getLong(1)
      val rowSig = graft.functions.Dedup.simhashMd5Local(base)
      assert(batchSig == rowSig)
    } finally q.stop()
  }

  test("streaming minhash candidates equal the batch band-bucket candidate set") {
    implicit val sqlCtx = spark.sqlContext
    // corpus with planted near-dups: shared long preambles put copies in
    // the same band buckets; distinct tails keep unrelated docs apart
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
    val corpus = Seq(
      1L -> (base + " one extra tail"),
      2L -> (base + " two extra tail"),
      3L -> "totally different document about spark catalyst optimizer rules and codegen stages",
      4L -> (base + " one extra tail"), // exact copy of 1's text
      5L -> "another unrelated text mentioning parquet predicate pushdown and column pruning")
    // batch candidate set over the SAME signature + banding machinery
    val batchSig = graft.functions.Dedup.minhashSignaturesMd5(
      graft.functions.Dedup.shingles(
        corpus.toDF("doc_id", "text"), "text", "doc_id", 3), 16)
    val batchPairs = graft.functions.Dedup
      .md5BandCandidates(batchSig, numHashes = 16, bands = 4, maxBucketSize = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.nonEmpty, "fixture must produce batch candidates")
    assert(batchPairs.forall { case (a, b) => !Set(a, b).contains(3L) && !Set(a, b).contains(5L) })
    // stream the same corpus across two micro-batches
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = input.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.streamingMinhashCandidates(
      stream, "text", "doc_id", "ts", watermarkMs = 3600 * 1000L)
    val q = out.writeStream.format("memory").queryName("minhash_stream_out")
      .outputMode("append").start()
    try {
      val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData(corpus.take(3).zipWithIndex.map { case ((k, tx), i) => (k, tx, t(i)) }: _*)
      q.processAllAvailable()
      input.addData(corpus.drop(3).zipWithIndex.map { case ((k, tx), i) => (k, tx, t(10 + i)) }: _*)
      q.processAllAvailable()
      val streamPairs = spark.sql("SELECT DISTINCT key_1, key_2 FROM minhash_stream_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamPairs == batchPairs,
        s"stream $streamPairs != batch $batchPairs")
      // the row-local signature equals the batch groupBy aggregate
      val aggSig = batchSig.filter(col("key") === 1L).collect()(0)
      val localSig = graft.functions.Dedup.minhashSignatureMd5Local(corpus.head._2, 3, 16)
      assert((0 until 16).forall(i => aggSig.getLong(i + 1) == localSig(i)))
    } finally q.stop()
  }

  test("streaming semantic candidates match the batch per-cell pair scoring") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Similarity
    // two tight blobs along different axes + one planted near-dup per
    // blob; centers come from a batch quantized-Lloyd fit on the corpus
    val dim = 8
    val vecs: Seq[(Long, Array[Float])] = (0 until 12).map { i =>
      val v = Array.fill(dim)(0.01f * ((i * 7) % 5))
      if (i < 6) v(0) = 1f else v(1) = 1f
      (i.toLong, v)
    }
    val centers = Similarity.localKMeans(
      vecs.map(_._2.map(_.toDouble)).toArray, 2, 42L, 5, 4)
    // batch expectation: same assignment loop + dotF/normF cosine
    def cell(v: Array[Float]): Int =
      centers.zipWithIndex.minBy { case (c, ci) =>
        (v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, ci)
      }._2
    val expected = (for {
      (k1, v1) <- vecs; (k2, v2) <- vecs
      if k1 < k2 && cell(v1) == cell(v2)
      cos = Similarity.dotF(v1, v2) / (Similarity.normF(v1) * Similarity.normF(v2))
      if BigDecimal(cos).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.9
    } yield (k1, k2)).toSet
    assert(expected.nonEmpty, "fixture must produce batch candidates")
    assert(expected.forall { case (a, b) => (a < 6) == (b < 6) },
      "cross-blob pairs must not appear")

    val input = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)]
    val stream = input.toDF().toDF("vec_id", "embedding", "ts")
    val out = StreamingOps.streamingSemanticCandidates(
      stream, "embedding", "vec_id", "ts", centers, threshold = 0.9,
      watermarkMs = 3600 * 1000L)
    val q = out.writeStream.format("memory").queryName("sem_stream_out")
      .outputMode("append").start()
    try {
      val t = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData(vecs.take(7).zipWithIndex.map { case ((k, v), i) => (k, v.toSeq, t(i)) }: _*)
      q.processAllAvailable()
      input.addData(vecs.drop(7).zipWithIndex.map { case ((k, v), i) => (k, v.toSeq, t(10 + i)) }: _*)
      q.processAllAvailable()
      // the exact grid filter is the consumer's job (the stream keeps a
      // 1e-3 slack under the threshold, like the batch pre-filter)
      val streamPairs = spark.sql(
        "SELECT DISTINCT key_1, key_2 FROM sem_stream_out WHERE round(cos, 4) >= 0.9")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamPairs == expected, s"stream $streamPairs != batch $expected")
      // at-least-once replay: re-delivering a vector must not add pairs
      val before = spark.sql("SELECT count(*) FROM sem_stream_out").first().getLong(0)
      input.addData((vecs.head._1, vecs.head._2.toSeq,
        java.sql.Timestamp.valueOf("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val streamPairs2 = spark.sql(
        "SELECT DISTINCT key_1, key_2 FROM sem_stream_out WHERE round(cos, 4) >= 0.9")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamPairs2 == expected, s"replay changed the pair set: $streamPairs2")
      assert(before >= 0L) // (replay may re-emit rows; the SET must not change)
    } finally q.stop()
  }

  test("misra-gries heavy hitters aggregate runs in a streaming aggregation") {
    implicit val sqlCtx = spark.sqlContext
    graft.plans.GraftFunctions.register(spark)
    val input = MemoryStream[String]
    val agg = input.toDF().toDF("tok")
      .agg(org.apache.spark.sql.functions.expr("misra_gries(tok, 16)").as("hh"))
    val q = agg.writeStream.format("memory").queryName("hh_out")
      .outputMode("complete").start()
    try {
      input.addData(Seq.fill(5)("a") ++ Seq.fill(3)("b"): _*)
      q.processAllAvailable()
      input.addData(Seq.fill(2)("a") ++ Seq.fill(4)("c"): _*)
      q.processAllAvailable()
      val m = spark.sql("SELECT hh FROM hh_out").collect().head
        .getMap[String, Long](0)
      // distinct (3) <= k (16) → exact across incremental batches
      assert(m.toMap == Map("a" -> 7L, "b" -> 3L, "c" -> 4L), s"got $m")
    } finally q.stop()
  }

  test("linear autoencoder reconstructs a one-factor frame (RMSE-gated)") {
    val rnd = new scala.util.Random(7)
    val d = (1 to 300).map { _ =>
      val base = rnd.nextGaussian()
      (base + 0.05 * rnd.nextGaussian(), 2 * base + 0.05 * rnd.nextGaussian(),
        -base + 0.05 * rnd.nextGaussian())
    }.toDF("a", "b", "c")
    val m = LatentFeatures.fitLinearAutoencoder(d, Seq("a", "b", "c"), latentDim = 1)
    // one latent dim must capture the single shared factor: standardized
    // reconstruction RMSE far below the 1.0 of predicting the mean
    assert(m.trainRmse < 0.25, s"reconstruction RMSE too high: ${m.trainRmse}")
    val out = LatentFeatures.autoencoderLatentFeatures(d, Seq("a", "b", "c"), latentDim = 1)
    assert(out.columns.count(_.startsWith("latent_")) == 1)
    assert(out.count() == 300)
    // determinism: the same seed refits to identical latents
    val again = LatentFeatures.autoencoderLatentFeatures(d, Seq("a", "b", "c"), latentDim = 1)
    assert(out.select("latent_0").collect().toSeq ==
      again.select("latent_0").collect().toSeq)

    // deterministic closed-form sibling: same one-factor frame, the
    // eigenbasis bottleneck must reconstruct with comparable quality
    // (the GD solver converges TOWARD this optimum) and be exactly
    // partition-invariant, latents and reconstructions both
    val det = LatentFeatures.autoencoderDeterministic(
      d, Seq("a", "b", "c"), latentDim = 1, keepOriginal = true)
    assert(det.columns.count(_.startsWith("recon_")) == 3)
    val rmse = det.select(
      sqrt(avg(pow(col("a") - col("recon_a"), 2) +
        pow(col("b") - col("recon_b"), 2) +
        pow(col("c") - col("recon_c"), 2))).cast("double")).first().getDouble(0)
    assert(rmse < 0.25, s"closed-form reconstruction RMSE too high: $rmse")
    val det2 = LatentFeatures.autoencoderDeterministic(
      d.repartition(7), Seq("a", "b", "c"), latentDim = 1, keepOriginal = true)
    assert(det.select("latent_0", "recon_a", "recon_b", "recon_c")
      .collect().toSet ==
      det2.select("latent_0", "recon_a", "recon_b", "recon_c").collect().toSet)
  }

  test("ALS imputation fills masked cells near their true values") {
    val users = (0 until 60).map { u =>
      val base = (u % 6 + 1).toDouble
      (u.toLong, base, base * 2, base * 3)
    }
    val d = users.toDF("uid", "m1", "m2", "m3")
      .withColumn("m2", when(col("uid") % 7 === 0, lit(null)).otherwise(col("m2")))
    val filled = LatentFeatures.imputationMatrixFactorization(
      d, "uid", Seq("m1", "m2", "m3"), rank = 3, maxIter = 10)
    assert(filled.filter(col("m2").isNull).count() == 0)
    val err = filled.withColumn("true_m2", col("m1") * 2)
      .filter(col("uid") % 7 === 0)
      .agg(avg(abs(col("m2") - col("true_m2")))).first().getDouble(0)
    assert(err < 1.5, s"ALS imputation error too high: $err")
  }

  test("auto-imputation prefers the better fill and reports RMSEs") {
    val rnd = new scala.util.Random(11)
    val d = (1 to 500).map(_ => rnd.nextGaussian() * 10 + 100).toDF("x")
    val (best, rmses) = LatentFeatures.autoImputation(d, Seq("x"), nullPct = 0.2)
    assert(rmses.keySet == Set("mean", "median"))
    assert(rmses.values.forall(v => v > 0 && v < 30))
    assert(Seq("mean", "median").contains(best))
  }
}
