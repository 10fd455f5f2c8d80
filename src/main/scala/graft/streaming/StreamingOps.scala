package graft.streaming

import graft.plans.GraftFunctions
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the batch operators — beyond the
  * reference (which is batch-only, SURVEY.md §2.13) but core to a
  * production feature pipeline: the same aggregations over an unbounded
  * events stream with event-time windows + watermarks, and custom
  * per-key state via mapGroupsWithState.
  */
object StreamingOps {

  /** Streaming counterpart of DatetimeOps.aggregator: event-time windowed
    * aggregates with a watermark bounding state. Works on any streaming
    * DataFrame with (tsCol, valueCol).
    */
  def streamingAggregator(
      stream: DataFrame,
      tsCol: String,
      valueCol: String,
      windowDuration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("sum_value"),
        avg(col(valueCol)).as("mean_value"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"))
      .select(col("window.start").as("window_start"), col("*")).drop("window")

  /** Streaming missing/quality monitor: per window, null & invalid rates
    * for the given columns (streaming variant of missingCount).
    */
  def streamingQualityMonitor(
      stream: DataFrame,
      tsCol: String,
      cols: Seq[String],
      windowDuration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"rows__$c"),
        count(when(col(c).isNull, 1)).as(s"missing__$c"))
    }
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming encoding-health monitor — the windowed twin of
    * [[graft.functions.TextOps.encodingQuality]]: per event-time window,
    * document counts, corrupted-document counts per signal class
    * (U+FFFD replacement chars / C0 controls / mojibake digraphs), and
    * the total signal volume. The ingest-side alarm that a crawl source
    * started emitting mis-decoded bytes. Map-only codegen'd signals +
    * one windowed aggregation; the watermark bounds state.
    */
  def streamingEncodingMonitor(
      stream: DataFrame,
      textCol: String,
      tsCol: String,
      windowDuration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    import graft.functions.TextOps._
    val t = col(textCol)
    stream.withWatermark(tsCol, watermark)
      .select(col(tsCol),
        encodingSignal(t, replacementRe, 1).as("__r"),
        encodingSignal(t, controlRe, 1).as("__c"),
        encodingSignal(t, mojibakeRe, 2).as("__m"))
      .groupBy(window(col(tsCol), windowDuration))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("__r") > 0, 1)).as("docs_replacement"),
        count(when(col("__c") > 0, 1)).as("docs_control"),
        count(when(col("__m") > 0, 1)).as("docs_mojibake"),
        sum(col("__r") + col("__c") + col("__m")).as("total_signals"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_docs"),
        col("docs_replacement"), col("docs_control"), col("docs_mojibake"),
        col("total_signals"))
  }

  /** Streaming exact dedup: keep the first row per normalized-text
    * fingerprint, with the watermark bounding the dedup state (documents
    * arriving later than the watermark behind a seen duplicate pass
    * through — the standard unbounded-state trade). The batch counterpart
    * is Dedup.exactDedup; at scale the state store holds one fingerprint
    * per distinct doc inside the watermark horizon, not the corpus.
    */
  /** Streaming token-budget monitor over a PRE-TRAINED tokenizer: each
    * micro-batch encodes with the broadcast piece vocabulary via the
    * map-only greedy segmenter (no shuffle, no refit — the model comes
    * from a batch train saved through ModelStore.loadBpeMerges /
    * loadWordPieceMerges), and windowed aggregates track the corpus
    * token budget as it accumulates — the number every pretraining
    * ingestion dashboard watches. Batch twin: the same piece_encode +
    * window aggregation over the static frame.
    */
  def streamingTokenBudgetMonitor(
      stream: DataFrame,
      textCol: String,
      tsCol: String,
      vocab: Seq[String],
      windowDuration: String = "1 hour",
      watermark: String = "2 hours",
      maxWordLen: Int = 32): DataFrame = {
    require(vocab.nonEmpty, "piece vocabulary must be non-empty")
    // same guard as BpeTokenizer.pieceEncode: the vocab ships as a
    // newline-joined plan literal, so a piece with a space or embedded
    // newline would silently shred into bogus pieces on the stream
    require(vocab.forall(p => p.nonEmpty && !p.contains("\n") && !p.contains(" ")),
      "pieces must be non-empty and free of newlines/spaces")
    val fullVocab = if (vocab.contains("</w>")) vocab else vocab :+ "</w>"
    val toks = GraftFunctions.pieceEncode(
      graft.functions.TextOps.normalizeText(col(textCol)),
      fullVocab.mkString("\n"), maxWordLen)
    stream.withWatermark(tsCol, watermark)
      .select(col(tsCol), size(toks).as("__n"))
      .groupBy(window(col(tsCol), windowDuration))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n").cast("long")).as("n_tokens"),
        max(col("__n").cast("long")).as("max_doc_tokens"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_docs"), col("n_tokens"), col("max_doc_tokens"))
  }

  def streamingExactDedup(
      stream: DataFrame,
      textCol: String,
      tsCol: String,
      watermark: String = "2 hours"): DataFrame =
    stream
      .withColumn("__fp", graft.functions.TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  final case class NearDupCandidate(key_1: Long, key_2: Long, hamming: Int)

  /** Streaming SimHash near-duplicate candidates — the streaming twin of
    * Dedup.simhashNearDuplicatesMd5. Per row the 60-bit md5 fingerprint
    * is computed locally (Dedup.simhashMd5Local — bit-identical to the
    * batch `simhash_votes` aggregate, no per-doc shuffle); each doc fans
    * out to its four 15-bit chunk buckets (any pair within hamming ≤ 3
    * shares at least one chunk), and a per-bucket keyed state holds the
    * signatures seen inside the watermark horizon. A new doc emits a
    * candidate pair for every stored signature within `maxHamming`;
    * state is pruned by the event-time watermark, capped at
    * `maxBucketState` per bucket (the batch path's skew cap), and
    * dropped wholesale via event-time timeout once a bucket goes quiet
    * past the horizon.
    *
    * Output is the CANDIDATE pair stream: a pair surfacing through two
    * shared chunks appears twice (dedup downstream — the batch verify
    * path does the same `.distinct()`).
    */
  def streamingNearDupCandidates(
      stream: DataFrame,
      textCol: String,
      keyCol: String,
      tsCol: String,
      watermarkMs: Long = 2L * 3600 * 1000,
      maxHamming: Int = 3,
      maxBucketState: Int = 200): Dataset[NearDupCandidate] = {
    import stream.sparkSession.implicits._
    val sigUdf = udf { text: String => graft.functions.Dedup.simhashMd5Local(text) }
    val bits = graft.functions.Dedup.simhashChunkBits
    val chunkCols = (0 until graft.functions.Dedup.simhashChunks).map(i =>
      shiftrightunsigned(col("__sig"), i * bits).bitwiseAND(lit((1L << bits) - 1)) +
        lit(i.toLong << bits))
    val fanned = stream
      .withColumn("__sig", sigUdf(col(textCol)))
      .withWatermark(tsCol, s"$watermarkMs milliseconds")
      .select(explode(array(chunkCols: _*)).as("__bucket"),
        col(keyCol).cast("long").as("__key"), col("__sig"),
        col(tsCol)) // no cast/alias: it would strip the watermark metadata
      .as[(Long, Long, Long, java.sql.Timestamp)]
    fanned.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, Long)], NearDupCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[List[(Long, Long, Long)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val horizon = state.getCurrentWatermarkMs()
            var entries = state.getOption.getOrElse(Nil).filter(_._3 >= horizon)
            val out = scala.collection.mutable.ListBuffer.empty[NearDupCandidate]
            // deterministic intra-batch order: event time, then key
            rows.toSeq.sortBy(r => (r._4.getTime, r._2)).foreach { case (_, k, sig, ts) =>
              entries.foreach { case (k2, sig2, _) =>
                if (k2 != k) {
                  val ham = java.lang.Long.bitCount(sig ^ sig2)
                  if (ham <= maxHamming)
                    out += NearDupCandidate(math.min(k, k2), math.max(k, k2), ham)
                }
              }
              if (entries.size < maxBucketState) entries = (k, sig, ts.getTime) :: entries
            }
            state.update(entries)
            if (entries.nonEmpty)
              state.setTimeoutTimestamp(entries.map(_._3).max + watermarkMs)
            out.iterator
          }
      }
  }

  final case class MinhashCandidate(key_1: Long, key_2: Long)

  /** Streaming MinHash(md5) near-duplicate candidates — the streaming
    * twin of the batch `Dedup.minhashNearDuplicatesMd5` candidate step.
    * Per row the full h-signature is computed locally
    * (Dedup.minhashSignatureMd5Local — bit-identical to the batch
    * groupBy aggregate, no per-shingle shuffle); each doc fans out to
    * its `bands` band buckets keyed by the band's RAW signature values
    * (same bucket identity as the batch path), and a per-bucket keyed
    * state holds the keys seen inside the watermark horizon. A new doc
    * emits a candidate pair for every stored key; state is pruned by
    * the event-time watermark and dropped wholesale via event-time
    * timeout once a bucket goes quiet past the horizon.
    *
    * Output is the CANDIDATE pair stream (dedup + Jaccard-verify
    * downstream, exactly like the batch pipeline). Divergence from
    * batch under skew: the batch path drops an OVERSIZED bucket's pairs
    * entirely (global size known up front); the stream caps the per-
    * bucket state at `maxBucketState` keys instead — the first cap
    * keys keep pairing, later arrivals in that bucket only probe.
    */
  def streamingMinhashCandidates(
      stream: DataFrame,
      textCol: String,
      keyCol: String,
      tsCol: String,
      watermarkMs: Long = 2L * 3600 * 1000,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucketState: Int = 200): Dataset[MinhashCandidate] = {
    import stream.sparkSession.implicits._
    graft.functions.Dedup.checkBanding(numHashes, bands)
    val rowsPerBand = numHashes / bands
    val bucketsUdf = udf { text: String =>
      val sig = graft.functions.Dedup.minhashSignatureMd5Local(text, shingleSize, numHashes)
      if (sig == null) null
      else Array.tabulate(bands)(b =>
        b + ":" + sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand).mkString(","))
    }
    val fanned = stream
      .withColumn("__buckets", bucketsUdf(col(textCol)))
      .filter(col("__buckets").isNotNull)
      .withWatermark(tsCol, s"$watermarkMs milliseconds")
      .select(explode(col("__buckets")).as("__bucket"),
        col(keyCol).cast("long").as("__key"),
        col(tsCol)) // no cast/alias: it would strip the watermark metadata
      .as[(String, Long, java.sql.Timestamp)]
    fanned.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long)], MinhashCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[List[(Long, Long)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val horizon = state.getCurrentWatermarkMs()
            var entries = state.getOption.getOrElse(Nil).filter(_._2 >= horizon)
            val out = scala.collection.mutable.ListBuffer.empty[MinhashCandidate]
            // deterministic intra-batch order: event time, then key
            rows.toSeq.sortBy(r => (r._3.getTime, r._2)).foreach { case (_, k, ts) =>
              entries.foreach { case (k2, _) =>
                if (k2 != k)
                  out += MinhashCandidate(math.min(k, k2), math.max(k, k2))
              }
              if (entries.size < maxBucketState) entries = (k, ts.getTime) :: entries
            }
            state.update(entries)
            if (entries.nonEmpty)
              state.setTimeoutTimestamp(entries.map(_._2).max + watermarkMs)
            out.iterator
          }
      }
  }

  final case class SemanticCandidate(key_1: Long, key_2: Long, cos: Double)

  /** Streaming SemDeDup candidate pairs — the streaming twin of the
    * batch [[graft.functions.Similarity.semanticDedup]] pair stage.
    * Cell centers come from a BATCH quantized-Lloyd fit (the coarse
    * quantizer is fit offline, exactly like an IVF index build); each
    * arriving vector assigns map-side to its nearest center (same
    * ascending-tie loop and float→double widening as batch), and a
    * per-cell keyed state holds (key, vector, norm) inside the
    * watermark horizon — norms computed ONCE on arrival, the same
    * precompute the batch path uses. A new vector emits
    * (minKey, maxKey, cos) for every stored partner whose cosine clears
    * the batch path's 1e-3 slack under `threshold`; cosines are the
    * shared dotF/normF numerics, so applying the exact
    * round(cos, 4) ≥ threshold filter downstream lands on the batch
    * grid precisely (an unslacked raw cut here would silently drop
    * boundary pairs the grid rounds up). A re-delivered key REPLACES
    * its stale entry (at-least-once sources must not inflate state or
    * re-emit pairs against duplicates). State caps at `maxCellState`
    * per cell (first-seen keep pairing, later arrivals only probe —
    * the streaming analog of the batch id-ranked cell cap).
    */
  def streamingSemanticCandidates(
      stream: DataFrame,
      vecCol: String,
      keyCol: String,
      tsCol: String,
      centers: Array[Array[Double]],
      threshold: Double = 0.95,
      watermarkMs: Long = 2L * 3600 * 1000,
      maxCellState: Int = 10000): Dataset[SemanticCandidate] = {
    import stream.sparkSession.implicits._
    val bc = stream.sparkSession.sparkContext.broadcast(centers)
    val cellUdf = udf { v: Seq[Float] =>
      graft.functions.Similarity.nearestCell(v.toArray, bc.value)
    }
    val assigned = stream
      .withWatermark(tsCol, s"$watermarkMs milliseconds")
      .select(cellUdf(col(vecCol)).as("__cell"),
        col(keyCol).cast("long").as("__key"), col(vecCol).as("__v"),
        col(tsCol)) // no cast/alias: it would strip the watermark metadata
      .as[(Int, Long, Array[Float], java.sql.Timestamp)]
    assigned.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Array[Float], Double, Long)], SemanticCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Int, rows: Iterator[(Int, Long, Array[Float], java.sql.Timestamp)],
         state: GroupState[List[(Long, Array[Float], Double, Long)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val horizon = state.getCurrentWatermarkMs()
            var entries = state.getOption.getOrElse(Nil).filter(_._4 >= horizon)
            val out = scala.collection.mutable.ListBuffer.empty[SemanticCandidate]
            // deterministic intra-batch order: event time, then key
            rows.toSeq.sortBy(r => (r._4.getTime, r._2)).foreach { case (_, k, v, ts) =>
              val nv = graft.functions.Similarity.normF(v)
              // at-least-once sources re-deliver: an UNCHANGED redelivery
              // must not re-emit its full pair set (Append-mode consumers
              // would see duplicate rows); only probe when the key is new
              // or its vector actually changed. Either way the stored
              // entry is refreshed below so state never inflates.
              val unchanged = entries.exists { case (k2, v2, _, _) =>
                k2 == k && java.util.Arrays.equals(v, v2)
              }
              if (!unchanged) {
                entries.foreach { case (k2, v2, n2, _) =>
                  if (k2 != k) {
                    val cos = graft.functions.Similarity.dotF(v, v2) / (nv * n2)
                    // same 1e-3 slack as the batch pre-filter: a raw >=
                    // threshold cut would drop boundary pairs that the
                    // 4-dp HALF_UP grid rounds UP to the threshold — the
                    // consumer applies the exact round(cos,4) filter
                    if (cos >= threshold - 1e-3)
                      out += SemanticCandidate(math.min(k, k2), math.max(k, k2), cos)
                  }
                }
              }
              val had = entries.exists(_._1 == k)
              if (had || entries.size < maxCellState)
                entries = (k, v, nv, ts.getTime) :: entries.filterNot(_._1 == k)
            }
            state.update(entries)
            if (entries.nonEmpty)
              state.setTimeoutTimestamp(entries.map(_._4).max + watermarkMs)
            out.iterator
          }
      }
  }

  /** Streaming sketch-store ingest — the streaming twin of
    * [[graft.operators.SketchStore.hllSketches]]: per event-time window
    * (plus optional group columns), values aggregate into a mergeable
    * Datasketches HLL sketch under a watermark. The emitted
    * (window, group…, sketch) rows are exactly the batch store's table
    * shape — append them to the sketch table and
    * [[graft.operators.SketchStore.unionEstimate]] answers distinct-count
    * questions across any window range by unioning kilobyte sketches,
    * never rescanning history (sketch union is EXACT over sketch state,
    * so the incremental store equals the batch-built one — the spec pins
    * that equality).
    */
  def streamingHllSketches(
      stream: DataFrame,
      valueCol: String,
      tsCol: String,
      windowDuration: String = "1 hour",
      groupCols: Seq[String] = Nil,
      lgK: Int = 12,
      watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration) +: groupCols.map(col): _*)
      .agg(expr(s"hll_sketch_agg(`$valueCol`, $lgK)").as("sketch"))

  /** Streaming ingest twin of
    * [[graft.operators.SketchStore.momentSketches]]: per-window exact
    * (n, Σx, Σx²) DECIMAL rows from an unbounded stream, watermark-
    * bounded. The event-time window is emitted FLAT — `window_start` /
    * `window_end` timestamp columns riding alongside `groupCols` — so
    * the output is an ordinary moment-store table whose group key is
    * (window_start, window_end, groupCols…): appendable as-is to a
    * saved table whose batch rows were ingested with the same two
    * window columns in their groupCols, and
    * [[graft.operators.SketchStore.mergeMoments]] regroups any mix of
    * the two onto a coarser key exactly (the merge is pure decimal
    * addition, so stream-ingested history answers bit-identically).
    */
  def streamingMomentSketches(
      stream: DataFrame,
      valueCol: String,
      tsCol: String,
      windowDuration: String = "1 hour",
      groupCols: Seq[String] = Nil,
      watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = col(valueCol).cast(DecimalType(18, 4))
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDuration) +: groupCols.map(col): _*)
      .agg(count(x).as("n"), sum(x).as("sum_x"), sum(x * x).as("sum_x2"))
      .select(col("window.start").as("window_start") +:
        col("window.end").as("window_end") +:
        groupCols.map(col) :+ col("n") :+ col("sum_x") :+ col("sum_x2"): _*)
  }

  /** Streaming probe of a SAVED MinHash band index — the streaming twin
    * of [[graft.functions.Dedup.dedupAgainstIndexMd5]]. Completely
    * STATELESS: each arriving doc computes its full signature locally
    * (bit-identical to the batch aggregate, no per-shingle shuffle),
    * fans out to its band buckets, and stream-static equi-joins the
    * capped index — no keyed state, no watermark required, so
    * throughput scales with executors alone and nothing accumulates
    * between micro-batches. Emits (key, idx_key, est) for every flagged
    * match at pair granularity; a pair found in several bands emits once
    * per band and re-deliveries re-emit, so consumers must treat the
    * output as a SET (aggregate downstream for the batch per-doc
    * min-representative). Degenerate buckets were already capped when
    * the index was BUILT (minhashIndexMd5.maxBucketSize) — the probe
    * adds no window over the index. Cache the index frame — a streaming
    * join re-evaluates an uncached static side every micro-batch.
    */
  def streamingIndexProbe(
      stream: DataFrame,
      index: DataFrame,
      textCol: String,
      keyCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    graft.functions.Dedup.checkBanding(numHashes, bands)
    graft.functions.Dedup.validateIndex(index, shingleSize, numHashes, bands)
    val rowsPerBand = numHashes / bands
    val sigUdf = udf { text: String =>
      graft.functions.Dedup.minhashSignatureMd5Local(text, shingleSize, numHashes)
    }
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand).as("bucket"))
    }
    // key keeps its source type (a cast("long") would silently null
    // string keys — the editDistancePairs trap)
    val fanned = stream
      .withColumn("__sig", sigUdf(col(textCol)))
      .filter(col("__sig").isNotNull)
      .select(col(keyCol).as("key"), col("__sig"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("key"), col("__sig").as("new_sig"))
    val idx = index.select(col("band"), col("bucket"),
      col("key").as("idx_key"), col("sig").as("idx_sig"))
    fanned.join(idx, Seq("band", "bucket"))
      .withColumn("est", graft.functions.Dedup
        .sigMatchEstimate(col("new_sig"), col("idx_sig"), numHashes))
      .filter(col("est") >= threshold)
      .select(col("key"), col("idx_key"), col("est"))
  }

  /** Streaming ANN radius probe against a saved IVF-PQ index — the
    * serving twin of [[graft.functions.Similarity.annAgainstIndex]] for
    * an unbounded query stream: each arriving vector fans out to its
    * `nprobe` nearest coarse cells × the index's build-time salt split,
    * meets the STATIC code lists in a stateless stream-static equi-join,
    * and emits every stored neighbor whose ADC distance is within
    * `maxDist`. No watermark, no state store — the join is Append-safe —
    * and per candidate the direct O(dim) ADC form replaces the batch
    * probe's per-cell lookup table (a join row can't amortize one).
    * Emissions are per micro-batch; at-least-once re-delivery of a query
    * row re-emits its matches, so consumers treat the output as a set.
    */
  def streamingAnnProbe(
      stream: DataFrame,
      model: DataFrame,
      lists: DataFrame,
      keyCol: String,
      vecCol: String,
      maxDist: Double,
      nprobe: Int = 3): DataFrame = {
    val (centers, books) = graft.functions.Similarity.parseIvfPqModel(model)
    val sc = stream.sparkSession.sparkContext
    val bcCenters = sc.broadcast(centers)
    val bcBooks = sc.broadcast(books)
    // one tiny agg on the STATIC frame at plan-build time — mirrors the
    // batch probe's salt discovery
    val numSalts = lists.agg(max(col("salt"))).head() match {
      case r if r.isNullAt(0) => 1
      case r => r.getInt(0) + 1
    }
    val cellsUdf = udf { v: Seq[Float] =>
      graft.functions.Similarity.nearestCellsTo(v.toArray, bcCenters.value, nprobe).toSeq
    }
    val adcUdf = udf { (v: Seq[Float], codes: Seq[Int]) =>
      graft.functions.Similarity.adcDistance(v.toArray, codes.toArray, bcBooks.value)
    }
    val fanned = stream
      .select(col(keyCol).as("key"), col(vecCol).as("__v"))
      .withColumn("cell", explode(cellsUdf(col("__v"))))
      .withColumn("salt", explode(array((0 until numSalts).map(lit): _*)))
    fanned
      .join(lists.select(col("cell"), col("salt"),
        col("id").as("neighbor_id"), col("codes")), Seq("cell", "salt"))
      .withColumn("adist", round(adcUdf(col("__v"), col("codes")), 4))
      .filter(col("adist") <= maxDist)
      .select(col("key"), col("neighbor_id"), col("adist"))
  }

  final case class LineKeep(key: Long, pos: Int, line: String)

  /** Streaming corpus-level line dedup — the streaming twin of
    * [[graft.functions.Dedup.lineDedup]]'s first-occurrence selection:
    * each arriving document explodes to its (pos, line) rows, lines key
    * a per-line-hash state inside the watermark horizon, and only the
    * FIRST arrival of a line (event time, then key, then pos — the
    * stream-order analog of the batch min(struct(key, pos))) emits a
    * LineKeep row; every later occurrence is boilerplate and drops.
    * Consumers rebuild documents with a downstream groupBy(key) +
    * ordered concat — the batch reassembly shape. State per line is one
    * timestamp; quiet lines age out via event-time timeout.
    */
  def streamingLineDedup(
      stream: DataFrame,
      textCol: String,
      keyCol: String,
      tsCol: String,
      watermarkMs: Long = 2L * 3600 * 1000): Dataset[LineKeep] = {
    import stream.sparkSession.implicits._
    val exploded = stream
      .withWatermark(tsCol, s"$watermarkMs milliseconds")
      .select(col(keyCol).cast("long").as("__key"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")),
        col(tsCol)) // no cast/alias: it would strip the watermark metadata
      .select(xxhash64(col("__line")).as("__lh"), col("__key"), col("__pos"),
        col("__line"), col(tsCol))
      .as[(Long, Long, Int, String, java.sql.Timestamp)]
    exploded.groupByKey(_._1)
      .flatMapGroupsWithState[Long, LineKeep](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Int, String, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._5.getTime, r._2, r._3))
            val out =
              if (state.exists) Nil
              else sorted.headOption.map(r => LineKeep(r._2, r._3, r._4)).toList
            val maxTs = sorted.map(_._5.getTime).max
            state.update(math.max(state.getOption.getOrElse(0L), maxTs))
            state.setTimeoutTimestamp(state.get + watermarkMs)
            out.iterator
          }
      }
  }

  final case class SpanFlag(key: Long, pos: Int)

  /** Streaming duplicated-window flags — the streaming twin of
    * [[graft.functions.Dedup.duplicateSpans]]'s window-flagging stage:
    * every `windowTokens`-token window of the normalized text keys a
    * per-window-hash state (same md5_prefix60 hash construction as
    * batch); once `minDocFreq` DISTINCT documents have carried a window
    * inside the watermark horizon, ALL its stored occurrences flush as
    * (key, pos) flags and later occurrences flag immediately. Consumers
    * merge flags into maximal spans per document (the batch interval
    * merge). Pre-flag state is the bounded occurrence list (capped at
    * `maxOccState`); post-flag state collapses to a marker, so a
    * boilerplate window shared by millions of docs holds O(1) state.
    */
  def streamingDuplicateSpanFlags(
      stream: DataFrame,
      textCol: String,
      keyCol: String,
      tsCol: String,
      windowTokens: Int = 50,
      minDocFreq: Int = 2,
      watermarkMs: Long = 2L * 3600 * 1000,
      maxOccState: Int = 10000): Dataset[SpanFlag] = {
    require(windowTokens >= 1 && minDocFreq >= 2, "windowTokens >= 1, minDocFreq >= 2")
    import stream.sparkSession.implicits._
    val w = windowTokens
    val toks = col("__toks")
    // identical gram construction + 60-bit hash as the batch path, so a
    // batch-parity check compares flag sets 1:1
    val grams = when(size(toks) < w, array().cast("array<struct<pos:int,gram:string>>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - w),
        i => struct(i.cast("int").as("pos"),
          concat_ws(" ", slice(toks, i + 1, lit(w))).as("gram"))))
    val exploded = stream
      .withWatermark(tsCol, s"$watermarkMs milliseconds")
      .select(col(keyCol).cast("long").as("__key"),
        split(graft.functions.TextOps.normalizeText(col(textCol)), " ").as("__toks"),
        col(tsCol))
      .select(col("__key"), explode(grams).as("__g"), col(tsCol))
      .select(GraftFunctions.md5Prefix60(col("__g.gram").cast("binary")).as("__h"),
        col("__key"), col("__g.pos").as("__pos"), col(tsCol))
      .as[(Long, Long, Int, java.sql.Timestamp)]
    // state: (flagged marker, stored pre-flag occurrences (key, pos, ts)).
    // The distinct-doc decision tracks a key SET rebuilt from occs —
    // occurrences are deduped on (key, pos) so at-least-once redelivery
    // can't inflate state, and the occurrence CAP never gates the
    // distinct-doc count (a hot window filled by one long doc's
    // repetitions must still flag when a second doc arrives; the cap
    // only bounds which occurrences can flush as flags).
    exploded.groupByKey(_._1)
      .flatMapGroupsWithState[(Boolean, List[(Long, Int, Long)]), SpanFlag](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[(Long, Long, Int, java.sql.Timestamp)],
         state: GroupState[(Boolean, List[(Long, Int, Long)])]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val horizon = state.getCurrentWatermarkMs()
            var (flagged, occs0) = state.getOption.getOrElse((false, Nil))
            val occs = scala.collection.mutable.ArrayBuffer.from(
              occs0.reverseIterator.filter(_._3 >= horizon)) // oldest-first
            val seen = scala.collection.mutable.HashSet.from(
              occs.iterator.map(o => (o._1, o._2)))
            val docs = scala.collection.mutable.HashSet.from(occs.iterator.map(_._1))
            val out = scala.collection.mutable.ListBuffer.empty[SpanFlag]
            var maxTs = occs.iterator.map(_._3).maxOption.getOrElse(0L)
            rows.toSeq.sortBy(r => (r._4.getTime, r._2, r._3)).foreach { case (_, k, p, ts) =>
              maxTs = math.max(maxTs, ts.getTime)
              if (flagged) out += SpanFlag(k, p)
              else if (!seen((k, p))) {
                seen += ((k, p))
                docs += k
                if (occs.size < maxOccState) occs += ((k, p, ts.getTime))
                if (docs.size >= minDocFreq) {
                  flagged = true
                  occs.foreach { case (k2, p2, _) => out += SpanFlag(k2, p2) }
                  // the current occurrence may have been dropped by the
                  // cap — its flag must still emit
                  if (occs.size >= maxOccState && !occs.exists(o => o._1 == k && o._2 == p))
                    out += SpanFlag(k, p)
                  occs.clear() // flushed: post-flag state is just the marker
                }
              }
            }
            state.update((flagged, occs.reverseIterator.toList))
            state.setTimeoutTimestamp(maxTs + watermarkMs)
            out.iterator
          }
      }
  }

  final case class UserState(count: Long, sum: Double)
  final case class UserSnapshot(userId: Long, count: Long, sum: Double, mean: Double)

  /** Custom keyed state via mapGroupsWithState: running per-user count /
    * sum / mean over an unbounded stream (processing-time timeout keeps
    * state bounded).
    */
  def runningUserStats(
      events: Dataset[(Long, Double)]): Dataset[UserSnapshot] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[UserState, UserSnapshot](GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var c = prev.count
          var s = prev.sum
          rows.foreach { case (_, v) => c += 1; s += v }
          state.update(UserState(c, s))
          UserSnapshot(userId, c, s, if (c == 0) 0.0 else s / c)
      }
  }

  final case class SessionState(start: Long, lastSeen: Long, count: Long)
  final case class Session(userId: Long, startMs: Long, endMs: Long,
      events: Long, durationSec: Double)

  /** Event-time sessionization via flatMapGroupsWithState: a session
    * closes once a later event for the key arrives more than `gapMs`
    * after the last one (deterministic, event-time driven); with
    * `useProcessingTimeout` an idle key's open session is also flushed by
    * a processing-time timeout. State per key is O(1).
    */
  def sessionize(
      events: Dataset[(Long, Long)], // (userId, eventTimeMs)
      gapMs: Long = 30 * 60 * 1000L,
      useProcessingTimeout: Boolean = false): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (useProcessingTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeoutConf) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.start, s.lastSeen, s.count,
              (s.lastSeen - s.start) / 1000.0))
          } else {
            val times = rows.map(_._2).toSeq.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            var cur = state.getOption
            times.foreach { t =>
              cur match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  cur = Some(s.copy(lastSeen = t, count = s.count + 1))
                case Some(s) =>
                  closed += Session(userId, s.start, s.lastSeen, s.count,
                    (s.lastSeen - s.start) / 1000.0)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach(state.update)
            if (useProcessingTimeout) state.setTimeoutDuration(gapMs)
            closed.iterator
          }
      }
  }

  /** Streaming drift monitor: per event-time window, bin `valueCol` with
    * precomputed source cutoffs (broadcast driver state, O(#bins)) and
    * emit per-bin frequencies — the q-side of PSI; join against the saved
    * p-side downstream.
    */
  def streamingBinnedFrequencies(
      stream: DataFrame,
      tsCol: String,
      valueCol: String,
      cuts: Seq[Double],
      windowDuration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    windowedBinCounts(stream.withWatermark(tsCol, watermark), tsCol, valueCol, cuts, windowDuration)

  /** [window, bin, n]: the windowed bin count under both drift streams. */
  private def windowedBinCounts(stream: DataFrame, tsCol: String, valueCol: String,
      cuts: Seq[Double], windowDuration: String): DataFrame =
    stream
      .withColumn("bin", graft.operators.Transformers.binExpr(col(valueCol), cuts))
      .groupBy(window(col(tsCol), windowDuration), col("bin"))
      .agg(count(lit(1)).as("n"))

  /** Batch-side half of the streaming PSI monitor: turn windowed bin
    * counts [window, bin, n] into per-window PSI/HD/JSD/KS against a
    * saved single-attribute source histogram [attribute, bin, p]. Each
    * event-time window becomes one `attribute` row (its start timestamp),
    * so the SAME Drift.metricsFromFrequencies computes every window's
    * metrics in one pass.
    */
  def windowedDriftMetrics(
      binCounts: DataFrame,
      sourceFreq: DataFrame,
      threshold: Double = 0.1): DataFrame = {
    val q = graft.operators.Drift.shareOfAttribute(
      binCounts.select(
        col("window.start").cast("string").as("attribute"), col("bin"), col("n").as("__n")),
      "q")
    val windows = q.select("attribute").distinct()
    val p = sourceFreq.select(col("bin"), col("p")).crossJoin(broadcast(windows))
    graft.operators.Drift.metricsFromFrequencies(p, q, threshold)
  }

  /** End-to-end streaming drift: bin the stream per event-time window
    * (complete-mode aggregate — the windowed counts frame stays tiny:
    * #windows × #bins), then per micro-batch compute drift metrics
    * against the persisted source histogram via foreachBatch (cumulative
    * KS windows are not stream-executable, so the metric step runs on
    * the batch side).
    */
  def streamingDriftMonitor(
      stream: DataFrame,
      tsCol: String,
      valueCol: String,
      cuts: Seq[Double],
      sourceFreq: DataFrame,
      windowDuration: String = "1 hour",
      threshold: Double = 0.1)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    windowedBinCounts(stream, tsCol, valueCol, cuts, windowDuration)
      .writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(windowedDriftMetrics(batch, sourceFreq, threshold))
      }
      .start()

  /** Streaming twin of [[graft.sources.Ingest.writeZOrdered]]: a
    * foreachBatch body that lays each micro-batch out in the SAME
    * z-tile geometry and appends. The z-bins anchor on CALLER-PINNED
    * per-column [min, max] ranges (domain knowledge or historical
    * stats), not per-batch extrema — per-batch ranges would re-scale
    * the space-filling curve every batch, so tiles from different
    * appends would stop lining up and file skipping over the
    * accumulated table would decay. With pinned anchors every appended
    * file covers a compact range of one shared z-curve, so a filter on
    * any z-column skips files across ALL batches exactly like the
    * batch-written layout (out-of-range late values clamp to the edge
    * bins, still valid tiles). Usage:
    * {{{
    * stream.writeStream
    *   .foreachBatch(StreamingOps.streamingZOrderedWrite(path, zCols, mins, maxs, 8))
    *   .start()
    * }}}
    */
  /** Streaming duplication-rate monitor — the windowed twin of
    * [[graft.functions.Dedup.dedupAgainstIndexMd5]] rolled up the way
    * [[streamingEncodingMonitor]] rolls up encoding signals: per
    * event-time window, how many arriving documents near-duplicate the
    * SAVED MinHash band index (signature ≥ `threshold` match estimate
    * against any stored doc). The ingest-side alarm that a crawl source
    * started re-sending an already-ingested corpus.
    *
    * Shape: per-doc signatures compute locally (no shuffle, identical
    * bits to the batch aggregate), candidates meet the static index in a
    * stateless stream-static band equi-join, per-doc flags collapse via
    * `dropDuplicatesWithinWatermark` (keys are unique per arrival, so
    * "≥ 1 surviving match row" IS the doc flag), and one windowed
    * aggregation over the union with the raw arrival stream produces
    * (n_docs, n_dup_docs, dup_rate). Two chained stateful operators —
    * the documented Spark multiple-stateful-operator pattern — with all
    * state bounded by the watermark horizon.
    */
  def streamingDuplicationMonitor(
      stream: DataFrame,
      index: DataFrame,
      textCol: String,
      keyCol: String,
      tsCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7,
      windowDuration: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    graft.functions.Dedup.checkBanding(numHashes, bands)
    graft.functions.Dedup.validateIndex(index, shingleSize, numHashes, bands)
    val rowsPerBand = numHashes / bands
    val sigUdf = udf { text: String =>
      graft.functions.Dedup.minhashSignatureMd5Local(text, shingleSize, numHashes)
    }
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand).as("bucket"))
    }
    // tsCol passes through every projection UNTOUCHED (no alias/cast):
    // event-time metadata must survive to the windowed aggregation
    val wm = stream.withWatermark(tsCol, watermark)
    val alls = wm.select(col(tsCol), lit(0).as("__dup"))
    val fanned = wm
      .withColumn("__sig", sigUdf(col(textCol)))
      .filter(col("__sig").isNotNull)
      .select(col(tsCol), col(keyCol).as("key"), col("__sig"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col(tsCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("key"), col("__sig").as("new_sig"))
    val idx = index.select(col("band"), col("bucket"), col("sig").as("idx_sig"))
    val dups = fanned.join(idx, Seq("band", "bucket"))
      .withColumn("__est", graft.functions.Dedup
        .sigMatchEstimate(col("new_sig"), col("idx_sig"), numHashes))
      .filter(col("__est") >= threshold)
      .select(col(tsCol), col("key"))
      // Collapse on (key, ts) — one dup flag PER ARRIVAL, not per key:
      // the alarm scenario is a crawl source re-sending an already-
      // ingested corpus, i.e. the SAME key arriving repeatedly inside
      // the watermark horizon. Deduping on key alone dropped the flags
      // of every re-arrival, undercounting n_dup_docs exactly when the
      // alarm should fire; (key, ts) still collapses the multiple BAND
      // matches a single arrival fans out to.
      .dropDuplicatesWithinWatermark("key", tsCol)
      .select(col(tsCol), lit(1).as("__dup"))
    alls.unionByName(dups)
      .groupBy(window(col(tsCol), windowDuration))
      .agg(
        count(when(col("__dup") === 0, 1)).as("n_docs"),
        count(when(col("__dup") === 1, 1)).as("n_dup_docs"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs").cast("double"), 4)
          .as("dup_rate"))
  }

  final case class DegreeUpdate(node: Long, degree: Long, at_core_threshold: Boolean)

  /** Streaming twin of the graph family's degree aggregate (the shared
    * first stage of [[graft.functions.Graph.kCore]] peeling and the
    * centrality preambles): edges arrive as (src, dst) rows and each
    * arrival increments BOTH endpoints' cumulative multigraph degree
    * (self-loops and null endpoints dropped, mirroring the batch
    * canonical form's filter). State: ONE long per node — O(nodes),
    * watermark-free — via mapGroupsWithState; each micro-batch emits
    * one update per touched node with a `k`-threshold flag. degree >= k
    * is the NECESSARY condition for k-core membership, so the flag is
    * a streaming early-warning feeding the periodic batch peel (which
    * alone decides true membership — peeling needs the synchronous
    * rounds over the full edge frame), exactly how a crawl pipeline
    * pairs a cheap in-flight monitor with a scheduled batch job.
    * Unlike the batch canonical form this counts edge MULTIPLICITY
    * (a stream cannot dedup unboundedly many past edges in O(1) state;
    * feed pre-deduped edges when simple-graph degrees are required).
    */
  def streamingDegreeMonitor(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int): Dataset[DegreeUpdate] = {
    require(k >= 1, "k must be >= 1")
    import edges.sparkSession.implicits._
    val ends = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .filter(col("s") =!= col("d")) // also drops null endpoints (null predicate)
      .select(explode(array(col("s"), col("d"))).as("node"))
      .as[Long]
    ends.groupByKey(identity)
      .mapGroupsWithState[Long, DegreeUpdate](GroupStateTimeout.NoTimeout()) {
        case (node, rows, state: GroupState[Long]) =>
          val d = state.getOption.getOrElse(0L) + rows.size
          state.update(d)
          DegreeUpdate(node, d, d >= k)
      }
  }

  final case class ShardSlot(id: Long, shard: Long, shard_pos: Long)

  /** Streaming twin of [[graft.functions.Sharding.shuffledShards]]: the
    * SHARD assignment is the identical salted md5 hash (bit-equal to the
    * batch op for the same salt), computed per row with no state; the
    * within-shard position comes from a per-shard counter in
    * mapGroupsWithState — so every row still gets a unique, dense
    * (shard, shard_pos) slot, in ARRIVAL order rather than the batch
    * op's global hash order (a stream has no total order to sort by;
    * what a shard writer needs is the unique dense slot). State: ONE
    * long per shard — O(nShards), watermark-free.
    */
  def streamingShardAssigner(
      ids: Dataset[Long],
      nShards: Int,
      salt: String = ""): Dataset[ShardSlot] = {
    require(nShards > 0, "nShards must be positive")
    import ids.sparkSession.implicits._
    val n = nShards.toLong
    def shardOf(id: Long): Long = {
      val h = graft.functions.Similarity.md5Prefix60(s"$salt:$id")
      ((h % n) + n) % n
    }
    ids.groupByKey(shardOf)
      .flatMapGroupsWithState[Long, ShardSlot](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (shard, rows, state: GroupState[Long]) =>
          var next = state.getOption.getOrElse(0L)
          val out = rows.map { id =>
            val slot = ShardSlot(id, shard, next); next += 1; slot
          }.toList
          state.update(next)
          out.iterator
      }
  }

  /** foreachBatch sink that lands each micro-batch as training shards:
    * every row gets the SAME salted-md5 shard as the batch op
    * ([[graft.functions.Sharding.shuffledShards]] — bit-identical for
    * the same salt), and the batch is written partitioned by shard, so
    * the on-disk layout accumulates per-shard file sets a training
    * loader can consume directly. Map-only + one hash exchange per
    * batch; no state, no global order (within-shard order is
    * batch-arrival — the streaming analog of the batch op's hash rank;
    * use [[streamingShardAssigner]] when dense per-shard positions
    * matter).
    *
    * {{{
    * stream.writeStream
    *   .foreachBatch(StreamingOps.streamingShardedWrite(path, "doc_id", 64, "e0"))
    *   .start()
    * }}}
    */
  def streamingShardedWrite(
      path: String,
      idCol: String,
      nShards: Int,
      salt: String = ""): (DataFrame, Long) => Unit = {
    require(nShards > 0, "nShards must be positive")
    (batch: DataFrame, _: Long) => {
      val h = GraftFunctions.saltedKeyHash(salt, col(idCol).cast("string"))
      batch.withColumn("shard", pmod(h, lit(nShards.toLong)))
        .repartition(col("shard"))
        .write.mode("append").partitionBy("shard").parquet(path)
    }
  }

  /** foreachBatch sink twin of the batch url_curation stage
    * ([[graft.functions.UrlOps.urlDedup]] +
    * [[graft.functions.UrlOps.capPerDomain]]): each micro-batch is
    * page-identity deduped within itself, anti-joined against the
    * canonical urls ALREADY LANDED at `path` (the written output IS the
    * accumulated state — no driver-side map, restart-safe for free),
    * then quota'd per registrable domain against the accumulated
    * per-domain counts before appending. Within one batch the quota
    * consumes rows in the batch op's salted-hash order (bit-identical
    * keep set to capPerDomain when everything arrives in one batch);
    * across batches it consumes in ARRIVAL order — a stream cannot know
    * the global hash order, and what a curation sink needs is "never
    * more than maxDocs per domain, never the same page twice". The
    * per-batch window partitions by domain over BATCH-sized (not
    * corpus-sized) frames; a production deployment compacts `path` or
    * keeps a (url_canon, domain) index table instead of re-reading the
    * full output per batch.
    *
    * {{{
    * stream.writeStream
    *   .foreachBatch(StreamingOps.streamingUrlCuratedWrite(path, "url", "doc_id", 100, "e0"))
    *   .start()
    * }}}
    */
  def streamingUrlCuratedWrite(
      path: String,
      urlCol: String,
      keyCol: String,
      maxDocsPerDomain: Int,
      salt: String = ""): (DataFrame, Long) => Unit = {
    require(maxDocsPerDomain > 0, "maxDocsPerDomain must be positive")
    (batch0: DataFrame, _: Long) => {
      val spark = batch0.sparkSession
      import graft.functions.UrlOps
      // null/unparseable URLs coalesce to the same "" sentinel the batch
      // capPerDomain uses: the anti-join and quota join below are plain
      // (null-unsafe) equi-joins, so a null url_canon/domain would never
      // match landed state — the null-URL group would dodge dedup forever
      // and draw a fresh maxDocs allowance every micro-batch
      val batch = UrlOps.urlDedup(batch0, urlCol, keyCol)
        .withColumn("url_canon",
          coalesce(UrlOps.canonicalizeUrl(col(urlCol)), lit("")))
        .withColumn("domain",
          coalesce(UrlOps.registrableDomain(UrlOps.hostOf(col(urlCol))),
            lit("")))
      // Only genuinely-empty state may start from empty: a transient
      // read failure (FS hiccup, corrupt footer) must FAIL the batch
      // and let the stream retry — swallowing it would silently reset
      // dedup + quota history and re-land already-landed pages. The
      // read carries an EXPLICIT schema so an existing-but-empty
      // directory (an aborted first write leaves the mkdir behind)
      // reads back as empty state instead of failing schema inference
      // forever; a missing path starts empty too.
      val stateSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("url_canon",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("domain",
          org.apache.spark.sql.types.StringType)))
      val pathExists = {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
      val existing =
        if (pathExists)
          spark.read.schema(stateSchema).parquet(path)
            .select("url_canon", "domain")
        else spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), stateSchema)
      val fresh = batch.join(
        existing.select("url_canon").distinct(), Seq("url_canon"), "left_anti")
      val have = existing.groupBy("domain").agg(count(lit(1)).as("__have"))
      val h = GraftFunctions.saltedKeyHash(salt,
        coalesce(col(keyCol).cast("string"), lit("")))
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("domain")).orderBy(h.asc, col(keyCol).asc)
      fresh.join(have, Seq("domain"), "left")
        .withColumn("__room",
          lit(maxDocsPerDomain.toLong) - coalesce(col("__have"), lit(0L)))
        .withColumn("__rn", row_number().over(wd))
        .filter(col("__rn") <= col("__room"))
        .drop("__have", "__room", "__rn")
        .write.mode("append").parquet(path)
    }
  }

  def streamingZOrderedWrite(
      path: String,
      zCols: Seq[String],
      mins: Seq[Double],
      maxs: Seq[Double],
      filesPerBatch: Int,
      bits: Int = 16): (DataFrame, Long) => Unit = {
    require(zCols.size >= 2, "z-ordering needs at least 2 columns")
    require(zCols.size == mins.size && mins.size == maxs.size,
      "need one pinned (min, max) per z-column")
    require(filesPerBatch > 0, "need a positive per-batch file count")
    (batch: DataFrame, _: Long) => {
      val z = graft.sources.Ingest.zorderValue(zCols.map(col), mins, maxs, bits)
      batch.withColumn("__z", z)
        .repartitionByRange(filesPerBatch, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode("append").parquet(path)
    }
  }
}
