package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. Everything is expressed as shuffles on
  * hashed keys — no driver-side pairwise loops — so the same plans run
  * on 100 TB: candidate generation is hash-partitioned (LSH band
  * buckets), and only candidate pairs ever meet in a join.
  *
  * MinHash and SimHash have ONE hash family each, both built on the
  * engine-portable 60-bit md5 prefix (`md5_prefix60`): MinHash members
  * are md5 XOR a fixed salt ([[minhashSignaturesMd5]]), SimHash votes
  * over md5 token hashes ([[simhashMd5]]). Every batch, index and
  * streaming path runs these kernels, so every signature is replayable
  * bit-for-bit in any SQL engine.
  */
object Dedup {

  /** Materialize an intermediate frame so multiple consumers don't
    * recompute its pipeline. Default is `localCheckpoint` (fast, but the
    * blocks live on executor storage — an executor loss forces a full
    * recompute, fine for local[32]). For cluster deployments set
    * `graft.dedup.reliableCheckpoint=true` to write a reliable
    * `checkpoint` to the configured checkpoint dir instead, surviving
    * executor loss at the cost of one HDFS round-trip.
    */
  private[graft] def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf
      .getOption("graft.dedup.reliableCheckpoint").exists(_.toBoolean)
    if (reliable) {
      ensureCheckpointDir(spark)
      df.checkpoint(true)
    } else df.localCheckpoint(true)
  }

  /** Point an unset checkpoint directory at `java.io.tmpdir/graft-checkpoints`. */
  private[graft] def ensureCheckpointDir(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(System.getProperty("java.io.tmpdir", "/tmp") + "/graft-checkpoints")
  }

  /** Widen a compute-dense, byte-light scan to the session parallelism:
    * a small parquet input (one file → one scan task) would otherwise run
    * an expensive tokenize/shingle/feature map stage single-threaded
    * (measured: 5.2 s of sourceOverlap's 5.6 s sf0.1 row cost was the
    * one-task shingle stage). No-op at real scale — an input that already
    * has ≥ defaultParallelism partitions passes through unshuffled; this
    * never coalesces.
    *
    * The partition-count probe (`df.rdd.getNumPartitions`) forces
    * physical-plan finalization, and under AQE that can EXECUTE upstream
    * shuffle stages eagerly — so the probe is restricted to plans that
    * are a narrow chain (project/filter/generate/union) over leaves,
    * where materializing the RDD plans but never runs a stage. Anything
    * else (an upstream aggregate/join/window/repartition) passes through
    * unprobed: its output already comes out of a shuffle sized by
    * `spark.sql.shuffle.partitions` / AQE, which IS the session
    * parallelism story — widening it again would only add an exchange.
    */
  private[graft] def widenForCompute(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val narrowOverLeaves = df.queryExecution.analyzed.find {
      case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
           _: Union | _: LeafNode => false
      case _ => true
    }.isEmpty
    if (!narrowOverLeaves) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }
  }

  /** Exact dedup on normalized-text hash: [fingerprint, dup_count,
    * representative (min key)]. Hash-groupBy — one shuffle.
    */
  def exactDuplicates(df: DataFrame, textCol: String, keyCol: String): DataFrame =
    df.select(col(keyCol), TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("dup_count"), min(col(keyCol)).as("representative"))
      .filter(col("dup_count") > 1)

  /** Keep one row per group (smallest key wins): ONE `min_by` hash
    * aggregation keyed by `groupExpr` — O(1) state per group with
    * map-side partial combine (a boilerplate page duplicated millions
    * of times pre-collapses inside each task), where a row_number
    * window would sort every partition just to pick row 1. Shared by
    * [[exactDedup]] and `UrlOps.urlDedup`.
    *
    * The ordering is a (isNull, key) struct rather than the bare key:
    * `min_by` SKIPS rows whose ordering value is null, so a group whose
    * every key is null would otherwise collapse to one fabricated
    * all-null row — the struct is never null, keeps a real row, and
    * prefers non-null keys (matching the oracle's min_by semantics).
    * Columns round-trip through the struct by literal field NAME
    * (`getField` takes the whole string as one unparsed field name),
    * so names containing dots survive.
    */
  private[graft] def firstByKey(df: DataFrame, groupExpr: Column,
      keyCol: String): DataFrame = {
    val cols = df.columns.toSeq
    val quoted = cols.map(GraftFunctions.exactCol)
    val key = GraftFunctions.exactCol(keyCol)
    val ord = struct(key.isNull.cast("int"), key)
    df.groupBy(groupExpr)
      .agg(min_by(struct(quoted: _*), ord).as("__r"))
      .select(cols.map(c => col("__r").getField(c).as(c)): _*)
  }

  /** Keep one row per exact-duplicate group (first by key) via
    * [[firstByKey]] keyed on the normalized-text fingerprint.
    */
  def exactDedup(df: DataFrame, textCol: String, keyCol: String): DataFrame =
    firstByKey(df, TextOps.fingerprint(col(textCol)).as("__fp"), keyCol)

  /** Corpus-level line deduplication (the boilerplate-removal pass of
    * public LLM pipelines — repeated footers/nav-bars/disclaimers are
    * dropped everywhere but their first occurrence, ordered by
    * (key, line position)). Two aggregations, both with map-side partial
    * combine: first-occurrence per line via `min(struct(key, pos))` (a
    * hyper-common line pre-aggregates inside each task before the
    * shuffle — no hot-key window), then document reassembly grouped by
    * key. A document whose every line was seen earlier comes back with
    * empty text and n_kept = 0 (feed to a filter to drop).
    */
  def lineDedup(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    val lines = df.select(col(keyCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val keepers = lines.groupBy("line")
      .agg(min(struct(col(keyCol), col("pos"))).as("k"))
      .select(col("k")(keyCol).as(keyCol), col("k")("pos").as("pos"), col("line"))
    val rebuilt = keepers.groupBy(col(keyCol))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("text_clean"),
        count(lit(1)).as("n_kept"))
    df.select(col(keyCol), size(split(col(textCol), "\n")).as("__n_lines"))
      .join(rebuilt, Seq(keyCol), "left")
      .select(col(keyCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Cross-document duplicated token SPANS — the exact-substring dedup
    * of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    * Models Better"), re-shaped for Spark: every `windowTokens`-token
    * window of the normalized text whose content occurs in at least
    * `minDocFreq` DISTINCT documents is flagged, and per document the
    * flagged windows are merged into maximal half-open token spans
    * [span_start, span_end).
    *
    * 100 TB shape: windows shuffle as 60-bit md5 hashes (never the
    * window strings); doc-frequency is one partially-aggregated groupBy
    * on the hash; flagged positions come back through a co-partitioned
    * left-semi join; the merge window runs per document over ONLY the
    * flagged positions (bounded by doc length). A boilerplate window
    * shared by millions of docs stays one hash group and one row per
    * occurrence — no pairwise blowup anywhere, total work linear in
    * corpus tokens.
    */
  def duplicateSpans(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      windowTokens: Int = 50,
      minDocFreq: Int = 2): DataFrame = {
    require(windowTokens >= 1 && minDocFreq >= 2, "windowTokens >= 1, minDocFreq >= 2")
    val w = windowTokens
    val toks = col("__toks")
    val grams = when(size(toks) < w, array().cast("array<struct<pos:int,gram:string>>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - w),
        i => struct(i.cast("int").as("pos"),
          concat_ws(" ", slice(toks, i + 1, lit(w))).as("gram"))))
    // widen a narrow input: the window-gram explode is the dominant map
    // stage and would otherwise run on one scan task (see widenForCompute)
    val positions = widenForCompute(df)
      .select(col(keyCol).as("key"),
        split(TextOps.normalizeText(col(textCol)), " ").as("__toks"))
      .select(col("key"), explode(grams).as("g"))
      .select(col("key"), col("g.pos").as("pos"),
        GraftFunctions.md5Prefix60(col("g.gram").cast("binary")).as("__h"))
    val dupHashes = positions.groupBy("__h")
      .agg(countDistinct(col("key")).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select("__h")
    val dupPos = positions.join(dupHashes, Seq("__h"), "left_semi")
    // classic interval merge as windows: a position starts a new span
    // when it lies past the running max end of everything before it
    val byDoc = Window.partitionBy("key").orderBy("pos")
    val runEnd = max(col("pos") + w)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dupPos
      .withColumn("__new", when(runEnd.isNull || col("pos") > runEnd, 1).otherwise(0))
      .withColumn("__grp", sum(col("__new")).over(byDoc))
      .groupBy(col("key"), col("__grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + w).cast("long").as("span_end"))
      .select(col("key"), col("span_start"), col("span_end"))
  }

  /** Per-document duplication profile (memorization-risk score): the
    * fraction of each document's tokens covered by cross-document
    * duplicated spans ([[duplicateSpans]] merged intervals) — the
    * Lee-et-al. diagnostic that decides WHICH docs to span-scrub vs
    * drop outright (a doc that is 90% duplicated spans is a near-dup
    * the fingerprint missed; 5% is boilerplate to scrub). Every doc
    * appears (zero-span docs report 0.0). Same scale shape as
    * duplicateSpans plus one broadcast-sized join back onto the
    * per-doc token counts.
    */
  def duplicationProfile(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      windowTokens: Int = 50,
      minDocFreq: Int = 2): DataFrame = {
    val spans = duplicateSpans(df, textCol, keyCol, windowTokens, minDocFreq)
      .groupBy("key")
      .agg(sum(col("span_end") - col("span_start")).as("dup_tokens"),
        count(lit(1)).as("n_spans"))
    // coalesce null text to '' BEFORE the length guard: split(null) is
    // null and size(null) is null, which would leak null n_tokens /
    // dup_fraction rows — the contract is "every doc appears, zero-span
    // docs report 0.0", null-text docs included
    val norm = coalesce(TextOps.normalizeText(col(textCol)), lit(""))
    val toks = df.select(col(keyCol).as("key"),
      when(length(norm) === 0, 0)
        .otherwise(size(split(norm, " "))).as("n_tokens"))
    toks.join(spans, Seq("key"), "left")
      .select(col("key"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).cast("int").as("n_spans"),
        round(when(col("n_tokens") === 0, 0.0)
          .otherwise(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")), 4).as("dup_fraction"))
  }

  /** Treatment for [[duplicateSpans]]: rebuild each document's
    * NORMALIZED text with the flagged token ranges removed (span indices
    * are positions in the normalized token stream, so the rebuild
    * tokenizes identically). Documents with no flagged span pass through
    * with their normalized text; n_removed counts dropped tokens.
    */
  def removeDuplicateSpans(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      windowTokens: Int = 50,
      minDocFreq: Int = 2): DataFrame = {
    val spans = duplicateSpans(df, textCol, keyCol, windowTokens, minDocFreq)
      .groupBy(col("key"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val toks = split(TextOps.normalizeText(col(textCol)), " ")
    df.select(col(keyCol), toks.as("__toks"))
      .join(spans, col(keyCol) === col("key"), "left")
      .select(col(keyCol),
        when(col("__spans").isNull, concat_ws(" ", col("__toks")))
          .otherwise(concat_ws(" ",
            filter(col("__toks"), (_, i) =>
              !exists(col("__spans"), s =>
                i >= s.getField("span_start") && i < s.getField("span_end")))))
          .as("text_clean"),
        when(col("__spans").isNull, lit(0L))
          .otherwise(aggregate(col("__spans"), lit(0L),
            (acc, s) => acc + (s.getField("span_end") - s.getField("span_start"))))
          .as("n_removed"))
  }

  /** (key, shingle) pairs: distinct word n-grams of the normalized text.
    * Texts with fewer than n tokens produce no shingles. keyCol must be a
    * unique document key (every caller passes a doc id): uniqueness per
    * (key, shingle) then follows from array_distinct alone, so the frame
    * is map-only — no dedup exchange. (A trailing .distinct() here cost a
    * full extra shuffle of the widest frame in every dedup pipeline.)
    */
  def shingles(df: DataFrame, textCol: String, keyCol: String, n: Int = 3): DataFrame =
    shinglesCarrying(df, textCol, keyCol, n, Nil)

  /** [[shingles]] with extra columns carried through the explode — lets a
    * caller keep e.g. its blocking column without a join back to the doc
    * frame afterwards (one fewer shuffle/broadcast per pipeline).
    */
  private[graft] def shinglesCarrying(
      df: DataFrame, textCol: String, keyCol: String, n: Int,
      carry: Seq[String]): DataFrame = {
    val carried = carry.map(col)
    // widen a narrow input (one-file scan, 1-partition checkpoint) so
    // the normalize→gram→explode map stage runs at session parallelism
    // instead of on one task; no-op when the input is already wide
    widenForCompute(df).select(col(keyCol).as("key") +: carried :+
        split(TextOps.normalizeText(col(textCol)), " ").as("__toks"): _*)
      .select(col("key") +: carried :+ explode(array_distinct(wordGrams(n))).as("shingle"): _*)
      .filter(length(col("shingle")) > 0)
  }

  /** The word n-grams of a `__toks` token-array column, in order (empty
    * when there are fewer than n tokens). The token array must be a
    * COLUMN before the transform lambda references it: interpreted
    * higher-order functions re-evaluate any captured non-attribute
    * subtree once PER ELEMENT, so capturing the split+regex
    * construction directly made gram building O(len²) per doc
    * (measured ~1 ms/doc at 50 tokens — it dominated every dedup
    * pipeline). CollapseProject keeps the projection because the alias
    * is referenced multiple times by non-cheap consumers.
    */
  private def wordGrams(n: Int): Column = {
    val toks = col("__toks")
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Like [[shingles]] but keeps EVERY occurrence (no distinct) — the
    * input for within-doc repetition statistics, where occurrence
    * counts are the signal.
    */
  def shinglesAll(df: DataFrame, textCol: String, keyCol: String, n: Int = 3): DataFrame =
    widenForCompute(df).select(col(keyCol).as("key"),
        split(TextOps.normalizeText(col(textCol)), " ").as("__toks"))
      .select(col("key"), explode(wordGrams(n)).as("shingle"))
      .filter(length(col("shingle")) > 0)

  /** The one banding check of every MinHash path: 1 ≤ numHashes ≤ the
    * md5 family size, bands ≥ 1, and bands divides numHashes. Called
    * before any frame is built, so a bad value fails with the parameter
    * named instead of a `/ by zero` or an empty `aggs.head` — and
    * before the first Spark job.
    */
  private[graft] def checkBanding(numHashes: Int, bands: Int = 1): Unit = {
    require(numHashes >= 1 && numHashes <= md5Salts.size,
      s"numHashes must be in 1..${md5Salts.size} (the md5 family size), got $numHashes")
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
  }

  /** Fixed 60-bit salts for the md5 hash family (md5 of a versioned
    * label — reproducible from the string constants alone).
    */
  val md5Salts: Seq[Long] = (0 until 32).map { i =>
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft-minhash-salt-$i".getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  /** Engine-portable MinHash signatures: base hash = first 60 bits of
    * md5(shingle), family member i = base XOR salt_i (each XOR is a
    * bijection on the hash space — a valid, order-scrambling MinHash
    * family). Every step (md5, hex-prefix parse, XOR, min) is
    * bit-identical in any SQL engine, so the whole signature matrix is
    * oracle-checkable. Single shuffle: one groupBy computes all h mins,
    * and each shingle is hashed once (the h members are XORs of it).
    */
  def minhashSignaturesMd5(sh: DataFrame, numHashes: Int = 16): DataFrame = {
    checkBanding(numHashes)
    // fused native expression: no 32-char hex intermediate per shingle
    val base = GraftFunctions.md5Prefix60(col("shingle").cast("binary"))
    val aggs = md5Salts.take(numHashes).zipWithIndex.map { case (s, i) =>
      min(col("__h").bitwiseXOR(lit(s))).as(s"sig_$i")
    }
    sh.select(col("key"), base.as("__h"))
      .groupBy("key").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH near-duplicates with the wider default banding (32
    * hashes in 8 bands): the [[minhashNearDuplicatesMd5]] pipeline —
    * the same md5 kernels, bucket cap and verification. Returns
    * candidate pairs (key_1 < key_2) with their verified word n-gram
    * Jaccard similarity ≥ `threshold`.
    */
  def minhashNearDuplicates(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucketSize: Int = 200): DataFrame =
    minhashNearDuplicatesMd5(df, textCol, keyCol, shingleSize, numHashes, bands,
      threshold, maxBucketSize)

  /** Drop whole groups whose row count exceeds `cap` — the shared
    * count-window cap idiom (spillable sort state; the window's
    * partitioning feeds any same-keyed downstream aggregation with no
    * extra exchange).
    */
  private[graft] def capGroups(rows: DataFrame, groupCols: Seq[String], cap: Long): DataFrame =
    rows
      .withColumn("__gsz", count(lit(1)).over(
        Window.partitionBy(groupCols.map(col): _*)))
      .filter(col("__gsz") <= cap)
      .drop("__gsz")

  /** Size-capped posting lists per group: one frame of (groupCols...,
    * ks0 array) where any group whose TRUE row count exceeds `cap` is
    * dropped whole, and no aggregation buffer anywhere ever holds more
    * than cap + 1 elements. Long keys take the native
    * [[graft.plans.BoundedCollectLongAgg]] — a single aggregation whose
    * map-side partials ALSO cap, so a degenerate hot bucket's shuffle
    * volume is bounded per task, not just its final buffer. Other key
    * types fall back to the count-window pre-cap ([[capGroups]]) +
    * collect_list, whose state the filter has already bounded. Never
    * collect-then-filter: that materializes the full multi-million-key
    * list of exactly the degenerate group the cap exists for. (A
    * count-agg + semi-join variant measured a full extra shuffle —
    * AQE broadcasts the keep set instead of reusing the exchange.)
    * Both paths count EVERY row against the cap, null keys included
    * (the native aggregate tallies nulls without collecting them), so
    * the kept-group set never depends on the key column's type.
    */
  private def cappedPostings(
      rows: DataFrame, groupCols: Seq[String], cap0: Long): DataFrame = {
    val cap = math.min(cap0, Int.MaxValue - 2L).toInt
    // cap < 1 keeps nothing; short-circuit instead of feeding an
    // invalid cap to the native aggregate (whose require would turn
    // "empty result" into an analysis exception for long keys only)
    if (cap < 1)
      return rows.groupBy(groupCols.map(col): _*)
        .agg(collect_list(col("key")).as("ks0")).limit(0)
    if (rows.schema("key").dataType == org.apache.spark.sql.types.LongType) {
      rows.groupBy(groupCols.map(col): _*)
        .agg(GraftFunctions.boundedCollectLong(col("key"), cap).as("ks0"))
        .filter(col("ks0").isNotNull)
    } else {
      capGroups(rows, groupCols, cap)
        .groupBy(groupCols.map(col): _*)
        .agg(collect_list(col("key")).as("ks0"))
    }
  }

  /** Candidate pairs from band-bucket assignments (key, band, bucket):
    * ONE hash-aggregation builds the size-capped posting list per
    * bucket ([[cappedPostings]]: oversized boilerplate buckets drop
    * whole — docs stay reachable through their other bands, and true
    * exact duplicates belong in exactDedup), then a nested HOF over the
    * sorted list expands the same i<j pairs the old count-window +
    * sort-merge self-join produced, without the window sort or the
    * join's sort+probe. Posting lists are ≤ maxBucketSize keys ≈ KBs
    * per row.
    */
  private def bandPostingPairs(assigned: DataFrame, maxBucketSize: Int): DataFrame =
    postingPairs(cappedPostings(assigned, Seq("band", "bucket"), maxBucketSize))

  /** All i<j key pairs of each posting list (`ks0`) as (key_1, key_2)
    * rows: a nested HOF over the SORTED list, so key_1 < key_2 holds by
    * construction (the self-join's a.key < b.key). Lists of one key
    * emit nothing.
    */
  private def postingPairs(posting: DataFrame): DataFrame = {
    val ks = array_sort(col("ks0"))
    val m = size(ks)
    val pairStructs = flatten(transform(sequence(lit(0), m - 2),
      i => transform(sequence(i + 1, m - 1),
        j => struct(element_at(ks, i + 1).as("key_1"), element_at(ks, j + 1).as("key_2")))))
    posting.filter(m >= 2)
      .select(explode(pairStructs).as("p"))
      .select(col("p.key_1"), col("p.key_2"))
  }

  /** Engine-portable MinHash near-duplicates: md5-family signatures
    * ([[minhashSignaturesMd5]]) and band buckets keyed by the band's RAW
    * signature values (no engine-specific hash of the band), so the
    * bucket assignment, size cap, candidate join, and Jaccard verify are
    * all replayable in any SQL engine — the FULL near-dup output is
    * oracle-checkable (q_minhash_neardup). Scale shape: one signature
    * shuffle, hash-partitioned band join, capped buckets, lazy
    * verification.
    */
  def minhashNearDuplicatesMd5(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7,
      maxBucketSize: Int = 200): DataFrame = {
    // fail fast on bad banding BEFORE the signature job materializes
    checkBanding(numHashes, bands)
    val sh = shingles(df, textCol, keyCol, shingleSize)
    // Materialize ONLY the signature columns (h longs per doc — truly
    // corpus-row sized): the band self-join sides prune different column
    // sets, so without the checkpoint each consumer re-ran the whole
    // normalize+explode+agg pipeline. The per-doc shingle SETS are NOT
    // carried here — collect_set(shingle) is ~shingleSize× the normalized
    // corpus bytes, and materializing that at 100 TB writes a multiple of
    // the corpus to checkpoint storage. Verification instead recomputes
    // shingles lazily for CANDIDATE docs only: the semi-join prunes the
    // corpus BEFORE normalize+explode, so the collect_set touches
    // |candidates| docs, not the corpus.
    val sigM = materialize(minhashSignaturesMd5(sh, numHashes))
    val candidates = md5BandCandidates(sigM, numHashes, bands, maxBucketSize)
    val candKeys = candidates.select(col("key_1").as(keyCol))
      .union(candidates.select(col("key_2").as(keyCol)))
      .distinct()
    jaccardOfPairs(candidates,
        shingles(df.join(candKeys, Seq(keyCol), "left_semi"), textCol, keyCol, shingleSize))
      .filter(col("jaccard") >= threshold)
  }

  /** One (band, bucket) struct per band over an md5 signature frame
    * (key, sig_0…sig_{h-1}): the bucket is the band's RAW signature
    * values, the engine-portable bucket identity every batch, index and
    * streaming path shares.
    */
  private def bandColumns(numHashes: Int, bands: Int): Seq[Column] = {
    val rowsPerBand = numHashes / bands
    (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"sig_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), array(parts: _*).as("bucket"))
    }
  }

  /** Band-bucket candidate pairs over an md5 signature frame (key,
    * sig_0…sig_{h-1}): buckets keyed by each band's RAW signature
    * values, oversized buckets dropped whole, pairs deduped across
    * bands. Shared by the batch pipeline and the batch/stream
    * equivalence spec (the streaming path must produce this exact set).
    * Candidate pairs are tiny next to the corpus; they are materialized
    * so the candidate-key projection and the verify join don't each
    * re-run the band pair generation.
    */
  private[graft] def md5BandCandidates(
      sigM: DataFrame,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int): DataFrame = {
    checkBanding(numHashes, bands)
    materialize(
      bandPostingPairs(
        sigM.select(col("key"), explode(array(bandColumns(numHashes, bands): _*)).as("bb"))
          .select(col("key"), col("bb.band"), col("bb.bucket")),
        maxBucketSize)
        .distinct())
  }

  /** Banded MinHash INDEX of a corpus — built once, persisted, and
    * probed by later batches WITHOUT re-hashing the corpus (the
    * realistic shape at 100 TB: the corpus-side signature job runs once;
    * each incremental batch only hashes itself and equi-joins the
    * index). One row per (band, indexed doc): the band's RAW signature
    * values as the bucket key (engine-portable — no engine-specific
    * hash) plus the doc's FULL signature, so probe-time verification is
    * an estimate over stored signatures and never re-reads corpus text.
    * Degenerate buckets (> maxBucketSize postings — boilerplate shared
    * by everything) drop whole AT BUILD TIME: the cap's count-window is
    * one sort of the index paid once when the index is written, never
    * re-paid per probe batch or per streaming micro-batch. Write with
    * `Ingest.writeClustered(bucket columns = band, bucket)` for a
    * co-located probe join.
    */
  def minhashIndexMd5(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      maxBucketSize: Int = 200): DataFrame =
    capGroups(
      bandedSignatures(df, textCol, keyCol, shingleSize, numHashes, bands),
      Seq("band", "bucket"), maxBucketSize)
      // self-describing index: the shingle size rides along as a
      // constant column (RLE → bytes on disk) so a probe with different
      // hyperparameters fails fast instead of silently matching nothing
      .withColumn("shingle_n", lit(shingleSize))

  /** Fail fast when a persisted index was built with different
    * hyperparameters than the probe's: numHashes and rows-per-band are
    * derived from the stored array sizes, shingleSize from the
    * `shingle_n` metadata column. One limit(1) driver action (a single
    * row group read) per probe call; an empty index validates trivially.
    */
  private[graft] def validateIndex(
      index: DataFrame, shingleSize: Int, numHashes: Int, bands: Int): Unit = {
    val head = index
      .select(size(col("sig")).as("nh"), size(col("bucket")).as("rpb"),
        col("shingle_n"))
      .limit(1).collect()
    head.headOption.foreach { r =>
      val (nh, rpb, sn) = (r.getInt(0), r.getInt(1), r.getInt(2))
      require(nh == numHashes && rpb == numHashes / bands && sn == shingleSize,
        s"index was built with (shingleSize=$sn, numHashes=$nh, " +
          s"rowsPerBand=$rpb) but the probe asked for (shingleSize=" +
          s"$shingleSize, numHashes=$numHashes, rowsPerBand=${numHashes / bands})")
    }
  }

  /** The MinHash matching-fraction similarity estimate between two
    * stored signature arrays — shared by the batch probe, the streaming
    * probe, and the estimator-error query so the three can never drift.
    */
  private[graft] def sigMatchEstimate(a: Column, b: Column, numHashes: Int): Column =
    round(
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x).cast("double") / lit(numHashes), 4)

  /** Uncapped (band, bucket, key, sig) band fan-out of the md5 signature
    * matrix — the shared core of the index build (which caps it) and the
    * probe side (which must NOT pay a cap window over a per-batch frame).
    */
  private def bandedSignatures(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      shingleSize: Int,
      numHashes: Int,
      bands: Int): DataFrame = {
    checkBanding(numHashes, bands)
    val sig = minhashSignaturesMd5(shingles(df, textCol, keyCol, shingleSize), numHashes)
    val sigCols = (0 until numHashes).map(i => col(s"sig_$i"))
    sig.select(col("key"), array(sigCols: _*).as("sig"),
        explode(array(bandColumns(numHashes, bands): _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("key"), col("sig"))
  }

  /** Probe a new batch against a [[minhashIndexMd5]] index: band-bucket
    * equi-join (hash-partitioned — no all-pairs, no corpus scan),
    * candidates deduped across bands, similarity ESTIMATED as the
    * matching-component fraction of the two stored signatures (the
    * standard unbiased MinHash estimator — corpus text is never
    * touched). Degenerate-bucket capping happened at index BUILD
    * ([[minhashIndexMd5]]'s maxBucketSize), so the probe is a pure
    * equi-join — nothing re-sorts the index per batch. Returns ONE row
    * per new-batch doc: is_dup, representative = min flagged index key
    * (null when none), best_est = max estimate among flagged matches.
    */
  def dedupAgainstIndexMd5(
      newDf: DataFrame,
      index: DataFrame,
      textCol: String,
      keyCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    checkBanding(numHashes, bands)
    validateIndex(index, shingleSize, numHashes, bands)
    val probe = bandedSignatures(newDf, textCol, keyCol, shingleSize, numHashes, bands)
      .select(col("band"), col("bucket"),
        col("key").as("new_key"), col("sig").as("new_sig"))
    val idx = index.select(col("band"), col("bucket"),
      col("key").as("idx_key"), col("sig").as("idx_sig"))
    // no distinct on the multi-band candidates: the per-key min/max
    // aggregate below is duplicate-insensitive, and a distinct would
    // shuffle the frame keyed by both full signature arrays
    val cand = probe.join(idx, Seq("band", "bucket"))
      .select(col("new_key"), col("idx_key"), col("new_sig"), col("idx_sig"))
    val flagged = cand
      .withColumn("est", sigMatchEstimate(col("new_sig"), col("idx_sig"), numHashes))
      .filter(col("est") >= threshold)
      .groupBy(col("new_key"))
      .agg(min(col("idx_key")).as("representative"), max(col("est")).as("best_est"))
    newDf.select(col(keyCol).as("new_key"))
      .join(flagged, Seq("new_key"), "left")
      .select(col("new_key").as("key"),
        col("representative").isNotNull.as("is_dup"),
        col("representative"), col("best_est"))
  }

  /** Scalar twin of [[minhashSignaturesMd5]] for one document — the
    * per-row signature the STREAMING path computes locally (no shuffle):
    * identical normalize → distinct word n-grams → min over shingles of
    * (md5_prefix60(shingle) XOR salt_i). Returns null when the doc has
    * no shingles (the batch groupBy emits no row for it).
    */
  private[graft] def minhashSignatureMd5Local(
      text: String,
      shingleSize: Int,
      numHashes: Int): Array[Long] = {
    if (text == null) return null
    val toks = graft.functions.TextOps.normalizeTextString(text).split(" ")
    if (toks.length < shingleSize) return null
    val seen = scala.collection.mutable.HashSet.empty[String]
    val sigs = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i <= toks.length - shingleSize) {
      val s = toks.slice(i, i + shingleSize).mkString(" ")
      if (s.nonEmpty && seen.add(s)) {
        val base = Similarity.md5Prefix60(s)
        var j = 0
        while (j < numHashes) {
          val v = base ^ md5Salts(j)
          if (v < sigs(j)) sigs(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (seen.isEmpty) null else sigs
  }

  /** Verified Jaccard for given candidate pairs against a (key, shingle)
    * set frame: per-doc shingle SETS are aggregated once (bounded by doc
    * length, so a set row stays small even at 100 TB), candidates join
    * them by doc key, and |A∩B| is a per-pair array_intersect expression.
    * This replaces the previous shape (re-join the full shingle frame by
    * pair + groupBy + two size joins = four shuffles and two extra
    * recomputes of the shingle pipeline) with one groupBy and two
    * key-partitioned joins.
    */
  def jaccardOfPairs(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val docs = sh.groupBy("key")
      .agg(collect_set(col("shingle")).as("hs"), count(lit(1)).as("n"))
    pairs
      .join(docs.select(col("key").as("key_1"), col("hs").as("hs1"), col("n").as("n1")), "key_1")
      .join(docs.select(col("key").as("key_2"), col("hs").as("hs2"), col("n").as("n2")), "key_2")
      .withColumn("inter", size(array_intersect(col("hs1"), col("hs2"))).cast("long"))
      .select(col("key_1"), col("key_2"),
        round(col("inter") * lit(1.0) / (col("n1") + col("n2") - col("inter")), 4).as("jaccard"))
  }

  /** Engine-portable SimHash: 60-bit fingerprint from md5 token hashes —
    * bit b of the fingerprint is set iff distinct tokens with bit b set
    * outnumber those with it clear (strict majority; tie → 0). Runs as
    * one explode + one combining groupBy over a single 60-counter vote
    * buffer per doc. Every step (md5, hex parse, shift/mask, vote,
    * compare) is bit-identical in any SQL engine → the fingerprint
    * column is oracle-checkable.
    */
  def simhashMd5(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    val h = GraftFunctions.md5Prefix60(col("tok").cast("binary"))
    // ONE 60-counter vote buffer per group (plans.SimHashVoteAgg) — value
    // is bit-identical to the 60-sum expression form the oracle replays
    df.select(col(keyCol).as("key"),
        explode(array_distinct(split(TextOps.normalizeText(col(textCol)), " "))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("key"), h.as("__h"))
      .groupBy("key").agg(GraftFunctions.simhashVotes(col("__h")).as("simhash"))
  }

  /** Scalar twin of [[simhashMd5]] for one document — the per-row
    * fingerprint the STREAMING path computes locally (no shuffle): the
    * same distinct normalized tokens, md5-prefix-60 hashes and 60-bit
    * vote fold, so it equals the batch aggregate bit for bit. A doc with
    * no tokens folds zero votes to 0.
    */
  private[graft] def simhashMd5Local(text: String): Long = {
    val votes = new Array[Int](60)
    if (text != null)
      TextOps.normalizeTextString(text).split(" ").distinct.foreach { t =>
        if (t.nonEmpty) graft.plans.SimHashVoteAgg.vote(votes,
          graft.plans.Md5Prefix60Expr.hash(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
    graft.plans.SimHashVoteAgg.fold(votes)
  }

  /** The md5 SimHash fingerprint splits into 4 chunks of 15 bits for
    * candidate generation, in batch and in the streaming twin alike.
    */
  private[graft] val simhashChunkBits = 15
  private[graft] val simhashChunks = 60 / simhashChunkBits

  /** SimHash near-duplicates over the engine-portable 60-bit md5
    * fingerprint ([[simhashMd5]]): a banded chunk join where candidates
    * share at least one of the four 15-bit chunks (guarantees recall for
    * hamming distance < 4), then exact hamming verify via
    * bit_count(xor). Hash-partitioned on (chunk, value) — never an
    * all-pairs comparison. Every step — fingerprint, chunk split,
    * candidate join, hamming verify — is bit-identical in any SQL
    * engine, so the FULL near-dup output is oracle-checkable
    * (q_simhash_neardup), not just the fingerprint.
    */
  def simhashNearDuplicatesMd5(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    val mask = (1L << simhashChunkBits) - 1
    val chunks = (0 until simhashChunks).map(i =>
      struct(lit(i).as("chunk"),
        shiftright(col("simhash"), i * simhashChunkBits).bitwiseAND(mask).as("val")))
    val keyed = simhashMd5(df, textCol, keyCol)
      .select(col("key"), col("simhash"), explode(array(chunks: _*)).as("cc"))
      .select(col("key"), col("simhash"), col("cc.chunk"), col("cc.val"))
    // degenerate-bucket cap, same contract as every other candidate
    // path: a chunk value shared by m docs (identical boilerplate →
    // identical fingerprints → ALL chunks collide) yields m²/2 join
    // rows; buckets over the cap are dropped whole — exact duplicates
    // belong in exactDedup, and near-dups stay reachable through their
    // other chunks. Shape: a map-side-combining count aggregation finds
    // the (few, by definition) oversized buckets and the chunk frame
    // anti-joins that tiny set (AQE broadcast). NOT the count-window
    // idiom here: the window would force a full sort-exchange of the
    // chunk frame that nothing downstream reuses — the candidate join
    // broadcasts at small scale and hash-partitions at large, either
    // way on its own exchange (measured: 12.9 → ~1 MiB query shuffle
    // at sf0.1). The minhash paths keep the window/posting idiom
    // because their downstream aggregation reuses its exchange.
    val oversized = keyed.groupBy(col("chunk"), col("val"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select(col("chunk"), col("val"))
    val capped = keyed.join(oversized, Seq("chunk", "val"), "left_anti")
    capped.as("a")
      .join(capped.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.val") === col("b.val") &&
          col("a.key") < col("b.key"))
      .select(col("a.key").as("key_1"), col("b.key").as("key_2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // filter BEFORE the distinct: hamming is a pure function of the
      // pair, so the result set is identical, but most candidates fail
      // the hamming test and never enter the distinct's shuffle
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding-cosine near-duplicates: pairs above the similarity
    * threshold from the ANN index (LSH buckets — the scale path), plus a
    * representative assignment (every member points at the smallest id
    * it is near — a single-pass approximation of connected components,
    * exact for clique-shaped duplicate groups).
    */
  def embeddingNearDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      numPlanes: Int = 8): DataFrame = {
    val pairs = Similarity.lshTopK(df, idCol, vecCol, k = 10, numPlanes = numPlanes)
      .filter(col("cos") >= threshold)
      .select(col("vec_id"), col("neighbor_id"), col("cos"))
    pairs
      .groupBy("vec_id")
      .agg(min(when(col("neighbor_id") < col("vec_id"), col("neighbor_id"))).as("rep0"),
        max(col("cos")).as("max_cos"))
      .select(col("vec_id"),
        coalesce(col("rep0"), col("vec_id")).as("representative"),
        col("max_cos"))
  }

  /** Duplicate clusters from candidate pairs: connected components by
    * iterative min-label propagation (each key adopts the smallest label
    * among itself and its neighbours; converges in O(graph diameter)
    * rounds — duplicate graphs are near-cliques, so typically 2-3).
    * Output: [key, cluster] where cluster = smallest key in the
    * component. Each round is one shuffle join + one agg; labels are
    * checkpointed every few rounds so the plan never grows unboundedly
    * (the ALS-lineage lesson).
    */
  def duplicateClusters(
      pairs: DataFrame, // [key_1, key_2]
      maxIter: Int = 20,
      maxLocalEdges: Long = 1000000L): DataFrame = {
    ensureCheckpointDir(pairs.sparkSession)
    // The edge set is the DUPLICATE graph — tiny relative to the corpus
    // (near-dup pairs above threshold), even at 100 TB usually millions,
    // not billions. Under the cap, a driver union-find replaces ~10
    // distributed jobs (O(diameter) join rounds) with ONE job: collect
    // up to cap+1 edges directly (the old checkpoint→count→collect
    // triple cost two extra job rounds per invocation — measured ~0.5 s
    // of q_workflow_text). Same output (min key per component), exact
    // for any diameter. The 1M-edge default keeps the collected rows
    // well under a 1g spark.driver.maxResultSize; raise it only
    // alongside driver memory. Over the cap: label propagation, the
    // distributed path (which pays one re-execution of the pair
    // pipeline into the materialize — acceptable on the rare
    // billion-edge graphs that overflow the cap). Mirrors the capped
    // dual-path of bruteForceTopK.
    val sel = pairs.select(col("key_1"), col("key_2"))
    val capN = math.min(maxLocalEdges, Int.MaxValue - 2L).toInt
    // executeTake's partition escalation re-runs only the FINAL stage
    // per step (upstream shuffle stages are computed once and reused),
    // so the probe costs ~one execution of the pair pipeline. A session
    // conf override of limit.initialNumPartitions would shave the
    // escalation steps but mutates process-shared state under
    // concurrent queries — measured no win, not worth the race.
    val probe = sel.limit(capN + 1).collect()
    if (probe.length <= capN) return unionFindLocalRows(probe, sel)
    // the a→b / b→a union branches are different projections, so without
    // the materialize both would recompute the upstream join
    val p = materialize(sel)
    val edges = p.select(col("key_1").as("a"), col("key_2").as("b"))
      .union(p.select(col("key_2").as("a"), col("key_1").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = materialize(edges.groupBy("a")
      .agg(min(col("b")).as("mb"))
      .select(col("a").as("key"), least(col("mb"), col("a")).as("cluster")))
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // One round = neighbour-min propagation + pointer jumping. The
      // neighbour step alone needs O(component diameter) rounds (a chain
      // of length d converges in d rounds); adding the label-of-label
      // shortcut (cluster ← labels(cluster).cluster, the classic
      // pointer-doubling move) makes the reached distance roughly double
      // per round, so convergence is O(log d) — a 300-link chain closes
      // in ~9 rounds instead of 300 (SkewSpec plants exactly that). Both
      // lookups join the same small labels frame hash-partitioned on its
      // key; labels(x) ≤ x and same-component are loop invariants, so the
      // composed least() stays a correct component label.
      val stepped = edges
        .join(labels.withColumnRenamed("key", "b").withColumnRenamed("cluster", "nb"), "b")
        .groupBy(col("a").as("key"))
        .agg(min(col("nb")).as("neigh"))
        .join(labels, "key")
        .select(col("key"), least(col("neigh"), col("cluster")).as("cand"),
          col("cluster").as("old"))
      val next = materialize(stepped
        .join(labels.select(col("key").as("cand"), col("cluster").as("jump")), Seq("cand"), "left")
        .select(col("key"),
          least(coalesce(col("jump"), col("cand")), col("cand")).as("cluster"),
          col("old")))
      val row = next.agg(sum((col("cluster") < col("old")).cast("long"))).first()
      changed = if (row.isNullAt(0)) 0L else row.getLong(0)
      labels = next.select("key", "cluster")
      it += 1
    }
    edges.unpersist()
    // unconverged labels split one component into several "clusters", and
    // dropNearDuplicates would then keep several representatives of one
    // duplicate group — surface it instead of returning silently
    if (changed > 0)
      System.err.println(
        s"[graft] duplicateClusters did NOT converge after $maxIter rounds " +
          s"($changed labels still changing): components with diameter > $maxIter " +
          "are split — raise maxIter")
    labels
  }

  /** Leakage-safe train/validation/test split: assign every row a split
    * by hashing its duplicate-CLUSTER representative instead of its own
    * id, so a near-duplicate group can never straddle the train/test
    * boundary — the evaluation-contamination failure mode a naive
    * row-hash split bakes in (a test document whose near-copy sits in
    * train is measured as generalization but is memorization).
    *
    * `pairs` is the near-dup edge set ([key_1, key_2], e.g. from
    * [[ngramJaccardPairs]] or the MinHash band candidates); singleton
    * documents (no edge) represent themselves. The split itself is the
    * deterministic md5-threshold assignment of
    * [[graft.sources.Sampling.deterministicSplit]] — append-safe,
    * engine-portable, reproducible at any scale. The cluster map is
    * broadcast (the duplicate graph is tiny relative to the corpus);
    * everything else is the map-only hash filter.
    *
    * Output: the input columns + `rep` (cluster representative, = own
    * id for singletons) + `split`.
    */
  def leakageSafeSplit(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      weights: Seq[(String, Double)]): DataFrame = {
    val clusters = duplicateClusters(pairs)
      .select(col("key").as(idCol), col("cluster"))
    val withRep = df
      .join(broadcast(clusters), Seq(idCol), "left")
      .withColumn("rep", coalesce(col("cluster"), col(idCol)))
      .drop("cluster")
    graft.sources.Sampling.deterministicSplit(withRep, weights, Seq("rep"))
  }

  /** Driver-side connected components for a capped edge set: union-find
    * with path compression, representative = smallest key per component
    * (identical contract to the distributed label propagation, but exact
    * for ANY component diameter and a single Spark action). Keys keep
    * their original type.
    */
  private def unionFindLocalRows(
      rows: Array[org.apache.spark.sql.Row], like: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import scala.collection.mutable
    val pairs = like
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    val ord = rowKeyOrdering
    rows.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { // union by min key ⇒ the root IS the representative
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val keyType = pairs.schema.fields(0).dataType
    val out = parent.keys.toSeq.map(k => Row(k, find(k)))
    // spread the result over real partitions — a single-partition frame
    // serializes every downstream consumer (anti-joins, writes) onto one
    // task even when the cluster output is millions of keys
    val parts = math.max(1,
      math.min(pairs.sparkSession.sparkContext.defaultParallelism, out.size / 50000 + 1))
    pairs.sparkSession.createDataFrame(
      pairs.sparkSession.sparkContext.parallelize(out, parts),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("key", keyType),
        org.apache.spark.sql.types.StructField("cluster", keyType))))
  }

  /** Ordering for duplicate-cluster keys (long / int / string — the key
    * types our callers use); matches Spark's `least()` semantics used by
    * the distributed path.
    */
  private val rowKeyOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(x: Any, y: Any): Int = (x, y) match {
      case (a: Long, b: Long)     => java.lang.Long.compare(a, b)
      case (a: Int, b: Int)       => Integer.compare(a, b)
      case (a: String, b: String) => compareUtf8(a, b)
      case (a: Number, b: Number) => java.lang.Double.compare(a.doubleValue(), b.doubleValue())
      case _ => throw new IllegalArgumentException(
        s"unsupported duplicate-cluster key type: ${x.getClass}")
    }
  }

  /** Spark's min/least order strings by UTF-8 BYTES (code points), while
    * java.lang.String.compareTo orders by UTF-16 code units — they
    * disagree when supplementary-plane characters mix with U+E000–U+FFFF.
    * The driver union-find must pick the same representative as the
    * distributed label propagation regardless of which side of the
    * maxLocalEdges cap the input lands, so compare UTF-8 bytes here.
    */
  private def compareUtf8(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Treatment for near-duplicates: keep ONE row per duplicate cluster
    * (the smallest key — the cluster representative) plus every row that
    * belongs to no cluster. The join against the small cluster frame is
    * broadcast; the fact side streams.
    */
  def dropNearDuplicates(
      df: DataFrame,
      keyCol: String,
      clusters: DataFrame): DataFrame = {
    val dropKeys = clusters
      .filter(col("key") =!= col("cluster")) // non-representatives
      .select(col("key").as(keyCol))
    df.join(broadcast(dropKeys), Seq(keyCol), "left_anti")
  }

  /** Benchmark decontamination: for every corpus doc, how many distinct
    * word n-grams it shares with a benchmark corpus, plus the containment
    * ratio shared/|doc n-grams| — the standard train/test-overlap check
    * before training on scraped data. Scale shape: the benchmark's
    * DISTINCT shingle set is tiny next to the corpus (benchmarks are MBs,
    * corpora are TBs), so the equi-join broadcasts it (AQE decides from
    * stats); the corpus side streams map-side. Docs sharing nothing are
    * absent from the result (inner join) — callers wanting the clean set
    * anti-join on the returned keys.
    */
  def contamination(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int = 3,
      minShared: Long = 1L): DataFrame = {
    val docSh = shingles(corpus, textCol, keyCol, n)
    val benchSh = shingles(benchmark, textCol, keyCol, n).select("shingle").distinct()
    val sizes = docSh.groupBy("key").agg(count(lit(1)).as("n_shingles"))
    docSh.join(benchSh, "shingle")
      .groupBy("key")
      .agg(count(lit(1)).as("shared_shingles"))
      .join(sizes, "key")
      .select(col("key"), col("shared_shingles"), col("n_shingles"),
        round(col("shared_shingles") * lit(1.0) / col("n_shingles"), 4).as("containment"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** Bloom-filter decontamination pre-screen for benchmark sets too big
    * to broadcast exactly: build one Bloom filter over the benchmark's
    * distinct shingles (`DataFrameStatFunctions.bloomFilter` — a
    * distributed build, merged bitwise), broadcast the FILTER (bits, not
    * rows), and count probable-shared shingles map-side. NO FALSE
    * NEGATIVES: a doc sharing ≥1 shingle is always flagged; false
    * positives inflate counts by ≤ fpp, so use this as the cheap first
    * pass and confirm survivors with the exact [[contamination]] join.
    * At 100 TB the exact join shuffles the corpus shingles; this pass
    * shuffles NOTHING of the corpus (one aggregation over it).
    */
  def contaminationBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      textCol: String,
      keyCol: String,
      n: Int = 3,
      expectedShingles: Long = 10000000L,
      fpp: Double = 0.001): DataFrame = {
    val benchSh = shingles(benchmark, textCol, keyCol, n).select("shingle").distinct()
    val bloom = benchSh.stat.bloomFilter("shingle", expectedShingles, fpp)
    val bloomBc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val hit = udf((s: String) => bloomBc.value.mightContainString(s))
    shingles(corpus, textCol, keyCol, n)
      .groupBy("key")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(hit(col("shingle")), 1L).otherwise(0L)).as("probable_shared"))
      .filter(col("probable_shared") >= 1L)
  }

  /** Exact n-gram Jaccard for every intersecting pair inside a blocking
    * key (e.g. same source/lang). Intersections come straight from the
    * shingle equi-join — only pairs that actually SHARE a shingle ever
    * materialize (an explicit all-pairs × shingle-set join would blow up
    * quadratically in block size before filtering).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      blockCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxShingleDf: Long = 1000L): DataFrame = {
    // stop-shingle skew guard: a shingle shared by m docs in a block
    // ("of the …" boilerplate) contributes m²/2 candidate pairs — at
    // 100 TB one ubiquitous 3-gram makes the stage quadratic. Shingles
    // with df > maxShingleDf are dropped (standard stop-shingle
    // filtering), so the similarity is n-gram Jaccard over the non-stop
    // shingle space — identical to plain Jaccard whenever no shingle
    // exceeds the cap.
    // One hash-aggregation on (block, shingle) replaces the old
    // count-window + sort-merge self-join: the posting list per shingle
    // (collect_list, bounded by the df cap ⇒ ≤ maxShingleDf keys ≈ 8 KB
    // at the default) carries the cap check (size(ks)) AND the pair
    // expansion (nested HOF over the sorted list — the same m²/2 pairs
    // the join produced, without the window sort or the join's
    // sort+probe; two stage rounds fewer, measured ~0.6 s of
    // q_workflow_text at sf0.1).
    // 8-byte hashed shingles from here on: the aggregation and posting
    // lists carry a long instead of a ~25-byte 3-gram string. A 64-bit
    // collision inside one block would need ~2^32 distinct shingles per
    // block to become likely — far beyond any real block size under the
    // df cap.
    val sh = shinglesCarrying(df, textCol, keyCol, n, Seq(blockCol))
      .select(col("key"), col(blockCol).as("block"), xxhash64(col("shingle")).as("shingle"))
    // stop-shingle cap via the shared size-capped posting aggregation
    // (see cappedPostings: bounded buffers everywhere, map-side-capped
    // partials for long keys, count-window fallback otherwise)
    val posting = cappedPostings(sh, Seq("block", "shingle"), maxShingleDf)
    // post-cap shingle count per doc — the Jaccard denominators —
    // derived from the kept posting lists (bounded arrays)
    val sizes = posting.select(explode(col("ks0")).as("key"))
      .groupBy("key").agg(count(lit(1)).as("n"))
    postingPairs(posting)
      .groupBy("key_1", "key_2")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("key").as("key_1"), col("n").as("n1")), "key_1")
      .join(sizes.select(col("key").as("key_2"), col("n").as("n2")), "key_2")
      .select(col("key_1"), col("key_2"),
        round(col("inter") * lit(1.0) / (col("n1") + col("n2") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SymSpell-style deletion-neighborhood fuzzy pairs (entity
    * resolution / typo dedup): every normalized string emits its
    * ≤`maxDist`-deletion neighborhood, and two strings within
    * Levenshtein distance d ≤ maxDist NECESSARILY share a variant
    * (every edit is simulated by deletions on one or both sides —
    * the SymSpell completeness argument), so candidate generation is
    * an equi-join on the variant — never an all-pairs or per-block
    * quadratic scan, and blocking recall is exact rather than
    * heuristic. Candidates verify with the codegen'd `levenshtein`.
    *
    * Scale: a string of length L emits L+1 variants, each carried as an
    * xxhash64 long through the shuffle; the variant-frequency cap drops
    * degenerate variants shared by more than `maxVariantFreq` strings
    * (same stop-shingle guard as [[ngramJaccardPairs]] — a variant
    * shared by m strings contributes m²/2 join rows). Pairs returned as
    * (key_1 < key_2, dist ∈ {0, 1}); dist 0 = exact duplicates after
    * normalization.
    */
  def editDistancePairs(
      df: DataFrame,
      textCol: String,
      keyCol: String,
      maxDist: Int = 1,
      maxVariantFreq: Long = 1000L): DataFrame = {
    require(maxDist == 1 || maxDist == 2, "maxDist must be 1 or 2 (variant count is L^d)")
    // keys keep their input type (string/uuid keys order fine with <;
    // a cast("long") here would null string keys and silently return
    // ZERO pairs)
    val base = df.select(col(keyCol).as("key"), lower(trim(col(textCol))).as("s"))
    def dels(c: Column): Column = when(length(c) > 0,
      transform(sequence(lit(1), length(c)),
        i => concat(c.substr(lit(1), i - lit(1)), c.substr(i + lit(1), length(c)))))
      .otherwise(array().cast("array<string>"))
    val s = col("s")
    // ≤maxDist-deletion neighborhood; depth 2 flattens the per-deletion
    // neighborhoods of the depth-1 strings (L² variants — entity-string
    // lengths, not documents)
    val neighborhood =
      if (maxDist == 1) concat(array(s), dels(s))
      else concat(array(s), dels(s), flatten(transform(dels(s), d => dels(d))))
    val v = base
      .select(col("key"), s, explode_outer(array_distinct(neighborhood)).as("variant"))
      .select(col("key"), s, xxhash64(col("variant")).as("variant"))
      .withColumn("__vf", count(lit(1)).over(Window.partitionBy("variant")))
      .filter(col("__vf") <= maxVariantFreq)
      .drop("__vf")
    v.as("a")
      .join(v.as("b"),
        col("a.variant") === col("b.variant") && col("a.key") < col("b.key"))
      .select(col("a.key").as("key_1"), col("b.key").as("key_2"),
        col("a.s").as("s1"), col("b.s").as("s2"))
      .distinct() // the same pair can meet through several shared variants
      .select(col("key_1"), col("key_2"), levenshtein(col("s1"), col("s2")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Cross-source shingle-overlap matrix: exact n-gram-set Jaccard
    * between every pair of corpus sources — the "how much does crawl A
    * repeat crawl B" diagnostic that decides whether two acquisitions
    * are worth ingesting separately (doc-level near-dup asks the same
    * question per document; this is the corpus-level roll-up).
    *
    * Output contract: DENSE — every unordered source pair appears,
    * zero-overlap pairs included (inter=0, jaccard=0.0), so a consumer
    * can tell "no overlap" from "pair missing". Ordering within a pair
    * is source_a < source_b lexicographically.
    *
    * 100 TB posture: ONE corpus-sized shuffle total — the shingle
    * stream aggregates straight to (shingle → sorted source set) with
    * map-side partial collect_set dedup (no separate distinct pass, no
    * self-join); every downstream frame is vocab-sized. Per-shingle
    * pair fan-out is |sources|²-bounded, which holds ONLY while sources
    * are genuinely a handful, so a one-pass approx_count_distinct probe
    * refuses a high-cardinality column (doc_id passed as the source by
    * mistake would make the sets corpus-sized) before any heavy work —
    * the same guard idiom as Association.guardCardinality. COST NOTE:
    * the probe is an EAGER extra scan of the source column at
    * DataFrame-construction time (projection-only, so parquet reads one
    * column; it is the price of failing fast instead of detonating a
    * quadratic plan mid-job). approx_count_distinct carries ~2% error,
    * so estimates within ±5% of `maxSources` are re-checked with an
    * exact count_distinct on the same single-column projection before
    * accepting or refusing — the boundary never turns on sketch noise.
    * Per-source
    * set sizes are a |sources|-row broadcast; the dense pair frame is
    * built by a double explode of the one-row collected source array —
    * map-only, no cross join in the plan.
    */
  def sourceOverlap(
      df: DataFrame,
      textCol: String,
      sourceCol: String,
      n: Int = 3,
      maxSources: Int = 64): DataFrame = {
    require(maxSources > 0, "maxSources must be positive")
    val approx = df.agg(approx_count_distinct(col(sourceCol)).as("c"))
      .collect()(0).getLong(0)
    // re-check the ±5% boundary band exactly: the sketch's ~2% error must
    // not accept 65 true sources or refuse 63 right at the limit
    val nSrc =
      if (approx > maxSources * 0.95 && approx < maxSources * 1.05)
        df.agg(countDistinct(col(sourceCol)).as("c")).collect()(0).getLong(0)
      else approx
    require(nSrc <= maxSources,
      s"source column '$sourceCol' has ~$nSrc distinct values " +
        s"(maxSources=$maxSources): sourceOverlap is quadratic in the " +
        "source count — pass a corpus/crawl-level column, or raise " +
        "maxSources deliberately for a known-bounded set")
    val wide = widenForCompute(df)
    // the single corpus-sized pass: shingle stream → per-shingle sorted
    // source set (collect_set dedups map-side, the guard bounds set
    // width). Two consumers (sizes, pair counts): cut lineage once —
    // the materialized frame is vocab-sized, not corpus-sized.
    val sh = materialize(wide.select(col(sourceCol).as("src"),
        explode(TextOps.ngramsFromTokens(TextOps.tokens(col(textCol)), n)).as("g"))
      .filter(length(col("g")) > 0)
      .groupBy("g").agg(sort_array(collect_set(col("src"))).as("srcs")))
    val sizes = sh.select(explode(col("srcs")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("n_sh"))
    // ordered within-set pairs by map-only HOF expansion (srcs is sorted,
    // so x < y holds by construction — no join, no filter re-check)
    val inter = sh
      .select(explode(expr(
        """flatten(transform(srcs, (x, i) ->
           transform(slice(srcs, i + 2, size(srcs)), y ->
           struct(x AS source_a, y AS source_b))))""")).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    // dense pair skeleton: all unordered pairs from the (≤ maxSources)-row
    // sizes frame, via a 1-row collect_list + double explode (map-only)
    val pairs = sizes
      .agg(sort_array(collect_list(struct(col("src"), col("n_sh")))).as("all"))
      .select(explode(col("all")).as("a"), col("all"))
      .select(col("a"), explode(col("all")).as("b"))
      .filter(col("a.src") < col("b.src"))
      .select(col("a.src").as("source_a"), col("b.src").as("source_b"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
    // broadcast the ≤|sources|²-row aggregated side (a left-outer join
    // can only build on the right)
    pairs
      .join(broadcast(inter), Seq("source_a", "source_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("inter"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 4).as("jaccard"))
  }
}
