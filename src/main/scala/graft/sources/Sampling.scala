package graft.sources

import graft.plans.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ref: data_ingest/data_sampling.py:8-149 `data_sample`.
  * Random or stratified sampling; stratified modes:
  *  - "population": proportional (same fraction in every stratum),
  *  - "balanced": equalize strata to fraction * smallest-stratum size.
  * Strata key is the concat of the strata columns (ref :128-146); strata
  * counts are one distributed agg, the fractions map is O(#strata) driver
  * state, and the sample itself is a single `sampleBy` pass (no shuffle).
  */
object Sampling {

  private val sep = ""

  def dataSample(
      df: DataFrame,
      fraction: Double = 0.1,
      method: String = "random",
      strataCols: Seq[String] = Nil,
      stratifiedType: String = "population",
      seed: Long = 42L,
      maxStrata: Int = 10000): DataFrame = {
    require(fraction > 0 && fraction <= 1, "fraction must be in (0, 1]")
    method match {
      case "random" => df.sample(withReplacement = false, fraction, seed)
      case "stratified" =>
        require(strataCols.nonEmpty, "stratified sampling needs strata columns")
        // ref data_sampling: strata columns whose cardinality would blow
        // up the fraction map are skipped from the key (high-cardinality
        // strata skipped); if none survive, degrade to random sampling
        val perColCap = math.max(2, maxStrata / strataCols.size)
        val cardExprs = strataCols.map(c => countDistinct(col(c)).as(c))
        val cardRow = df.agg(cardExprs.head, cardExprs.tail: _*).collect()(0)
        val usable = strataCols.filter(c => cardRow.getAs[Long](c) <= perColCap)
        if (usable.isEmpty)
          return df.sample(withReplacement = false, fraction, seed)
        val keyed = df.withColumn(
          "__stratum",
          concat_ws(sep, usable.map(c => col(c).cast("string")): _*))
        val counts = keyed.groupBy("__stratum").count().collect()
        require(counts.length <= maxStrata,
          s"too many strata (${counts.length} > $maxStrata) — refusing driver-side fraction map")
        val fractions: Map[String, Double] = stratifiedType match {
          case "population" => counts.map(r => r.getString(0) -> fraction).toMap
          case "balanced" =>
            val minCount = counts.map(_.getLong(1)).min.toDouble
            counts.map { r =>
              r.getString(0) -> math.min(1.0, fraction * minCount / r.getLong(1))
            }.toMap
          case t => throw new IllegalArgumentException(s"unknown stratified type: $t")
        }
        keyed.stat.sampleBy("__stratum", fractions, seed).drop("__stratum")
      case m => throw new IllegalArgumentException(s"unknown sampling method: $m")
    }
  }

  /** 60-bit hex threshold encoding `fraction`: a row whose
    * `substring(md5(key.cast("binary")), 1, 15)` sorts strictly below it is kept.
    * md5 is bit-identical across engines and languages, so the kept set
    * is exactly reproducible anywhere — this is what makes the sample
    * oracle-verifiable AND stable under repartitioning, retries, and
    * cluster size, none of which holds for seeded-RNG `sample()` (whose
    * output depends on partition layout).
    */
  def hashThresholdHex(fraction: Double): String = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0, 1]")
    if (fraction >= 1.0) "g" // sorts above every hex digest prefix
    else {
      val thr = math.floor(fraction * (1L << 60)).toLong
      f"$thr%015x"
    }
  }

  /** Same threshold as a long on the 60-bit hash space — the numeric
    * twin of [[hashThresholdHex]] for the native `md5_prefix60`
    * expression (fixed-width lowercase-hex string order ≡ numeric
    * order, so both comparisons keep the identical row set).
    */
  def hashThresholdLong(fraction: Double): Long = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0, 1]")
    if (fraction >= 1.0) 1L << 60
    else math.floor(fraction * (1L << 60)).toLong
  }

  /** md5-prefix hash of the concatenated key columns via the fused
    * native `md5_prefix60` expression (no 32-char hex string built and
    * re-parsed per row; stays in whole-stage codegen).
    */
  private def keyHash(keyCols: Seq[String]): org.apache.spark.sql.Column =
    GraftFunctions.joinedKeyHash("", keyCols)

  /** Deterministic content-hash sampling: keep rows whose md5(key-expr)
    * prefix falls below [[hashThresholdHex]](fraction). Map-only — no
    * shuffle, no driver state, no RNG; the same document is kept or
    * dropped identically at any scale and on any engine, which is the
    * sampling primitive a 100 TB training-data pipeline actually wants
    * (stable holdout sets, reproducible subsampling across reruns).
    * The key columns should identify the entity being sampled (a doc id,
    * a user id for leakage-safe user-level splits, …).
    */
  def deterministicSample(df: DataFrame, fraction: Double, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "deterministic sampling needs key columns")
    df.filter(keyHash(keyCols) < lit(hashThresholdLong(fraction)))
  }

  /** Deterministic stratified sampling with EXACT per-stratum sizes:
    * rows rank by md5-prefix hash inside their stratum and the lowest
    * `target` ranks are kept —
    *  - "population": target = ⌊fraction · stratum size⌋ (proportional),
    *  - "balanced":   target = ⌊fraction · smallest-stratum size⌋ for
    *    every stratum (equalized — the ref's balanced contract,
    *    data_sampling.py:128-146, but exact instead of Bernoulli).
    * No RNG anywhere: the kept set is a pure function of the key
    * columns, so it is reproducible across engines (DuckDB replays it
    * row-for-row), reruns, and cluster layouts.
    *
    * Scale: one shuffle by stratum for the rank window, and in BOTH
    * modes the rank filter compares against a LITERAL so Spark's
    * WindowGroupLimit pushes a per-stratum top-k below the exchange —
    * each map task ships at most target rows per stratum, never a hot
    * stratum's full sort. Population mode gets its exact per-stratum
    * targets from a first-pass aggregate (strata cols only — column-
    * pruned scan, map-side combined) broadcast-joined back; the literal
    * pre-filter uses the LARGEST stratum's target, which every
    * per-stratum target is ≤ to, so the exact filter only tightens it.
    * Driver state is O(1) (one max/min count) in both modes. For
    * heavily skewed strata where even ⌊fraction·hottest⌋ rows per map
    * task is too much, prefer the threshold-based
    * [[deterministicSample]] per stratum (approximate sizes).
    *
    * Rows with a NULL in any strata column are dropped, matching the
    * reference's stratified sampler (data_sampling.py na.drop on the
    * strata columns); this also keeps genuinely-empty-string strata
    * from colliding with nulls in the concat key.
    */
  def deterministicStratifiedSample(
      df: DataFrame,
      fraction: Double,
      strataCols: Seq[String],
      keyCols: Seq[String],
      stratifiedType: String = "population"): DataFrame = {
    require(fraction > 0 && fraction <= 1, "fraction must be in (0, 1]")
    require(strataCols.nonEmpty && keyCols.nonEmpty, "strata and key columns required")
    import org.apache.spark.sql.expressions.Window
    val keyed = df.na.drop("any", strataCols).withColumn("__stratum",
      concat_ws(sep, strataCols.map(c => col(c).cast("string")): _*))
    val h = keyHash(keyCols)
    // tie-break through every remaining column: rows sharing the key
    // columns still rank deterministically (fully identical rows are
    // interchangeable, so the kept MULTISET stays a pure function of the
    // data even when keyCols aren't unique)
    val tieCols = keyCols ++ df.columns.filterNot(keyCols.contains)
    val w = Window.partitionBy(col("__stratum"))
      .orderBy((h.asc +: tieCols.map(c => col(c).asc)): _*)
    val ranked = keyed.withColumn("__rn", row_number().over(w))
    stratifiedType match {
      case "population" =>
        val counts = keyed.groupBy("__stratum").agg(count(lit(1)).as("__cnt"))
        val maxRow = counts.agg(max("__cnt")).first()
        if (maxRow.isNullAt(0)) return df.limit(0) // empty input
        val capLit = math.floor(fraction * maxRow.getLong(0)).toLong
        val targets = counts
          .select(col("__stratum"), floor(lit(fraction) * col("__cnt")).as("__t"))
        ranked
          .filter(col("__rn") <= lit(capLit)) // literal → WindowGroupLimit
          .join(broadcast(targets), Seq("__stratum"))
          .filter(col("__rn") <= col("__t")) // exact proportional target
          .drop("__stratum", "__rn", "__t")
      case "balanced" =>
        val minRow = keyed.groupBy("__stratum").count().agg(min("count")).first()
        if (minRow.isNullAt(0)) return df.limit(0) // empty input
        val target = math.floor(fraction * minRow.getLong(0)).toLong
        ranked
          .filter(col("__rn") <= lit(target))
          .drop("__stratum", "__rn")
      case t => throw new IllegalArgumentException(s"unknown stratified type: $t")
    }
  }

  /** Deterministic train/validation/test split: assigns each row a split
    * label from cumulative md5-prefix thresholds. One map-only pass, the
    * same row lands in the same split forever (append-safe at 100 TB).
    * `weights` need not sum to 1; they are normalized.
    */
  def deterministicSplit(
      df: DataFrame,
      weights: Seq[(String, Double)],
      keyCols: Seq[String]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    val cum = weights.scanLeft(0.0)(_ + _._2 / total).tail
    val h = keyHash(keyCols)
    val labeled = weights.zip(cum).init.foldRight(lit(weights.last._1)) {
      case (((name, _), cumW), elseCol) =>
        when(h < lit(hashThresholdLong(cumW)), lit(name)).otherwise(elseCol)
    }
    df.withColumn("split", labeled)
  }

  /** Per-source token targets from explicit mixture weights:
    * target_s = ⌊budget · w_s / Σw⌋. Data-independent — computed once on
    * the driver, so the identical targets can be embedded in an external
    * replay (the q_mixture_sample oracle interpolates them as literals).
    */
  def mixtureTargets(weights: Map[String, Double], tokenBudget: Long): Map[String, Long] = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0), "weights must be non-negative")
    val total = weights.values.sum
    require(total > 0, "at least one weight must be positive")
    weights.map { case (s, w) => s -> math.floor(tokenBudget * w / total).toLong }
  }

  /** Temperature-weighted per-source token targets: w_s ∝ total_s^T
    * (XLM-R-style α-smoothing, Conneau et al. 2020 — T<1 upweights
    * low-resource sources). For the default T=0.5 the whole path is
    * ENGINE-PORTABLE: IEEE-754 sqrt is correctly rounded, so
    * w6_s = ⌊sqrt(total_s)·10⁶⌋ is the same BIGINT in any engine, and
    * target_s = ⌊budget·w6_s / Σw6⌋ is exact integer arithmetic — a SQL
    * engine replays the targets bit-for-bit (q_mixture_temperature).
    * Other temperatures go through pow(), which is not correctly rounded
    * across libms — fine in production, not for cross-engine replay.
    * Cost: one column-pruned map-side-combined agg; O(#sources) driver
    * state, same contract as the stratified fraction map.
    */
  def temperatureTargets(
      df: DataFrame,
      sourceCol: String,
      tokenCol: org.apache.spark.sql.Column,
      tokenBudget: Long,
      temperature: Double = 0.5): Map[String, Long] = {
    require(tokenBudget > 0, "token budget must be positive")
    require(temperature > 0, "temperature must be positive")
    val totals = df
      .groupBy(col(sourceCol).cast("string").as("__s"))
      .agg(sum(tokenCol.cast("long")).as("__total"))
      .collect()
      // a source whose token column is entirely null sums to null —
      // treat it as zero tokens (weight 0) rather than NPE
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
    val w6 = totals.map { case (s, tot) =>
      val wd =
        if (temperature == 0.5) math.sqrt(tot.toDouble)
        else math.pow(tot.toDouble, temperature)
      s -> BigInt(math.floor(wd * 1e6).toLong)
    }
    val sumW = w6.map(_._2).sum
    require(sumW > 0, "all sources empty — no tokens to weight")
    w6.map { case (s, w) => s -> ((BigInt(tokenBudget) * w) / sumW).toLong }.toMap
  }

  /** Deterministic source-mixture sampling under per-source TOKEN
    * targets — the pretraining data-mixing primitive (DoReMi domain
    * weights, XLM temperature sampling): each source contributes
    * documents in md5-rank order until its token target is covered.
    * A doc is kept iff the tokens of the docs ranked before it in the
    * same source are still below the target, so the kept token mass
    * lands in [target, target + max-doc-tokens) and the first doc of
    * any positive-target source is always kept. Sources absent from
    * `targets` (or with target ≤ 0) are dropped. No RNG anywhere: the
    * kept set is a pure function of the key columns, reproducible
    * across engines, reruns, and cluster layouts.
    *
    * Scale: one shuffle by source for the rank/cum-sum window; sources
    * are few, so a hot source's candidate set serializes into one task.
    * For 100 TB pass `prefilterMargin=Some(m)`: a map-only
    * md5-threshold filter keeps ≈ m·target/total of each source AHEAD
    * of the window, so the sorted frame is O(Σ targets) tokens instead
    * of the corpus. The hash is uniform over docs, so m ≥ 2 makes
    * undershoot vanishingly unlikely; TextSpec proves prefiltered ==
    * exact on the test corpus.
    */
  def mixtureSample(
      df: DataFrame,
      sourceCol: String,
      tokenCol: org.apache.spark.sql.Column,
      keyCols: Seq[String],
      targets: Map[String, Long],
      prefilterMargin: Option[Double] = None): DataFrame = {
    require(keyCols.nonEmpty, "mixture sampling needs key columns")
    require(targets.nonEmpty, "mixture sampling needs per-source targets")
    import org.apache.spark.sql.expressions.Window
    val src = col(sourceCol).cast("string")
    val h = keyHash(keyCols)
    val base0 = df
      .withColumn("__tok", tokenCol.cast("long"))
      .withColumn("__tgt", element_at(typedLit(targets), src))
      .filter(col("__tgt").isNotNull && col("__tgt") > 0)
    val base = prefilterMargin match {
      case None => base0
      case Some(m) =>
        require(m >= 1, "prefilter margin must be >= 1")
        val totals = base0.groupBy(src.as("__s")).agg(sum(col("__tok")).as("__total"))
          .collect()
          .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
        val thr: Map[String, Long] = totals.map { case (s, tot) =>
          val frac = math.min(1.0, m * targets.getOrElse(s, 0L).toDouble / math.max(1L, tot))
          s -> hashThresholdLong(frac)
        }
        base0.filter(h < element_at(typedLit(thr), src))
    }
    val tieCols = keyCols ++ df.columns.filterNot(keyCols.contains)
    val w = Window.partitionBy(src).orderBy((h.asc +: tieCols.map(c => col(c).asc)): _*)
    val prev = coalesce(
      sum(col("__tok")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    base.withColumn("__prev", prev)
      .filter(col("__prev") < col("__tgt"))
      .drop("__tok", "__tgt", "__prev")
  }
}
