package graft.operators

import graft.core.NumExpr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column transformers (ref: data_transformer/transformers.py).
  * Fit state (cutoffs, means, category maps …) is computed in one
  * distributed agg and carried as O(#cols · #bins) driver values or small
  * broadcast-joined frames — never a per-row UDF.
  */
object Transformers {

  /** Null-safe aggregate read: all-null input columns yield NULL
    * aggregates, which `Row.getAs[Double]` would NPE on.
    */
  private[operators] def optD(row: org.apache.spark.sql.Row, field: String): Option[Double] =
    Option(row.getAs[java.lang.Double](field)).map(_.doubleValue)

  // ---------------------------------------------------------------- binning

  /** ref: transformers.py:87-291 `attribute_binning`.
    * method "equal_range": cutoffs from min/max; "equal_frequency":
    * cutoffs from exact/approx quantiles. Label = 1..binCount. The apply
    * side is a pure expression (the reference used a per-row Python UDF
    * `bucket_label`; a Bucketizer would also work but the expression keeps
    * whole-stage codegen and needs no ml dependency).
    */
  def attributeBinning(
      df: DataFrame,
      cols: Seq[String],
      method: String = "equal_range",
      binCount: Int = 10,
      approx: Boolean = false,
      outputSuffix: String = "_binned"): DataFrame = {
    require(binCount >= 2, "need at least 2 bins")
    val cuts: Map[String, Seq[Double]] = method match {
      case "equal_range" => equalRangeCuts(df, cols, binCount)
      case "equal_frequency" =>
        val probs = (1 until binCount).map(_.toDouble / binCount)
        // approx: one pass for ALL columns (GK sketches built together)
        if (approx) cols.zip(df.stat.approxQuantile(cols.toArray, probs.toArray, 0.01).map(_.toSeq)).toMap
        else exactQuantiles(df, cols, probs)
      case m => throw new IllegalArgumentException(s"unknown binning method: $m")
    }
    applyBinning(df, cuts, outputSuffix)
  }

  /** One min/max aggregate over `cols`; all-null columns are left out. */
  private def minMax(df: DataFrame, cols: Seq[String]): Seq[(String, Double, Double)] = {
    val exprs = cols.flatMap(c => Seq(min(col(c)).cast(DoubleType).as(s"min__$c"),
      max(col(c)).cast(DoubleType).as(s"max__$c")))
    val row = df.agg(exprs.head, exprs.tail: _*).collect()(0)
    for (c <- cols; lo <- optD(row, s"min__$c"); hi <- optD(row, s"max__$c")) yield (c, lo, hi)
  }

  /** The one equal-range fit (binning, drift, saved drift sources, report
    * charts): interior cutoffs lo + (hi - lo) * i / binCount per column.
    */
  def equalRangeCuts(df: DataFrame, cols: Seq[String], binCount: Int): Map[String, Seq[Double]] =
    minMax(df, cols).map { case (c, lo, hi) =>
      c -> (1 until binCount).map(i => lo + (hi - lo) * i / binCount)
    }.toMap

  /** Exact quantiles at `probs` in one aggregate; all-null columns are left out. */
  private def exactQuantiles(
      df: DataFrame, cols: Seq[String], probs: Seq[Double]): Map[String, Seq[Double]] = {
    val exprs = cols.map(c => NumExpr.pcts(col(c), probs).as(s"q__$c"))
    val row = df.agg(exprs.head, exprs.tail: _*).collect()(0)
    cols.flatMap(c => Option(row.getAs[scala.collection.Seq[Double]](s"q__$c"))
      .map(qs => c -> qs.toSeq)).toMap
  }

  /** Bin with precomputed interior cutoffs: value in (-inf,c1]→1, …,
    * (ck-1,inf)→k. Nulls stay null.
    */
  def applyBinning(df: DataFrame, cuts: Map[String, Seq[Double]], outputSuffix: String): DataFrame =
    cuts.foldLeft(df) { case (d, (c, cs)) =>
      d.withColumn(c + outputSuffix, binExpr(col(c), cs))
    }

  def binExpr(c: Column, cuts: Seq[Double]): Column = {
    val base = cuts.zipWithIndex.foldLeft(when(c.isNull, lit(null))) {
      case (acc, (cut, i)) => acc.when(c <= cut, i + 1)
    }
    base.otherwise(cuts.size + 1)
  }

  /** ref: transformers.py:294-425 `monotonic_binning` — search bin count
    * from maxBins down to 2 until the bin-index vs event-rate relationship
    * is strictly monotonic (the reference tests |Spearman| == 1 on the ≤20
    * bin means — equivalent for ranked bin ids).
    */
  /** approx=true (default) fits the per-k quantile cuts on GK sketches —
    * the 100 TB posture; approx=false uses exact interpolated percentiles,
    * which makes the whole fit loop reproducible in ANSI SQL (the
    * q_monotonic_binning oracle re-runs it in DuckDB).
    */
  def monotonicBinning(
      df: DataFrame,
      colName: String,
      labelCol: String,
      event: Column,
      maxBins: Int = 20,
      outputSuffix: String = "_binned",
      approx: Boolean = true): DataFrame = {
    // Single fit pass: the interior cutoffs for EVERY candidate k in
    // [2, maxBins] are quantiles at i/k, so one union grid aggregation
    // (one shared percentile buffer / one GK sketch pass) yields all of
    // them; each k's cutoffs are then lookups. The naive search refits
    // quantiles AND re-aggregates event rates per k — up to 2(maxBins-2)
    // full-table jobs, which multiply painfully at scale.
    val allProbs: Seq[Double] =
      (2 to maxBins).flatMap(k => (1 until k).map(_.toDouble / k)).distinct.sorted
    val gridVals: Seq[Double] =
      if (approx) df.stat.approxQuantile(colName, allProbs.toArray, 0.01).toSeq
      else exactQuantiles(df, Seq(colName), allProbs).getOrElse(colName, Seq.empty)
    if (gridVals.isEmpty) return df // all-null / empty column: nothing to bin
    val probAt: Map[Double, Double] = allProbs.zip(gridVals).toMap
    def cutsFor(k: Int): Seq[Double] = (1 until k).map(i => probAt(i.toDouble / k))
    // Second (and last) pass: event rate per (k, bin) for all candidate k
    // at once — explode a per-row array of (k, bin-id) structs, then one
    // partially-aggregated groupBy over at most sum(k) ≈ maxBins²/2 groups.
    val binStructs = array((2 to maxBins).map { k =>
      struct(lit(k).as("k"), binExpr(col(colName), cutsFor(k)).as("bin"))
    }: _*)
    val rateRows = df
      .select(explode(binStructs).as("kb"), when(event, 1.0).otherwise(0.0).as("ev"))
      .groupBy(col("kb.k").as("k"), col("kb.bin").as("bin"))
      .agg(avg(col("ev")).as("rate"))
      .collect()
    // null bins (null input values) sort first, matching orderBy's
    // asc-nulls-first that the per-k loop formulation relied on
    val ratesByK: Map[Int, Seq[Double]] = rateRows
      .groupBy(_.getInt(0))
      .map { case (k, rows) =>
        k -> rows.sortBy(r => (!r.isNullAt(1), if (r.isNullAt(1)) 0 else r.getInt(1)))
          .map(_.getAs[Double]("rate")).toSeq
      }
    var k = maxBins
    while (k > 2) {
      val rates = ratesByK.getOrElse(k, Seq.empty)
      val mono = rates.size < 2 ||
        rates.sliding(2).forall(p => p(0) <= p(1)) ||
        rates.sliding(2).forall(p => p(0) >= p(1))
      if (mono) return applyBinning(df, Map(colName -> cutsFor(k)), outputSuffix)
      k -= 1
    }
    applyBinning(df, Map(colName -> cutsFor(2)), outputSuffix)
  }

  // ---------------------------------------------------------------- scaling

  /** ref: transformers.py:965-1099 `z_standardization` — one agg for all
    * columns (the reference launched a job per column), then pure column
    * arithmetic. Columns with ~zero stddev are skipped.
    */
  def zStandardization(df: DataFrame, cols: Seq[String], roundScale: Int = 4): DataFrame = {
    val exprs = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"mean__$c"), stddev_samp(col(c)).as(s"sd__$c")))
    val row = df.agg(exprs.head, exprs.tail: _*).collect()(0)
    cols.foldLeft(df) { (d, c) =>
      (optD(row, s"sd__$c"), optD(row, s"mean__$c")) match {
        case (Some(sd), Some(mean)) if !sd.isNaN && sd >= 1e-12 =>
          d.withColumn(c, round((col(c) - mean) / sd, roundScale))
        case _ => d // all-null or constant column: leave untouched
      }
    }
  }

  /** ref: transformers.py:1102-1230 `IQR_standardization`:
    * (x − P50) / (P75 − P25), exact percentiles in one agg.
    */
  def iqrStandardization(df: DataFrame, cols: Seq[String], roundScale: Int = 4): DataFrame = {
    val quartiles = exactQuantiles(df, cols, Seq(0.25, 0.50, 0.75))
    cols.foldLeft(df) { (d, c) =>
      quartiles.get(c) match {
        case Some(qs) if qs(2) - qs(0) != 0 && !(qs(2) - qs(0)).isNaN =>
          d.withColumn(c, round((col(c) - qs(1)) / (qs(2) - qs(0)), roundScale))
        case _ => d
      }
    }
  }

  /** ref: transformers.py:1233-1366 `normalization` (min-max to [0,1]) —
    * pure Catalyst arithmetic; the reference round-tripped through
    * VectorAssembler + MinMaxScaler + an rdd re-zip.
    */
  def normalization(df: DataFrame, cols: Seq[String], roundScale: Int = 6): DataFrame =
    minMax(df, cols).foldLeft(df) { case (d, (c, lo, hi)) =>
      if (hi != lo) d.withColumn(c, round((col(c) - lo) / (hi - lo), roundScale)) else d
    }

  // ---------------------------------------------------------------- encoding

  /** ref: transformers.py:506-773 `cat_to_num_unsupervised`, label
    * encoding by frequency (desc) or alphabetical order; deterministic
    * tie-break on value.
    *
    * Index assignment is a DISTRIBUTED sort (range partitioning) +
    * zipWithIndex — not a partitionless `Window.orderBy`, which funnels
    * every distinct value through one partition and dies on ID-like
    * columns. The mapping is broadcast-joined only while its cardinality
    * stays under `maxBroadcastCategories`; above that the join falls
    * back to a shuffle join, so high-cardinality columns still encode
    * correctly instead of OOM-ing an executor.
    */
  def labelEncoding(
      df: DataFrame,
      cols: Seq[String],
      order: String = "frequencyDesc",
      outputSuffix: String = "_index",
      maxBroadcastCategories: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.Row
    cols.foldLeft(df) { (d, c) =>
      val counts = d.filter(col(c).isNotNull).groupBy(col(c)).agg(count(lit(1)).as("__n"))
      val sortKeys = order match {
        case "frequencyDesc" => Seq(col("__n").desc, col(c).asc)
        case "frequencyAsc"  => Seq(col("__n").asc, col(c).asc)
        case "alphabetAsc"   => Seq(col(c).asc)
        case "alphabetDesc"  => Seq(col(c).desc)
        case o => throw new IllegalArgumentException(s"unknown order: $o")
      }
      val sorted = counts.orderBy(sortKeys: _*).drop("__n")
      val outSchema = StructType(sorted.schema.fields :+
        StructField(c + outputSuffix, IntegerType, nullable = false))
      val mapping = d.sparkSession.createDataFrame(
        sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i.toInt) },
        outSchema)
      val cardinality = counts.count()
      val rhs = if (cardinality <= maxBroadcastCategories) broadcast(mapping) else mapping
      d.join(rhs, Seq(c), "left")
    }
  }

  /** One-hot encoding without OneHotEncoder vectors: one 0/1 int column
    * per observed category (deterministic alphabetical category order,
    * cardinality-capped). ref: transformers.py:694-733.
    */
  def oneHotEncoding(df: DataFrame, cols: Seq[String], maxCategories: Int = 50): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      val cats = d.select(col(c)).filter(col(c).isNotNull).distinct()
        .orderBy(col(c).asc).limit(maxCategories + 1).collect().map(_.get(0).toString)
      require(cats.length <= maxCategories, s"$c exceeds $maxCategories categories")
      cats.foldLeft(d) { (dd, v) =>
        dd.withColumn(s"${c}_$v", when(col(c) === v, 1).otherwise(0))
      }
    }

  /** ref: transformers.py:428-503 `cat_to_num_transformer` — the
    * dispatcher over the supervised/unsupervised encoders: a label
    * column routes to target encoding, otherwise `encoding` picks
    * label-index or one-hot. Pure routing; every arm has its own
    * oracle-gated query.
    */
  def catToNumTransformer(
      df: DataFrame,
      cols: Seq[String],
      encoding: String = "label_encoding",
      labelCol: Option[String] = None,
      eventLabel: Any = 1): DataFrame = labelCol match {
    case Some(l) =>
      // native comparison: a string-cast would turn a double label 1.0
      // into "1.0" and never match an Int eventLabel's "1"
      targetEncoding(df, cols, col(l) === lit(eventLabel))
    case None => encoding match {
      case "label_encoding"  => labelEncoding(df, cols)
      case "onehot_encoding" => oneHotEncoding(df, cols)
      case e => throw new IllegalArgumentException(s"unknown encoding: $e")
    }
  }

  /** ref: transformers.py:776-962 `cat_to_num_supervised` — target (mean)
    * encoding: category → event rate n_event/(n_event+n_nonevent),
    * rounded 4, broadcast-joined back.
    */
  def targetEncoding(
      df: DataFrame,
      cols: Seq[String],
      event: Column,
      outputSuffix: String = "_encoded"): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      val rates = d
        .groupBy(col(c))
        .agg(round(
          count(when(event, 1)) * lit(1.0) / count(lit(1)), 4).as(c + outputSuffix))
      d.join(broadcast(rates), Seq(c), "left")
    }

  /** ref: transformers.py:3489-3671 `outlier_categories` — keep the most
    * frequent values (ties: value asc) up to BOTH limits: at most
    * (maxCategories−1) values AND only while their cumulative share stays
    * below `coverage` (ref :3593-3615 rank + running-coverage windows);
    * everything else maps to the literal "outlier_categories". Keep-list
    * is O(maxCategories) driver state applied with isin.
    */
  def outlierCategories(
      df: DataFrame,
      cols: Seq[String],
      maxCategories: Int = 10,
      coverage: Double = 1.0,
      label: String = "outlier_categories"): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      val top = d.filter(col(c).isNotNull)
        .groupBy(col(c)).agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col(c).asc)
        .limit(maxCategories - 1)
        .collect().map(r => (r.get(0).toString, r.getLong(1)))
      val total = d.filter(col(c).isNotNull).count().toDouble
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      var cumu = 0L
      top.foreach { case (v, n) =>
        // always keep the first value; then keep while prior coverage < target
        if (kept.isEmpty || cumu < coverage * total) { kept += v; cumu += n }
      }
      d.withColumn(c,
        when(col(c).isNull, lit(null))
          .when(col(c).isin(kept.toSeq: _*), col(c))
          .otherwise(lit(label)))
    }

  // ---------------------------------------------------------------- math ops

  /** ref: transformers.py:3171-3324 `feature_transformation` — the 24
    * math ops, all built-in Catalyst functions.
    */
  def featureTransformation(c: Column, method: String, n: Double = 2.0): Column = method match {
    case "ln"        => log(c)
    case "log10"     => log10(c)
    case "log2"      => log2(c)
    case "exp"       => exp(c)
    case "powOf2"    => pow(lit(2.0), c)
    case "powOf10"   => pow(lit(10.0), c)
    case "powOfN"    => pow(lit(n), c)
    case "sqrt"      => sqrt(c)
    case "cbrt"      => cbrt(c)
    case "sq"        => pow(c, 2.0)
    case "cb"        => pow(c, 3.0)
    case "toPowerN"  => pow(c, n)
    case "sin"       => sin(c)
    case "cos"       => cos(c)
    case "tan"       => tan(c)
    case "asin"      => asin(c)
    case "acos"      => acos(c)
    case "atan"      => atan(c)
    case "radians"   => radians(c)
    case "modulus"   => c % n
    case "factorial" => factorial(c.cast(IntegerType))
    case "mulInv"    => lit(1.0) / c
    case "floor"     => floor(c)
    case "ceil"      => ceil(c)
    case "roundN"    => round(c, n.toInt)
    case m => throw new IllegalArgumentException(s"unknown transformation: $m")
  }

  /** ref: transformers.py:3327-3486 `boxcox_transformation` — for each
    * candidate λ apply x^λ (ln x at λ=0) and keep the λ whose result looks
    * most normal; normality scored by |skewness| (the reference used a KS
    * test vs N(μ,σ) — same argmax intent, one agg for ALL λ here).
    */
  val boxcoxLambdas: Seq[Double] = Seq(1, 0, 0.5, -0.5, 2, -1, -2, 0.25, -0.25, 3, -3, 4, -4, 5, -5)

  def boxcoxTransformation(
      df: DataFrame,
      cols: Seq[String],
      fitSampleCap: Option[Long] = Some(100000L),
      precomputed: Option[Map[String, Double]] = None): (DataFrame, Map[String, Double]) = {
    def tx(c: Column, lam: Double): Column =
      if (lam == 0) log(c) else pow(c, lam)
    // λ selection is a fit — sample-then-sketch like the reference's
    // detection caps; the chosen λ is applied to the FULL data. The fit
    // is a reusable MODEL: pass `precomputed` (e.g. from
    // ModelStore.loadBoxcoxLambdas) to skip it entirely, and otherwise
    // identical fits within one session are memoized on the canonical
    // optimized plan of the fit aggregate (fit-once-apply-many — two
    // pipelines boxcoxing the same source never re-run the 15-λ sweep).
    val best: Map[String, Double] = precomputed.getOrElse {
      val exprs = cols.flatMap { c =>
        boxcoxLambdas.map(l => abs(skewness(tx(col(c), l))).as(s"skew__${c}__$l"))
      }
      val fitDf = QualityChecker.sampleCapped(df, fitSampleCap)
      val aggDf = fitDf.agg(exprs.head, exprs.tail: _*)
      // canonicalized OPTIMIZED plan: column pruning has already run, so
      // the same fit over differently-projected views of one source keys
      // identically; different sources/paths/caps key differently
      val memoKey = aggDf.queryExecution.optimizedPlan.canonicalized.toString
      ModelStore.memoizeBoxcox(memoKey)({
        val row = aggDf.collect()(0)
        cols.map { c =>
          val scored = boxcoxLambdas.map { l =>
            val v = optD(row, s"skew__${c}__$l").getOrElse(Double.NaN)
            l -> (if (v.isNaN) Double.MaxValue else v)
          }
          c -> scored.minBy(_._2)._1
        }.toMap
      })
    }
    val out = cols.foldLeft(df)((d, c) => d.withColumn(c, tx(col(c), best(c))))
    (out, best)
  }

  /** Quantile (rank/ECDF) transform — sklearn QuantileTransformer's
    * uniform mode at scale: fit an `nQuantiles`-point reference grid per
    * column via the distributed histogram-selection percentiles (the
    * column data is never sorted or shuffled — the naive percent_rank
    * window would funnel the whole table through one task), then map
    * each value by linear interpolation inside its grid cell. Apply is
    * a pure map-only expression over the broadcast grid literals.
    * Grid values are quantized to `gridDp` decimals so an external
    * engine fitting the same grid (quantile_cont) interpolates against
    * bit-identical cell boundaries — the whole fit+apply oracle-checks
    * (q_quantile_transform). Values at/below the grid minimum map to 0,
    * at/above the maximum to 1; inside a flat (duplicate-valued) run the
    * highest cell wins (deterministic). Nulls pass through.
    */
  def quantileTransform(
      df: DataFrame,
      cols: Seq[String],
      nQuantiles: Int = 101,
      gridDp: Int = 6,
      outputSuffix: String = "_qt"): DataFrame = {
    require(nQuantiles >= 2, "need at least 2 grid points")
    val ps = (0 until nQuantiles).map(_.toDouble / (nQuantiles - 1))
    def rq(x: Double): Double =
      BigDecimal(x).setScale(gridDp, BigDecimal.RoundingMode.HALF_UP).toDouble
    val grids: Map[String, Array[Double]] = StatsGenerator
      .exactPercentiles(df, cols, ps)
      .collect()
      .map(r => r.getString(r.fieldIndex("attribute")) ->
        r.getSeq[Double](r.fieldIndex("qs")).map(rq).toArray)
      .toMap
    cols.foldLeft(df) { (d, c) =>
      val g = grids(c)
      val x = col(c).cast("double")
      val n = nQuantiles
      // Balanced binary-search when-tree over the grid: ~log2(n) nested
      // codegen'd comparisons per row instead of a per-row array
      // materialization + interpreted higher-order filter (measured 13×
      // slower at sf0.1). Each leaf is the answer for upper-bound index
      // i = #grid points ≤ x: 0 → 0.0, n → 1.0, else linear
      // interpolation inside cell [g(i−1), g(i)) — hi > x ≥ lo, so the
      // cell division is never by zero.
      def leaf(i: Int): Column =
        if (i == 0) lit(0.0)
        else if (i == n) lit(1.0)
        else {
          val lo = g(i - 1); val hi = g(i)
          (lit((i - 1).toDouble) + (x - lit(lo)) / (lit(hi) - lit(lo))) /
            lit((n - 1).toDouble)
        }
      // invariant: upper_bound(x) ∈ [lo, hi]; upper_bound ≤ m iff x < g(m)
      def tree(lo: Int, hi: Int): Column =
        if (lo == hi) leaf(lo)
        else {
          val mid = (lo + hi) / 2
          when(x < lit(g(mid)), tree(lo, mid)).otherwise(tree(mid + 1, hi))
        }
      d.withColumn(s"$c$outputSuffix",
        when(x.isNull, lit(null).cast("double"))
          .otherwise(round(tree(0, n), 4) + lit(0.0)))
    }
  }

  // ---------------------------------------------------------------- imputation

  /** ref: transformers.py:1369-1674 `imputation_MMM` — numeric nulls →
    * mean or exact median, categorical nulls → mode (deterministic
    * tie-break). Fit = one agg (+ one melt-shuffle for modes); apply =
    * coalesce with literals.
    */
  def imputationMMM(
      df: DataFrame,
      numCols: Seq[String],
      catCols: Seq[String],
      numMethod: String = "median"): DataFrame = {
    val numFills: Map[String, Double] =
      if (numCols.isEmpty) Map.empty
      else {
        val exprs = numCols.map { c =>
          (if (numMethod == "mean") avg(col(c)) else NumExpr.pct(col(c), 0.5)).as(s"fill__$c")
        }
        val row = df.agg(exprs.head, exprs.tail: _*).collect()(0)
        numCols.map(c => c -> row.getAs[Double](s"fill__$c")).toMap
      }
    val catFills: Map[String, String] =
      if (catCols.isEmpty) Map.empty
      else StatsGenerator.modeComputation(df, catCols)
        .select("attribute", "mode").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val afterNum = numFills.foldLeft(df) { case (d, (c, v)) =>
      d.withColumn(c, coalesce(col(c), lit(v)))
    }
    catFills.foldLeft(afterNum) { case (d, (c, v)) =>
      d.withColumn(c, coalesce(col(c), lit(v)))
    }
  }

  /** ref: transformers.py:3674-3771 `expression_parser` — evaluate SQL
    * expression strings as generated features f<i>.
    */
  def expressionParser(df: DataFrame, exprs: Seq[String], prefix: String = "f"): DataFrame =
    exprs.zipWithIndex.foldLeft(df) { case (d, (e, i)) =>
      d.withColumn(s"$prefix$i", expr(e))
    }
}
