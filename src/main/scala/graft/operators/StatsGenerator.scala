package graft.operators

import graft.core.{ColumnRole, NumExpr, Reshape}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Descriptive statistics (ref: data_analyzer/stats_generator.py).
  *
  * Design: the reference loops per column launching one Spark job each
  * (e.g. measures_of_centralTendency stats_generator.py:485-494 — an
  * anti-pattern per SURVEY.md §4). Here every measure is ONE distributed
  * `agg` over all requested columns (a single scan + partial/final
  * aggregation, no shuffle beyond the scalar agg), reshaped in-plan to the
  * canonical long `[attribute, …]` metrics table via `stack`. Driver state
  * is O(#columns).
  */
object StatsGenerator {

  /** Reshape a 1-row aggregate frame with columns `<metric>__<col>` into
    * long form (attribute, metric1, metric2, …) — stays in the plan, no
    * collect.
    */
  private def longForm(agg1: DataFrame, cols: Seq[String], metrics: Seq[String]): DataFrame = {
    val stackArgs = cols
      .map(c => s"'$c', " + metrics.map(m => s"`${m}__$c`").mkString(", "))
      .mkString(", ")
    val outCols = (Seq("attribute") ++ metrics).map(m => s"`$m`").mkString(", ")
    agg1.select(expr(s"stack(${cols.size}, $stackArgs) as ($outCols)"))
  }

  private def agg1(df: DataFrame, exprs: Seq[Column]): DataFrame =
    df.agg(exprs.head, exprs.tail: _*)

  /** Wide-table guard: hundreds of columns × several aggregates per
    * column can exceed codegen limits (whole-stage codegen falls back or
    * the generated method blows the JVM's 64KB limit). Above
    * `chunkCols` columns, compute chunk-wise and union the long-form
    * results — each chunk stays a single codegen-friendly scan.
    */
  def chunked(cols: Seq[String], chunkCols: Int = 60)(run: Seq[String] => DataFrame): DataFrame =
    if (cols.size <= chunkCols) run(cols)
    else cols.grouped(chunkCols).map(run).reduce(_ unionByName _)

  /** Gini coefficient of a non-negative numeric column —
    * G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over ascending 1-based ranks —
    * the inequality measure a corpus pipeline reads as "how skewed is
    * the per-source/doc token mass". Distributed exactly without a
    * global row sort: a value-frequency aggregation, a RANGE sort of
    * the DISTINCT values, and a two-phase prefix pass; a tie group's
    * rank-weighted mass collapses to v·(n_v·start + n_v(n_v+1)/2) in
    * closed form (equal values make the within-group order irrelevant),
    * accumulated in DECIMAL so both engines agree to the last digit.
    */
  def giniCoefficient(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}
    // ALL columns in ONE pass (the avgRanksMelted idiom): a single
    // melted value-frequency aggregation, one (column, value) RANGE
    // sort — each column's block stays contiguous across the partition
    // sequence — and the two-phase prefix runs per column inside the
    // same pass. The previous form cost one sort job + one driver
    // collect + one checkpoint PER column.
    val melted = df.select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("ci"), col(c).cast(DecimalType(18, 4)).as("v"))
      }: _*)).as("__e"))
      .select(col("__e.ci").as("ci"), col("__e.v").as("v"))
      .filter(col("v").isNotNull)
    val counts = melted.groupBy("ci", "v").agg(count(lit(1)).as("n"))
    val parts = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val sorted = counts
      .repartitionByRange(parts, col("ci").asc, col("v").asc)
      .sortWithinPartitions(col("ci").asc, col("v").asc)
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partStats = rdd.mapPartitionsWithIndex { case (pi, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
      it.foreach { r => m(r.getInt(0)) = m.getOrElse(r.getInt(0), 0L) + r.getLong(2) }
      Iterator.single((pi, m.toSeq))
    }.collect().sortBy(_._1)
    val offsets = scala.collection.mutable.Map.empty[(Int, Int), Long]
    locally {
      val running = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
      partStats.foreach { case (pi, stats) =>
        stats.foreach { case (ci, s) =>
          offsets((pi, ci)) = running(ci); running(ci) += s
        }
      }
    }
    val bcOffsets = df.sparkSession.sparkContext.broadcast(offsets.toMap)
    val terms = rdd.mapPartitionsWithIndex { case (pi, it) =>
      val off = bcOffsets.value
      val running = scala.collection.mutable.Map.empty[Int, Long]
      it.map { r =>
        val ci = r.getInt(0)
        val v = r.getDecimal(1)
        val n = r.getLong(2)
        val start = running.getOrElse(ci, off.getOrElse((pi, ci), 0L))
        // Σ over the tie group of rank·x = v·(n·start + n(n+1)/2)
        val rankMass = new java.math.BigDecimal(n).multiply(
          new java.math.BigDecimal(start).add(
            new java.math.BigDecimal(n + 1).divide(new java.math.BigDecimal(2))))
        running(ci) = start + n
        SRow(ci, v.multiply(rankMass), v.multiply(new java.math.BigDecimal(n)), n)
      }
    }
    val schema = StructType(Seq(
      StructField("__ci", IntegerType),
      StructField("__s1", DecimalType(38, 6)), StructField("__s", DecimalType(38, 6)),
      StructField("__n", org.apache.spark.sql.types.LongType)))
    import df.sparkSession.implicits._
    val names = cols.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("__ci", "attribute")
    // materialize the (columns-sized) aggregate eagerly, then release
    // the cached sort (packByBudget discipline)
    val agg = df.sparkSession.createDataFrame(terms, schema)
      .groupBy(col("__ci"))
      .agg(sum(col("__s1")).as("__S1"), sum(col("__s")).as("__S"),
        sum(col("__n")).as("__N"))
    val out = names.join(agg, Seq("__ci"), "left")
      .select(
        col("attribute"),
        when(col("__S").cast("double") > 0,
          round(lit(2.0) * col("__S1").cast("double") /
            (col("__N") * col("__S").cast("double")) -
            (col("__N") + 1).cast("double") / col("__N"), 4))
          .as("gini"))
      .localCheckpoint(true)
    rdd.unpersist(false)
    out
  }

  /** Benford first-digit conformity test — the classic fabricated-data /
    * unit-mixing diagnostic: observed leading-digit shares of the
    * non-zero values against log10(1 + 1/d), reported as the χ²-style
    * statistic N·Σ(p_d − e_d)²/e_d and the max absolute deviation.
    * The leading digit is extracted EXACTLY in the integer domain
    * (|x| as DECIMAL(18,4) × 10⁴ → BIGINT → first character of its
    * digit string — no log/floor boundary cases, identical on any
    * engine); digits that never occur still contribute their expected
    * mass via a 9-row literal join. Per column: one count aggregation to
    * a 9-row frame.
    */
  def benfordTest(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // ONE corpus pass for ALL columns (the theilsU melt): each row
    // explodes into its per-column leading digit, a single groupBy
    // builds every digit histogram (map-side-combined, ≤ 9 cells per
    // column per task). Totals are windows over the DENSE literal
    // (column, digit) grid — 9·C rows, never data-sized, no per-column
    // driver action. The previous form cost 2 corpus scans + 1 driver
    // round trip per column.
    val pairStructs = cols.zipWithIndex.map { case (c, i) =>
      val dec = abs(col(c)).cast(DecimalType(18, 4))
      struct(lit(i).as("ci"),
        when(col(c).isNotNull && dec > 0,
          substring((dec * lit(10000)).cast("long").cast("string"), 1, 1)
            .cast("int")).as("d"))
    }
    val obs = df.select(explode(array(pairStructs: _*)).as("__e"))
      .select(col("__e.ci").as("__ci"), col("__e.d").as("__d"))
      .filter(col("__d").isNotNull)
      .groupBy("__ci", "__d").agg(count(lit(1)).as("__cnt"))
    import df.sparkSession.implicits._
    val grid = cols.indices.flatMap(i => (1 to 9).map(d => (i, d)))
      .toDF("__ci", "__d")
    val joined = grid.join(obs, Seq("__ci", "__d"), "left")
      .withColumn("__cnt", coalesce(col("__cnt"), lit(0L)))
      .withColumn("__n",
        sum(col("__cnt")).over(Window.partitionBy(col("__ci"))))
    // an empty column makes total = 0: the share must not divide
    // (ANSI 0/0 throws inside the aggregate, before any outer guard)
    val p = when(col("__n") > 0,
      col("__cnt").cast(DoubleType) / col("__n").cast(DoubleType))
      .otherwise(lit(0.0))
    val e = log(lit(1.0) + lit(1.0) / col("__d")) / log(lit(10.0))
    val agg = joined.groupBy(col("__ci"))
      .agg(
        max(col("__n")).as("n"),
        sum(round(
          col("__n").cast(DoubleType) * (p - e) * (p - e) / e, 8)
          .cast(DecimalType(28, 8))).cast(DoubleType).as("__chi2"),
        max(abs(p - e)).as("__maxdev"))
    val names = cols.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("__ci", "attribute")
    names.join(agg, Seq("__ci"), "left")
      .select(
        col("attribute"), col("n"),
        when(col("n") > 0, round(col("__chi2"), 4)).as("chi2"),
        when(col("n") > 0, round(col("__maxdev"), 4)).as("max_abs_dev"))
  }

  /** Herfindahl–Hirschman concentration of a weight column over a
    * grouping (share² summed) plus the top share and group count — the
    * "is one source dominating the mixture" check. Exact decimal group
    * sums; the share squares pre-round at 8 dp into a DECIMAL sum.
    */
  def hhiConcentration(df: DataFrame, groupCol: String, weightCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val w = col(weightCol).cast(DecimalType(18, 4))
    val g = df.filter(col(groupCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(col(groupCol)).agg(sum(w).as("__wg"))
    val withTotal = g.withColumn("__wt",
      sum(col("__wg")).over(Window.partitionBy()))
    val share = col("__wg").cast(DoubleType) / col("__wt").cast(DoubleType)
    withTotal.agg(
      sum(round(share * share, 8).cast(DecimalType(28, 8))).cast(DoubleType).as("__hhi"),
      max(share).as("__top"),
      count(lit(1)).as("n_groups"))
      .select(
        round(col("__hhi"), 4).as("hhi"),
        round(col("__top"), 4).as("top_share"),
        col("n_groups"))
  }

  /** ref: stats_generator.py:33-113 `global_summary` →
    * [metric, value] with row/column counts and per-role column counts.
    */
  def globalSummary(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val (num, cat, other) = ColumnRole.segregate(df.schema)
    val rows = df.count()
    // full reference row set incl. the ", "-joined name rows
    // (ref: stats_generator.py:100-110)
    Seq(
      ("rows_count", rows.toString),
      ("columns_count", df.columns.length.toString),
      ("numcols_count", num.size.toString),
      ("numcols_name", num.mkString(", ")),
      ("catcols_count", cat.size.toString),
      ("catcols_name", cat.mkString(", ")),
      ("othercols_count", other.size.toString),
      ("othercols_name", other.mkString(", "))
    ).toDF("metric", "value")
  }

  /** ref: stats_generator.py:116-176 `missingCount_computation` —
    * one pass of count() per column (the reference used summary("count") +
    * transpose).  pct rounded 4.
    */
  def missingCount(df: DataFrame, cols: Seq[String]): DataFrame = chunked(cols) { cs =>
    val exprs = cs.flatMap { c =>
      Seq(
        (count(lit(1)) - count(col(c))).cast(LongType).as(s"missing_count__$c"),
        round((count(lit(1)) - count(col(c))) * lit(1.0) / count(lit(1)), 4)
          .as(s"missing_pct__$c"))
    }
    longForm(agg1(df, exprs), cs, Seq("missing_count", "missing_pct"))
  }

  /** Nonzero predicate only applies to numeric columns (matching the
    * reference, which restricts nonzeroCount to numericals) — comparing
    * a string column to 0 would throw under ANSI.
    */
  private def nonzeroExpr(df: DataFrame, c: String): Column =
    if (ColumnRole.of(df.schema(c).dataType) == ColumnRole.Numerical)
      count(when(col(c).isNotNull && col(c) =!= 0, 1)).cast(LongType)
    else lit(null).cast(LongType)

  /** ref: stats_generator.py:179-248 `nonzeroCount_computation` — the
    * reference round-trips through mllib colStats; ours is pure SQL in the
    * same single agg.
    */
  def nonzeroCount(df: DataFrame, cols: Seq[String]): DataFrame = chunked(cols) { cs =>
    val exprs = cs.flatMap { c =>
      val nz = nonzeroExpr(df, c)
      Seq(
        nz.as(s"nonzero_count__$c"),
        round(nz * lit(1.0) / count(lit(1)), 4).as(s"nonzero_pct__$c"))
    }
    longForm(agg1(df, exprs), cs, Seq("nonzero_count", "nonzero_pct"))
  }

  /** ref: stats_generator.py:251-325 `measures_of_counts` — fill +
    * missing + nonzero in one agg (the reference composes three jobs and a
    * full_outer join).
    */
  def measuresOfCounts(df: DataFrame, cols: Seq[String]): DataFrame = chunked(cols) { cs =>
    val exprs = cs.flatMap { c =>
      val fill = count(col(c)).cast(LongType)
      val miss = (count(lit(1)) - count(col(c))).cast(LongType)
      val nz = nonzeroExpr(df, c)
      Seq(
        fill.as(s"fill_count__$c"),
        round(fill * lit(1.0) / count(lit(1)), 4).as(s"fill_pct__$c"),
        miss.as(s"missing_count__$c"),
        round(miss * lit(1.0) / count(lit(1)), 4).as(s"missing_pct__$c"),
        nz.as(s"nonzero_count__$c"),
        round(nz * lit(1.0) / count(lit(1)), 4).as(s"nonzero_pct__$c"))
    }
    longForm(agg1(df, exprs), cs,
      Seq("fill_count", "fill_pct", "missing_count", "missing_pct", "nonzero_count", "nonzero_pct"))
  }

  /** ref: stats_generator.py:328-421 `mode_computation`, but batched: the
    * reference runs groupBy(c).count().orderBy.limit(1) per column (N
    * jobs); ours melts all columns and resolves every mode in a single
    * shuffle + window. Ties break on the smaller value (deterministic,
    * where the reference picks arbitrarily).
    * Output: [attribute, mode, mode_count, mode_pct].
    */
  def modeComputation(df: DataFrame, cols: Seq[String]): DataFrame = chunked(cols) { cs =>
    modeChunk(df, cs)
  }

  private def modeChunk(df: DataFrame, cols: Seq[String]): DataFrame = {
    val long = Reshape.melt(df, Nil, cols).filter(col("value").isNotNull)
    val counts = long.groupBy("attribute", "value").agg(count(lit(1)).as("mode_count"))
    // top-1 and the non-null total in ONE partially-aggregatable pass:
    // min(struct(-count, value)) == (count desc, value asc) argmin — same
    // tie-break as the previous rank window, but with map-side combine
    // and no per-attribute sort (continuous columns leave ~n_rows count
    // rows per attribute; a window partitioned on ~10 attributes funneled
    // them all through a handful of sorting partitions)
    counts
      .groupBy("attribute")
      .agg(
        min(struct((-col("mode_count")).as("nc"), col("value").as("v"))).as("m"),
        sum(col("mode_count")).as("__nonnull"))
      .select(
        col("attribute"),
        col("m.v").as("mode"),
        (-col("m.nc")).as("mode_count"),
        round((-col("m.nc")) * lit(1.0) / col("__nonnull"), 4).as("mode_pct"))
  }

  /** ref: stats_generator.py:424-526 `measures_of_centralTendency` —
    * full reference schema [attribute, mean, median, mode, mode_rows,
    * mode_pct]: mean (exact-decimal-sum) + exact median in one agg,
    * joined with the single-shuffle melt-based mode computation.
    */
  def centralTendency(df: DataFrame, cols: Seq[String]): DataFrame = {
    // exact median via histogram selection (near-unique columns would
    // degenerate the percentile aggregate's value→count map); the means
    // ride the selection's scan (0) — one fewer full scan + job
    val (pct, r0) = exactPercentilesWith(df, cols, Seq(0.5),
      cols.map(c => NumExpr.dmean(col(c)).as(s"mean__$c")))
    val means = longForm(
      oneRowFrame(df, r0, cols.map(c => s"mean__$c")), cols, Seq("mean"))
    val medians = pct
      .select(col("attribute"), element_at(col("qs"), 1).as("median"))
    val modes = modeComputation(df, cols)
      .withColumnRenamed("mode_count", "mode_rows")
    means.join(medians, Seq("attribute"), "full_outer")
      .join(modes, Seq("attribute"), "full_outer")
      .select(col("attribute"), col("mean"), col("median"),
        col("mode"), col("mode_rows"), col("mode_pct"))
  }

  /** ref: stats_generator.py:529-620 `uniqueCount_computation`.
    * exact = countDistinct; approx = HLL++ `approx_count_distinct(rsd)` —
    * the 100 TB path.
    */
  def uniqueCount(df: DataFrame, cols: Seq[String], approx: Boolean = false, rsd: Double = 0.05): DataFrame =
    chunked(cols) { cs =>
      val exprs = cs.map { c =>
        val u = if (approx) approx_count_distinct(col(c), rsd) else countDistinct(col(c))
        u.cast(LongType).as(s"unique_values__$c")
      }
      longForm(agg1(df, exprs), cs, Seq("unique_values"))
    }

  /** ref: stats_generator.py:623-733 `measures_of_cardinality` — uniques +
    * IDness = unique/non-null, one agg.
    */
  def measuresOfCardinality(df: DataFrame, cols: Seq[String], approx: Boolean = false): DataFrame =
    chunked(cols) { cs =>
      val exprs = cs.flatMap { c =>
        val u = (if (approx) approx_count_distinct(col(c)) else countDistinct(col(c))).cast(LongType)
        Seq(
          u.as(s"unique_values__$c"),
          round(u * lit(1.0) / count(col(c)), 4).as(s"IDness__$c"))
      }
      longForm(agg1(df, exprs), cs, Seq("unique_values", "IDness"))
    }

  /** ref: stats_generator.py:736-829 `measures_of_dispersion`: stddev,
    * variance, cov (=sd/mean), IQR (exact), range. Moments come from one
    * agg; the quartiles ride the histogram selection of
    * [[exactPercentiles]] (the percentile aggregate's value→count map
    * degenerates on near-unique columns).
    */
  def measuresOfDispersion(df: DataFrame, cols: Seq[String]): DataFrame = {
    // the moment aggregates ride the quartile selection's scan (0) —
    // one fewer full scan + job (expressions unchanged). An in-suite
    // read that suggested the fused form was +0.25 s here turned out to
    // be host drift: a dedicated revert suite timed the unfused form
    // identically (1.06 vs 1.05-1.09 s), so the structurally leaner
    // fused form ships, consistent with centralTendency/outlierBounds.
    val momentExprs = cols.flatMap { c =>
      val sd = stddev_samp(col(c))
      Seq(
        round(sd, 4).as(s"stddev__$c"),
        round(var_samp(col(c)), 4).as(s"variance__$c"),
        round(sd / NumExpr.dmean(col(c)), 4).as(s"cov__$c"),
        (max(col(c)) - min(col(c))).cast(DoubleType).as(s"range__$c"))
    }
    val (pct, r0) = exactPercentilesWith(df, cols, Seq(0.25, 0.75), momentExprs)
    val iqr = pct
      .select(col("attribute"),
        round(element_at(col("qs"), 2) - element_at(col("qs"), 1), 4).as("IQR"))
    val moments = longForm(
      oneRowFrame(df, r0,
        cols.flatMap(c => Seq("stddev", "variance", "cov", "range").map(m => s"${m}__$c"))),
      cols, Seq("stddev", "variance", "cov", "range"))
    moments.join(iqr, Seq("attribute"), "full_outer")
      .select(col("attribute"), col("stddev"), col("variance"), col("cov"),
        col("IQR"), col("range"))
  }

  val percentilePoints: Seq[Double] = Seq(0.01, 0.05, 0.10, 0.25, 0.50, 0.75, 0.90, 0.95, 0.99)

  /** Exact multi-point percentiles for several columns by iterative
    * histogram selection — the distributed selection algorithm, NOT a
    * sort: (0) one scalar agg for n/min/max per column; then (1) a
    * histogram scan counts values per equal-width bucket over each
    * unresolved rank's interval (map-side partial arrays, a shuffle of
    * ≤ segments·B tiny count rows — the column DATA is never shuffled);
    * the driver narrows every target rank to its bucket; repeat while a
    * bucket still holds > `collectCap` values (each round shrinks
    * intervals ×B, so ≥ 10¹² rows resolve in 2 rounds at B = 8192);
    * (2) one final scan collects only the ≤ collectCap values in each
    * target bucket; the driver sorts those and interpolates at p·(n−1)
    * with the arithmetic of Spark's `percentile` aggregate.
    *
    * Skew/constant columns can keep a bucket > cap forever (one value
    * repeated billions of times) — the histogram also tracks per-bucket
    * min == max and resolves such buckets to that value immediately.
    *
    * This replaces Spark's `percentile` aggregate (boxed value→count
    * OpenHashMap per column through partial/final agg — degenerates on
    * near-unique columns) and two earlier shuffle-the-data designs (a
    * per-column cumulative-count window: #columns-wide parallelism; and
    * a range-repartition rank walk: a full shuffle + cache of every
    * value). Here a 100 TB input is scanned 2-3×, shuffles only bucket
    * counts, and collects ≤ collectCap doubles per (column, point).
    * Returns [attribute, n, vmin, vmax, qs(array ordered like ps)];
    * columns with no non-null values get n=0 and null stats. Runs its
    * jobs eagerly (fit-style); the returned frame is a local relation.
    */
  def exactPercentiles(df: DataFrame, cols: Seq[String], ps: Seq[Double],
      buckets: Int = 8192, collectCap: Int = 1 << 16): DataFrame =
    exactPercentilesWith(df, cols, ps, Nil, buckets, collectCap)._1

  /** [[exactPercentiles]] with caller aggregates FUSED onto scan (0):
    * `extraAggs` evaluate over the RAW input columns (exactly what a
    * separate `df.agg(...)` would see — the double-cast/NaN-null
    * projection applies only to the percentile columns, which live under
    * internal `__ep__` aliases) in the same job as the n/min/max pass,
    * and the combined one-row result returns next to the percentile
    * frame (read extras by their alias via `Row.getAs`). Callers that
    * previously ran a standalone fit aggregate beside the percentile fit
    * (central tendency's means, dispersion's moments, outlier bounds'
    * mean/sd) save one full input scan and one driver round-trip each —
    * these fits are sequential-job-bound, not byte-bound, at any scale.
    * Contract: extras may reference only the percentile columns `cols`
    * (the raw passthrough carries exactly those, keeping the scan
    * explicitly pruned on wide tables).
    */
  private[graft] def exactPercentilesWith(df: DataFrame, cols: Seq[String],
      ps: Seq[Double], extraAggs: Seq[Column],
      buckets: Int = 8192, collectCap: Int = 1 << 16)
      : (DataFrame, org.apache.spark.sql.Row) = {
    val spark = df.sparkSession
    import spark.implicits._
    val nc = cols.size
    // total driver intake is bounded by ~2·|ps|·cap per column — scale the
    // per-segment cap down on wide inputs so a 500-column call cannot
    // accumulate gigabytes of brackets (an extra narrowing round costs one
    // more scan, not memory); explicit tiny caps are honored as-is
    val capPerSeg = math.max(math.min(collectCap, 1024), collectCap / math.max(1, nc))
    // NaN is excluded like null (Spark's max() would otherwise return NaN
    // as the column max, making every bucket width NaN and sending all
    // values to bucket 0 — silently wrong quantiles)
    // internal __ep__ aliases keep the cast columns name-disjoint from
    // the raw passthrough columns extraAggs reference; positions 0..nc-1
    // stay the cast columns (the histogram scans index rows positionally)
    val castCols = cols.map { c =>
      val cc = col(c).cast(DoubleType)
      when(isnan(cc), lit(null)).otherwise(cc).as(s"__ep__$c")
    }
    val projected =
      if (extraAggs.isEmpty) df.select(castCols: _*)
      else df.select(castCols ++ cols.map(col): _*)
    // the multi-scan selection assumes every scan sees IDENTICAL rows; a
    // nondeterministic input (seeded sample, rand() column) can produce a
    // different row set per job once partition layout shifts (AQE,
    // retries) — inconsistent counts/offsets then index out of bounds or
    // silently select wrong values. Materialize such inputs once
    // (lineage-truncating local checkpoint of the projected columns, so a
    // lost block fails loudly instead of recomputing differently).
    val nondetInput = {
      val plan = df.queryExecution.optimizedPlan
      plan.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
        case p => p.expressions.exists(e => !e.deterministic)
      }
    }
    val combined = if (nondetInput) projected.localCheckpoint(true) else projected
    // the positional mapPartitions scans read ONLY the nc cast columns
    // (the select prunes the raw passthroughs when extras are present)
    val doubleCols =
      if (extraAggs.isEmpty) combined
      else combined.select(cols.map(c => col(s"__ep__$c")): _*)
    // (0) n / min / max per column (+ caller extras, fused) in one scalar
    // aggregation over the SAME frame every later scan reads
    val r0 = agg1(combined, cols.flatMap(c => Seq(
      count(col(s"__ep__$c")).as(s"n__$c"),
      min(col(s"__ep__$c")).as(s"mn__$c"),
      max(col(s"__ep__$c")).as(s"mx__$c"))) ++ extraAggs).collect()(0)
    val nArr = Array.tabulate(nc)(j => r0.getLong(3 * j))
    val mnArr = Array.tabulate(nc)(j => if (r0.isNullAt(3 * j + 1)) Double.NaN else r0.getDouble(3 * j + 1))
    val mxArr = Array.tabulate(nc)(j => if (r0.isNullAt(3 * j + 2)) Double.NaN else r0.getDouble(3 * j + 2))
    // target sorted ranks (0-based, duplicates removed) per column
    val rankPos: Array[Array[Double]] = Array.tabulate(nc) { j =>
      ps.map(p => p * (nArr(j) - 1)).toArray
    }
    val resolved = scala.collection.mutable.Map.empty[(Int, Long), Double] // (col, rank) → value
    // A segment: `chain` of (lo, hi, bucket) membership tests narrowing a
    // column to one interval; deterministic double arithmetic on both the
    // counting and collecting side, so assignment is always consistent.
    final case class Seg(colIdx: Int, chain: List[(Double, Double, Int)],
        lo: Double, hi: Double, offset: Long, count: Long, ranks: Array[Long])
    def bucketOf(v: Double, lo: Double, hi: Double, b: Int): Int = {
      val raw = ((v - lo) / (hi - lo) * b).toInt
      if (raw < 0) 0 else if (raw >= b) b - 1 else raw
    }
    var segs: List[Seg] = (0 until nc).toList.flatMap { j =>
      val n = nArr(j)
      if (n == 0L) Nil
      else {
        val ranks = rankPos(j).flatMap(pos =>
          Seq(math.floor(pos).toLong, math.ceil(pos).toLong)).distinct.sorted
        if (mnArr(j) == mxArr(j)) { // constant column: every rank is the value
          ranks.foreach(r => resolved((j, r)) = mnArr(j))
          Nil
        } else List(Seg(j, Nil, mnArr(j), mxArr(j), 0L, n, ranks))
      }
    }
    val bb = buckets
    var round = 0
    while (segs.exists(_.count > capPerSeg) && round < 8) {
      round += 1
      val big = segs.filter(_.count > capPerSeg).toArray
      val bcSegs = spark.sparkContext.broadcast(big.map(s =>
        (s.colIdx, s.chain.toArray, s.lo, s.hi)))
      // histogram scan: per-partition primitive count/min/max arrays,
      // emitted sparsely — no row-level shuffle
      val hist: Array[(Int, Int, Long, Double, Double)] = doubleCols.mapPartitions { it =>
        val ss = bcSegs.value
        val cnt = Array.ofDim[Long](ss.length, bb)
        val bmn = Array.fill(ss.length, bb)(Double.PositiveInfinity)
        val bmx = Array.fill(ss.length, bb)(Double.NegativeInfinity)
        it.foreach { row =>
          var si = 0
          while (si < ss.length) {
            val (j, chain, lo, hi) = ss(si)
            if (!row.isNullAt(j)) {
              val v = row.getDouble(j)
              var ok = true
              var k = 0
              while (ok && k < chain.length) {
                val (cl, ch, cb) = chain(k)
                if (bucketOf(v, cl, ch, bb) != cb) ok = false
                k += 1
              }
              if (ok) {
                val b = bucketOf(v, lo, hi, bb)
                cnt(si)(b) += 1L
                if (v < bmn(si)(b)) bmn(si)(b) = v
                if (v > bmx(si)(b)) bmx(si)(b) = v
              }
            }
            si += 1
          }
        }
        (0 until ss.length).iterator.flatMap { si =>
          (0 until bb).iterator.filter(cnt(si)(_) > 0L)
            .map(b => (si, b, cnt(si)(b), bmn(si)(b), bmx(si)(b)))
        }
      }.groupByKey(t => (t._1, t._2))
        .mapGroups { (key: (Int, Int), rows: Iterator[(Int, Int, Long, Double, Double)]) =>
          var n = 0L; var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
          rows.foreach { r => n += r._3; mn = math.min(mn, r._4); mx = math.max(mx, r._5) }
          (key._1, key._2, n, mn, mx)
        }.collect()
      val bySeg = hist.groupBy(_._1)
      val next = scala.collection.mutable.ListBuffer.empty[Seg]
      big.indices.foreach { si =>
        val s = big(si)
        val bs = bySeg.getOrElse(si, Array.empty).sortBy(_._2)
        // cumulative counts walk the buckets once; each rank lands in one
        val cum = bs.scanLeft(0L)(_ + _._3)
        var ri = 0
        val byBucket = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long, Double, Double, scala.collection.mutable.ArrayBuffer[Long])]
        s.ranks.foreach { r =>
          val local = r - s.offset
          // find bucket where cum(bi) <= local < cum(bi+1)
          var bi = ri
          while (bi + 1 < cum.length && cum(bi + 1) <= local) bi += 1
          ri = bi
          val (_, b, n, mn, mx) = bs(bi)
          val entry = byBucket.getOrElseUpdate(b,
            (s.offset + cum(bi), n, mn, mx, scala.collection.mutable.ArrayBuffer.empty[Long]))
          entry._5 += r
        }
        byBucket.foreach { case (b, (off, n, mn, mx, ranks)) =>
          if (mn == mx) ranks.foreach(r => resolved((s.colIdx, r)) = mn) // single-value bucket
          else next += Seg(s.colIdx, s.chain :+ ((s.lo, s.hi, b)), mn, mx, off, n, ranks.toArray)
        }
      }
      segs = segs.filter(_.count <= capPerSeg) ++ next
      bcSegs.destroy()
    }
    // final collect: only the values inside each target segment
    if (segs.nonEmpty) {
      val fin = segs.toArray
      val bcFin = spark.sparkContext.broadcast(fin.map(s => (s.colIdx, s.chain.toArray)))
      val vals: Array[(Int, Double)] = doubleCols.mapPartitions { it =>
        val ss = bcFin.value
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
        it.foreach { row =>
          var si = 0
          while (si < ss.length) {
            val (j, chain) = ss(si)
            if (!row.isNullAt(j)) {
              val v = row.getDouble(j)
              var ok = true
              var k = 0
              while (ok && k < chain.length) {
                val (cl, ch, cb) = chain(k)
                if (bucketOf(v, cl, ch, bb) != cb) ok = false
                k += 1
              }
              if (ok) out += ((si, v))
            }
            si += 1
          }
        }
        out.iterator
      }.collect()
      val bySeg = vals.groupBy(_._1)
      fin.indices.foreach { si =>
        val s = fin(si)
        val arr = bySeg.getOrElse(si, Array.empty).map(_._2)
        java.util.Arrays.sort(arr)
        s.ranks.foreach { r =>
          resolved((s.colIdx, r)) = arr((r - s.offset).toInt)
        }
      }
      bcFin.destroy()
    }
    val out: Seq[(String, Long, Option[Double], Option[Double], Option[Seq[Double]])] =
      cols.zipWithIndex.map { case (c, j) =>
        val n = nArr(j)
        if (n == 0L) (c, 0L, None, None, None)
        else {
          // Spark `percentile`'s interpolation (PercentileBase.getPercentile):
          // the weighted form, not vLo + frac * (vHi - vLo), which rounds
          // differently in the last bit
          val qs = rankPos(j).toSeq.map { pos =>
            val (lo, hi) = (math.floor(pos), math.ceil(pos))
            val vLo = resolved((j, lo.toLong))
            val vHi = resolved((j, hi.toLong))
            if (lo == hi || vLo == vHi) vLo
            else (hi - pos) * vLo + (pos - lo) * vHi
          }
          (c, n, Some(mnArr(j)), Some(mxArr(j)), Some(qs))
        }
      }
    (out.toDF("attribute", "n", "vmin", "vmax", "qs"), r0)
  }

  /** One-row local frame carrying the named fields of an aggregate Row —
    * lets [[exactPercentilesWith]] callers feed their fused extras
    * through the existing [[longForm]] reshape unchanged.
    */
  private[graft] def oneRowFrame(
      df: DataFrame, row: org.apache.spark.sql.Row, names: Seq[String]): DataFrame = {
    val idx = names.map(row.fieldIndex)
    val schema = StructType(idx.map(i => row.schema(i)))
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(idx.map(row.get): _*)),
      schema)
  }

  /** ref: stats_generator.py:832-916 `measures_of_percentiles` — min, the
    * 9 canonical percentiles (exact, linear interpolation), max. Exact
    * path: the histogram-selection plan of [[exactPercentiles]] (scales
    * to near-unique columns, never shuffles the data); `approx` swaps in
    * `percentile_approx` (one agg, one sketch buffer per column) when a
    * rank-error tolerance is acceptable.
    */
  def measuresOfPercentiles(df: DataFrame, cols: Seq[String], approx: Boolean = false): DataFrame = {
    val names = percentilePoints.map(q => f"pct_${(q * 100).toInt}%d")
    if (!approx) {
      val ep = exactPercentiles(df, cols, percentilePoints)
      ep.select(
        Seq(col("attribute"), col("vmin").as("min")) ++
          names.zipWithIndex.map { case (n, i) =>
            round(element_at(col("qs"), i + 1), 4).as(n)
          } ++ Seq(col("vmax").as("max")): _*)
    } else chunked(cols) { cs =>
      val exprs = cs.flatMap { c =>
        val arr = percentile_approx(col(c), array(percentilePoints.map(lit): _*), lit(10000))
        Seq(
          min(col(c)).cast(DoubleType).as(s"min__$c"),
          arr.as(s"pcts__$c"),
          max(col(c)).cast(DoubleType).as(s"max__$c"))
      }
      val extracted = agg1(df, exprs).select(
        cs.flatMap { c =>
          Seq(col(s"min__$c")) ++
            names.zipWithIndex.map { case (n, i) =>
              round(element_at(col(s"pcts__$c"), i + 1).cast(DoubleType), 4).as(s"${n}__$c")
            } ++
            Seq(col(s"max__$c"))
        }: _*)
      longForm(extracted, cs, Seq("min") ++ names ++ Seq("max"))
    }
  }

  /** ref: stats_generator.py:919-1011 `measures_of_shape` — population
    * skewness g1 and excess kurtosis, batched (the reference batches too,
    * :993-994).
    */
  def measuresOfShape(df: DataFrame, cols: Seq[String]): DataFrame = chunked(cols) { cs =>
    val exprs = cs.flatMap { c =>
      Seq(
        round(skewness(col(c)), 4).as(s"skewness__$c"),
        round(kurtosis(col(c)), 4).as(s"kurtosis__$c"))
    }
    longForm(agg1(df, exprs), cs, Seq("skewness", "kurtosis"))
  }
}
