package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Attribute-association measures (ref: data_analyzer/association_evaluator.py).
  * The reference runs one job per column with empty-partition windows for
  * grand totals; here every attribute is handled in one melted plan, and
  * grand totals live on the tiny post-aggregation frames only.
  */
object Association {

  /** ref: association_evaluator.py:38-139 `correlation_matrix` — Pearson
    * correlations, long form [attribute_1, attribute_2, corr]. All pairs
    * in ONE scalar agg (no VectorAssembler round-trip; for very wide
    * inputs switch to ml.stat.Correlation over an assembled vector).
    */
  def correlationMatrix(
      df0: DataFrame,
      cols: Seq[String],
      sampleCap: Option[Long] = None): DataFrame = {
    // ref association_evaluator.py:43-44: opt-in sample cap (1M)
    val df = QualityChecker.sampleCapped(df0, sampleCap)
    val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
    val exprs = pairs.map { case (a, b) => corr(col(a), col(b)).as(s"corr__${a}__$b") }
    val agg1 = df.agg(exprs.head, exprs.tail: _*)
    val stackArgs = pairs.map { case (a, b) => s"'$a', '$b', round(`corr__${a}__$b`, 4)" }
      .mkString(", ")
    agg1.select(expr(
      s"stack(${pairs.size}, $stackArgs) as (attribute_1, attribute_2, corr)"))
  }

  /** Average (fractional, tie-aware) 1-based rank of every distinct value
    * of `c` — avg_rank(v) = #(x < v) + (#(x = v) + 1) / 2. Distributed
    * exactly: a value-frequency aggregation, a RANGE sort of the distinct
    * values, then the two-phase prefix sum (per-partition totals →
    * broadcast offsets → per-row running count — the
    * [[graft.functions.Sharding.packByBudget]] idiom). No partitionless
    * data-sized window anywhere; the sorted frame holds DISTINCT values
    * only, and the driver sees one Long per partition.
    */
  private def avgRanksMelted(
      df: DataFrame, cols: Seq[String]): (DataFrame, Map[Int, Long]) = {
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
    val melted = df.select(explode(array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("ci"), col(c).as("v"))
      }: _*)).as("__e"))
      .select(col("__e.ci").as("ci"), col("__e.v").as("v"))
      // nulls never rank (and in a non-ANSI session a failed
      // string→double cast arrives as null even past an upstream
      // na.drop) — drop them so pass 2 can't NPE on getDouble
      .filter(col("v").isNotNull)
    val counts = melted.groupBy("ci", "v").agg(count(lit(1)).as("n"))
    // ONE range sort orders every column's distinct values at once —
    // (ci, v) ranges keep each column's block contiguous across the
    // partition sequence, so the two-phase prefix sum below runs per
    // column inside the same pass (vs the previous one-sort-one-collect
    // PER COLUMN, whose N sequential job barriers dominated wall time)
    val parts = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val sorted = counts
      .repartitionByRange(parts, col("ci").asc, col("v").asc)
      .sortWithinPartitions(col("ci").asc, col("v").asc)
    val rdd = sorted.rdd
    // the sort feeds both the totals pass and the prefix pass — cache it
    // (the packByBudget discipline; Bench/pipelines unpersist leftovers)
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one pass collects BOTH per-(partition, column) row-count sums (the
    // prefix offsets) and distinct-value counts (the caller's broadcast
    // decision — an RDD-backed frame never has CBO stats to consult).
    // Driver sees O(partitions × columns) longs, never data.
    val partStats = rdd.mapPartitionsWithIndex { case (pi, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long)]
      it.foreach { r =>
        val ci = r.getInt(0)
        val (s, rows) = m.getOrElse(ci, (0L, 0L))
        m(ci) = (s + r.getLong(2), rows + 1)
      }
      Iterator.single((pi, m.toSeq))
    }.collect().sortBy(_._1)
    val offsets = scala.collection.mutable.Map.empty[(Int, Int), Long]
    locally {
      val running = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
      partStats.foreach { case (pi, stats) =>
        stats.foreach { case (ci, (s, _)) =>
          offsets((pi, ci)) = running(ci)
          running(ci) += s
        }
      }
    }
    val distinct: Map[Int, Long] = partStats.iterator
      .flatMap(_._2.iterator.map { case (ci, (_, rows)) => ci -> rows })
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    val bcOffsets = df.sparkSession.sparkContext.broadcast(offsets.toMap)
    val ranked = rdd.mapPartitionsWithIndex { case (pi, it) =>
      val off = bcOffsets.value
      val running = scala.collection.mutable.Map.empty[Int, Long]
      it.map { r =>
        val ci = r.getInt(0)
        val n = r.getLong(2)
        val cur = running.getOrElse(ci, off.getOrElse((pi, ci), 0L))
        val rank = cur + (n + 1) / 2.0
        running(ci) = cur + n
        SRow(ci, r.getDouble(1), rank)
      }
    }
    // materialize the (distinct-value-sized) rank table eagerly, then
    // release the cached sort (the checkpointed result is owned by the
    // caller and reaped by the ContextCleaner once unreferenced)
    val frame = df.sparkSession.createDataFrame(ranked, StructType(Seq(
      StructField("ci", IntegerType), StructField("__v", DoubleType),
      StructField("__rank", DoubleType))))
      .localCheckpoint(true)
    rdd.unpersist(false)
    (frame, distinct)
  }

  /** Spearman rank correlations, long form [attribute_1, attribute_2,
    * corr] — Pearson over exact average ranks (the standard tie
    * treatment), listwise-complete rows only (rows null in ANY requested
    * column are excluded before ranking, so every column ranks the same
    * row population). Each column's rank table is distinct-value-sized
    * and joins back by value; the pair correlations then run in ONE
    * scalar aggregation like [[correlationMatrix]].
    */
  def spearmanMatrix(
      df0: DataFrame,
      cols: Seq[String],
      sampleCap: Option[Long] = None): DataFrame = {
    require(cols.size >= 2, "need at least 2 columns")
    // cast FIRST, then drop listwise: a failed string→double cast must
    // count as a null row, not slip past na.drop on its pre-cast value.
    // No materialize barrier on deterministic inputs: with the melted
    // one-pass rank build the source replays exactly twice (the
    // rank-count pass and the final rank-join action) — a pruned
    // columnar re-scan is cheaper than the r13-era checkpoint
    // write+read that paid for N+1 replays. A NONDETERMINISTIC input
    // (sampleCapped's Bernoulli sample, a rand() column) must still
    // pin one barrier: the two replays could otherwise select
    // different row sets, and rows absent from the rank table silently
    // drop out of the inner rank join (the exactPercentiles rule).
    val projected = QualityChecker.sampleCapped(df0, sampleCap)
      .select(cols.map(c => col(c).cast("double").as(c)): _*)
      .na.drop(cols)
    val nondetInput = {
      val plan = projected.queryExecution.optimizedPlan
      plan.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
        case p => p.expressions.exists(e => !e.deterministic)
      }
    }
    val df = if (nondetInput) projected.localCheckpoint(true) else projected
    val (ranksAll, distinct) = avgRanksMelted(df, cols)
    val ranked = cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      val ranks = ranksAll.filter(col("ci") === i)
        .select(col("__v").as(c), col("__rank").as(s"__rank_$c"))
      val rhs =
        if (distinct.getOrElse(i, 0L) <= 1000000L) broadcast(ranks) else ranks
      d.join(rhs, Seq(c))
    }
    val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
    val exprs = pairs.map { case (a, b) =>
      corr(col(s"__rank_$a"), col(s"__rank_$b")).as(s"corr__${a}__$b")
    }
    val agg1 = ranked.agg(exprs.head, exprs.tail: _*)
    val stackArgs = pairs.map { case (a, b) => s"'$a', '$b', round(`corr__${a}__$b`, 4)" }
      .mkString(", ")
    agg1.select(expr(
      s"stack(${pairs.size}, $stackArgs) as (attribute_1, attribute_2, corr)"))
  }

  /** The contingency-table measures derive marginals as windows over
    * the joint-count frame — bounded by |A|·|B|, never the data size,
    * but ONLY while the inputs are genuinely categorical. A
    * high-cardinality column passed by mistake (an ID) would turn the
    * grand-total `Window.partitionBy()` into a single-partition shuffle
    * of a near-data-sized frame at 100× scale, so refuse it up front
    * (the reference's own cardinality-skip idiom,
    * transformers.py:689-692). One map-side-partial
    * approx_count_distinct pass over all requested columns; the ~2% HLL
    * error is irrelevant at guard granularity.
    */
  private def guardCardinality(df: DataFrame, cols: Seq[String], cap: Int): Unit = {
    require(cap > 0, "maxCardinality must be positive")
    val exprs = cols.map(c => approx_count_distinct(col(c)).as(c))
    val row = df.agg(exprs.head, exprs.tail: _*).collect()(0)
    cols.zipWithIndex.foreach { case (c, i) =>
      val d = row.getLong(i)
      require(d <= cap,
        s"column '$c' has ~$d distinct values (maxCardinality=$cap): " +
          "contingency-table association expects categorical columns — " +
          "bin or bucket it first, or raise maxCardinality deliberately")
    }
  }

  /** Categorical↔categorical association per column pair: mutual
    * information and Cramér's V (bias-uncorrected χ² form) — the
    * discrete complement of the
    * Pearson/Spearman matrices. One joint-count aggregation per pair
    * (contingency-table-sized state, never row-sized); marginals derive
    * from the joint frame, so each pair costs one shuffle of its
    * distinct (a, b) combinations. Per-cell terms pre-round to 8
    * decimals and sum in DECIMAL, so the only cross-engine noise is the
    * ln/libm ulp the PSI/JSD oracles already tolerate under the final
    * 4-dp round.
    */
  def catAssociation(df0: DataFrame, cols: Seq[String],
      maxCardinality: Int = 10000): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    require(cols.size >= 2, "need at least 2 columns")
    guardCardinality(df0, cols, maxCardinality)
    val pairs = (for (a <- cols; b <- cols if a < b) yield (a, b)).toIndexedSeq
    def decSum(c: Column): Column =
      sum(round(c, 8).cast(DecimalType(28, 8))).cast(DoubleType)
    // ONE corpus pass for ALL pairs (the same melt as theilsU): explode
    // each row into its P pair cells, one groupBy builds every
    // contingency table at once — shuffle state is map-side-combined
    // cell partials, never row-sized. Marginals and totals are windows
    // over the cells frame keyed by pair id (cells = Σ|A|·|B| rows,
    // bounded by cardinalities — never the data size); distinct counts
    // are per-pair aggregates, since a collect_set window would copy the
    // whole category set into every cell row (|A|·|B|·|B| values).
    // Categories group by their STRING form (the exploded struct needs
    // one homogeneous type, and it is what the oracle groups by too);
    // the one divergence from native grouping is a double-typed
    // categorical holding both 0.0 and -0.0, which split into two
    // textual categories — accepted: categorical columns are strings in
    // practice, and cross-engine agreement beats that corner.
    val pairStructs = pairs.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("p"),
        col(a).cast("string").as("va"), col(b).cast("string").as("vb"))
    }
    val joint = df0
      .select(explode(array(pairStructs: _*)).as("__e"))
      .select(col("__e.p").as("__p"), col("__e.va").as("__a"), col("__e.vb").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__p"), col("__a"), col("__b"))
      .agg(count(lit(1)).as("__nab"))
    val wa = Window.partitionBy(col("__p"), col("__a"))
    val wb = Window.partitionBy(col("__p"), col("__b"))
    val wn = Window.partitionBy(col("__p"))
    val cells = joint
      .withColumn("__na", sum(col("__nab")).over(wa))
      .withColumn("__nb", sum(col("__nab")).over(wb))
      .withColumn("__n", sum(col("__nab")).over(wn))
    val n = col("__n").cast(DoubleType)
    val pab = col("__nab") / n
    val exp = col("__na").cast(DoubleType) * col("__nb") / n
    // the contingency frame holds OBSERVED cells only, but χ² counts
    // every (a, b) combination: an unobserved cell contributes
    // (0 − E)²/E = E, and Σ_all E = N, so the zero-cell mass is
    // exactly N − Σ_observed E — added in closed form instead of
    // materializing the |A|·|B| dense grid
    val agg = cells.groupBy(col("__p"))
      .agg(
        decSum(pab * log(col("__nab") * n /
          (col("__na").cast(DoubleType) * col("__nb")))).as("__mi"),
        decSum((col("__nab") - exp) * (col("__nab") - exp) / exp).as("__chi2o"),
        decSum(exp).as("__esum"),
        max(col("__n")).as("__N"),
        count_distinct(col("__a")).as("__RA"),
        count_distinct(col("__b")).as("__RB"))
      .withColumn("__chi2", col("__chi2o") + (col("__N") - col("__esum")))
    // literal pair list LEFT join: a pair with zero co-observed rows
    // still yields its (all-null) row — P rows, auto-broadcast
    import df0.sparkSession.implicits._
    val pairsDf = pairs.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("__p", "attribute_1", "attribute_2")
    pairsDf.join(agg, Seq("__p"), "left")
      .select(
        col("attribute_1"), col("attribute_2"),
        round(col("__mi"), 4).as("mi"),
        round(col("__chi2"), 4).as("chi2"),
        // a single-category column makes min(R,C)−1 = 0; V is then
        // undefined (null), not a DIVIDE_BY_ZERO crash under ANSI
        when(least(col("__RA"), col("__RB")) > 1,
          round(sqrt(col("__chi2") /
            (col("__N") * (least(col("__RA"), col("__RB")) - 1))), 4))
          .as("cramers_v"))
  }

  /** Theil's uncertainty coefficient U — the ASYMMETRIC cat↔cat measure
    * (how much of x does knowing y explain, and vice versa):
    * U(x|y) = (H(x) − H(x|y)) / H(x). Both entropies reduce to sums
    * over the OBSERVED contingency cells via Σ_b n_ab = n_a:
    * H(x) = Σ_cells −(n_ab/N)·ln(n_a/N) and
    * H(x|y) = Σ_cells −(n_ab/N)·ln(n_ab/n_b) — so one joint-count
    * aggregation per pair serves both directions, same as
    * [[catAssociation]]. Terms pre-round at 8 dp into DECIMAL sums;
    * a single-category x has H(x) = 0 and U(x|y) is null (not an ANSI
    * division crash).
    */
  def theilsU(df0: DataFrame, cols: Seq[String],
      maxCardinality: Int = 10000): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    require(cols.size >= 2, "need at least 2 columns")
    guardCardinality(df0, cols, maxCardinality)
    val pairs = (for (a <- cols; b <- cols if a < b) yield (a, b)).toIndexedSeq
    def decSum(c: Column): Column =
      sum(round(c, 8).cast(DecimalType(28, 8))).cast(DoubleType)
    // ONE corpus pass for ALL pairs (the mode/melt idiom): each row
    // explodes into its P pair cells and a single groupBy builds every
    // contingency table at once — the shuffle carries only map-side-
    // combined cell partials (≤ cells × partitions), never row-sized
    // state. The previous one-groupBy-per-pair form cost P corpus scans.
    // Values group by their canonical string form — injective within a
    // column (one type), which is all a contingency count needs.
    val pairStructs = pairs.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("p"),
        col(a).cast("string").as("va"), col(b).cast("string").as("vb"))
    }
    val joint = df0
      .select(explode(array(pairStructs: _*)).as("__e"))
      .select(col("__e.p").as("__p"), col("__e.va").as("__a"), col("__e.vb").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__p"), col("__a"), col("__b"))
      .agg(count(lit(1)).as("__nab"))
    val cells = joint
      .withColumn("__na",
        sum(col("__nab")).over(Window.partitionBy(col("__p"), col("__a"))))
      .withColumn("__nb",
        sum(col("__nab")).over(Window.partitionBy(col("__p"), col("__b"))))
      .withColumn("__n", sum(col("__nab")).over(Window.partitionBy(col("__p"))))
    val n = col("__n").cast(DoubleType)
    val pab = col("__nab") / n
    val us = cells.groupBy(col("__p"))
      .agg(
        decSum(-pab * log(col("__na").cast(DoubleType) / n)).as("__hx"),
        decSum(-pab * log(col("__nb").cast(DoubleType) / n)).as("__hy"),
        decSum(-pab * log(col("__nab") / col("__nb").cast(DoubleType)))
          .as("__hx_given_y"),
        decSum(-pab * log(col("__nab") / col("__na").cast(DoubleType)))
          .as("__hy_given_x"))
    // LEFT join from the literal pair list so a pair with zero
    // co-observed rows still yields its row (null U, as the per-pair
    // empty-frame agg used to) — the frame is P rows, auto-broadcast.
    import df0.sparkSession.implicits._
    val pairsDf = pairs.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("__p", "attribute_1", "attribute_2")
    pairsDf.join(us, Seq("__p"), "left")
      .select(
        col("attribute_1"), col("attribute_2"),
        when(col("__hx") > 0,
          round((col("__hx") - col("__hx_given_y")) / col("__hx"), 4))
          .as("u_1_given_2"),
        when(col("__hy") > 0,
          round((col("__hy") - col("__hy_given_x")) / col("__hy"), 4))
          .as("u_2_given_1"))
  }

  /** Correlation ratio η (categorical → numeric): √(SS_between /
    * SS_total) — the cat↔num cell completing the association family
    * (Pearson/Spearman num↔num, MI/Cramér's V cat↔cat). Computed in the
    * computational form SS_b = Σ_g S_g²/n_g − S²/N and SS_t = Σx² − S²/N
    * from EXACT decimal group sums, so the only doubles are the
    * deterministic per-group S_g²/n_g divisions (8-dp pre-rounded into a
    * DECIMAL sum) and the final ratio. Group state is O(categories) per
    * pair; η is undefined (null) when the numeric column is constant.
    */
  def correlationRatio(
      df0: DataFrame,
      catCols: Seq[String],
      numCols: Seq[String],
      sampleCap: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    require(catCols.nonEmpty && numCols.nonEmpty, "need both column lists")
    val df = QualityChecker.sampleCapped(df0, sampleCap)
    val pairs = (for (c <- catCols; x <- numCols) yield (c, x)).toIndexedSeq
    // ONE corpus pass for ALL (cat, num) pairs (the theilsU melt): the
    // numeric leg casts to the shared DECIMAL(18,4) type up front, so
    // every pair cell fits one homogeneous exploded struct; the single
    // groupBy shuffles map-side-combined per-(pair, category) partials.
    // Filtering on the CAST value (__v nonnull), not the raw one: a value
    // the decimal cast nulls in a non-ANSI session (unparseable string,
    // |x| >= 1e14) must drop from the count the same way it drops from
    // __sg/__s2g, or the group mean silently deflates (the
    // momentSketches discipline) — a cast-null row contributed nothing
    // to any aggregate in the per-pair form either.
    val pairStructs = pairs.zipWithIndex.map { case ((c, x), i) =>
      struct(lit(i).as("p"), col(c).cast("string").as("vc"),
        col(x).cast(DecimalType(18, 4)).as("vx"))
    }
    val g = df
      .select(explode(array(pairStructs: _*)).as("__e"))
      .select(col("__e.p").as("__p"), col("__e.vc").as("__c"), col("__e.vx").as("__v"))
      .filter(col("__c").isNotNull && col("__v").isNotNull)
      .groupBy(col("__p"), col("__c"))
      .agg(count(col("__v")).as("__ng"), sum(col("__v")).as("__sg"),
        sum(col("__v") * col("__v")).as("__s2g"))
    val agg = g.groupBy(col("__p")).agg(
      sum(col("__ng")).as("__n"),
      sum(col("__sg")).as("__s"),
      sum(col("__s2g")).as("__s2"),
      sum(round(col("__sg").cast(DoubleType) * col("__sg").cast(DoubleType) /
        col("__ng"), 8).cast(DecimalType(28, 8))).cast(DoubleType).as("__ssb_raw"))
    import df0.sparkSession.implicits._
    val pairsDf = pairs.zipWithIndex
      .map { case ((c, x), i) => (i, c, x) }
      .toDF("__p", "cat_attribute", "num_attribute")
    pairsDf.join(agg, Seq("__p"), "left")
      .select(
        col("cat_attribute"), col("num_attribute"),
        {
          val n = col("__n").cast(DoubleType)
          val s = col("__s").cast(DoubleType)
          val s2 = col("__s2").cast(DoubleType)
          val sst = s2 - s * s / n
          val ssb = col("__ssb_raw") - s * s / n
          when(sst > 0, round(sqrt(greatest(ssb, lit(0.0)) / sst), 4))
            .as("eta")
        })
  }

  /** ref: association_evaluator.py:253-424 `IV_calculation`.
    * Per attribute value/bin: WOE = ln(nonevent_pct / event_pct), with a
    * +0.5-count smoothing fallback when either share is zero
    * (ref :388-408); IV = Σ (nonevent_pct − event_pct) · WOE.
    * All attributes in one melt + one shuffle; numeric attributes should
    * be binned first (attribute_binning).
    */
  def ivCalculation(df: DataFrame, cols: Seq[String], event: Column): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', cast(`$c` as string)").mkString(", ")
    val long = df
      .withColumn("__evt", when(event, 1).otherwise(0))
      .select(col("__evt"),
        expr(s"stack(${cols.size}, $stackArgs) as (attribute, value)"))
    val agg = long.groupBy("attribute", "value").agg(
      count(when(col("__evt") === 0, 1)).as("label_0"),
      count(when(col("__evt") === 1, 1)).as("label_1"))
    val w = Window.partitionBy("attribute")
    agg
      .withColumn("t0", sum("label_0").over(w))
      .withColumn("t1", sum("label_1").over(w))
      .withColumn("nonevent_pcr", col("label_0") / col("t0"))
      .withColumn("event_pcr", col("label_1") / col("t1"))
      .withColumn("woe",
        when(col("nonevent_pcr") =!= 0 && col("event_pcr") =!= 0,
          log(col("nonevent_pcr") / col("event_pcr")))
          .otherwise(log(((col("label_0") + 0.5) / col("t0")) /
            ((col("label_1") + 0.5) / col("t1")))))
      .groupBy("attribute")
      .agg(round(sum((col("nonevent_pcr") - col("event_pcr")) * col("woe")), 4).as("iv"))
  }

  /** ref: association_evaluator.py:427-586 `IG_calculation`.
    * IG = H(label) − Σ_bins segment_pct · H(label | bin), base-2 entropy;
    * pure bins (event pct 0 or 1) contribute zero (the reference reaches
    * the same result via null-valued log2 terms dropped by sum).
    */
  def igCalculation(df: DataFrame, cols: Seq[String], event: Column): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', cast(`$c` as string)").mkString(", ")
    val long = df
      .withColumn("__evt", when(event, 1).otherwise(0))
      .select(col("__evt"),
        expr(s"stack(${cols.size}, $stackArgs) as (attribute, value)"))
    val agg = long.groupBy("attribute", "value").agg(
      sum("__evt").as("event_count"),
      count(lit(1)).as("total_count"))
    val w = Window.partitionBy("attribute")
    val withEntropy = agg
      .withColumn("event_pct", col("event_count") / col("total_count"))
      .withColumn("segment_pct", col("total_count") / sum("total_count").over(w))
      .withColumn("entropy",
        when(col("event_pct") === 0 || col("event_pct") === 1, 0.0)
          .otherwise(-col("segment_pct") *
            (col("event_pct") * log2(col("event_pct")) +
              (lit(1) - col("event_pct")) * log2(lit(1) - col("event_pct")))))
      .withColumn("total_event",
        sum("event_count").over(w) / sum("total_count").over(w))
      .withColumn("total_entropy",
        when(col("total_event") === 0 || col("total_event") === 1, 0.0)
          .otherwise(-(col("total_event") * log2(col("total_event")) +
            (lit(1) - col("total_event")) * log2(lit(1) - col("total_event")))))
    withEntropy
      .groupBy("attribute")
      .agg(round(first("total_entropy") - sum("entropy"), 4).as("ig"))
  }
}
