package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data drift + stability (ref: drift_stability/).
  *
  * The reference loops per column with a join+window per metric
  * (drift_detector.py:243-344 — N columns → ~4N jobs). Here all columns
  * are binned, melted and aggregated in ONE shuffle; the per-bin p/q
  * table is tiny (#cols × #bins) so the metric arithmetic runs on a
  * frame of driver-bounded size, never on the raw data.
  */
object Drift {

  /** Equal-range cutoffs fitted on the source (one agg), applied to both
    * sides — the persisted-source-histogram contract of
    * drift_detector.py:252-262 maps to saving the tiny p-frame.
    */
  def driftStatistics(
      source0: DataFrame,
      target0: DataFrame,
      cols: Seq[String],
      binCount: Int = 10,
      threshold: Double = 0.1,
      sampleCap: Option[Long] = Some(100000L)): DataFrame = {
    // ref drift_detector.py:32,187-211: per-side sample cap (default 100k)
    val source = QualityChecker.sampleCapped(source0, sampleCap)
    val target = QualityChecker.sampleCapped(target0, sampleCap)
    val cuts = Transformers.equalRangeCuts(source, cols, binCount)
    metricsFromFrequencies(
      binFrequencies(source, cuts, "p"), binFrequencies(target, cuts, "q"), threshold)
  }

  /** The one bin-frequency kernel, [attribute, bin, `name`]: bin every
    * column of `cuts`, melt to (attribute, bin), count, divide by the
    * attribute's total — one shuffle. Both sides of the direct and the
    * persisted-source drift paths are built here.
    */
  def binFrequencies(df: DataFrame, cuts: Map[String, Seq[Double]], name: String): DataFrame = {
    require(cuts.nonEmpty, "drift: every requested column is all-null in the source")
    val stackArgs = cuts.keys.map(c => s"'$c', `${c}__bin`").mkString(", ")
    shareOfAttribute(Transformers.applyBinning(df, cuts, "__bin")
      .select(expr(s"stack(${cuts.size}, $stackArgs) as (attribute, bin)"))
      .groupBy("attribute", "bin")
      .agg(count(lit(1)).as("__n")), name)
  }

  /** [attribute, bin, __n] counts → [attribute, bin, `name`] frequencies. */
  private[graft] def shareOfAttribute(counts: DataFrame, name: String): DataFrame =
    counts
      .withColumn(name, col("__n") / sum(col("__n")).over(Window.partitionBy("attribute")))
      .drop("__n")

  /** PSI/HD/JSD/KS from per-bin frequency frames [attribute, bin, p|q] —
    * shared by the direct path and the persisted-source path
    * (ModelStore.driftAgainstSavedSource).
    */
  def metricsFromFrequencies(p: DataFrame, q: DataFrame, threshold: Double): DataFrame = {
    val floor = 0.0001 // ref: drift_detector.py:269 — missing/zero bins
    val xy = p.join(q, Seq("attribute", "bin"), "full_outer")
      .withColumn("p", when(col("p").isNull || col("p") === 0, floor).otherwise(col("p")))
      .withColumn("q", when(col("q").isNull || col("q") === 0, floor).otherwise(col("q")))

    val wCum = Window.partitionBy("attribute").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    xy
      .withColumn("cum_p", sum("p").over(wCum))
      .withColumn("cum_q", sum("q").over(wCum))
      .withColumn("m", (col("p") + col("q")) / 2)
      .groupBy("attribute")
      .agg(
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 4).as("PSI"),
        round(sqrt(sum(pow(sqrt(col("p")) - sqrt(col("q")), 2)) / 2), 4).as("HD"),
        round((sum(col("p") * log(col("p") / col("m"))) +
          sum(col("q") * log(col("q") / col("m")))) / 2, 4).as("JSD"),
        round(max(abs(col("cum_p") - col("cum_q"))), 4).as("KS"))
      .withColumn("flagged",
        when(col("PSI") > threshold, 1).otherwise(0))
  }

  /** ref: drift_stability/stability.py:15-332 `stability_index_computation`
    * + validations.py `compute_si`.
    * Per period & attribute: mean, stddev, kurtosis(+3); across periods:
    * CV of each; CV → SI {<.03→4, <.1→3, <.2→2, <.5→1, else 0};
    * stability index = 0.5·SI_mean + 0.3·SI_stddev + 0.2·SI_kurtosis.
    * Input frames are tagged with a period index; everything is a single
    * groupBy(attribute, period) + groupBy(attribute) cascade on melted
    * columns — two shuffles total regardless of #periods/#cols.
    */
  def stabilityIndex(periods: Seq[DataFrame], cols: Seq[String]): DataFrame = {
    require(periods.size >= 2, "stability needs >= 2 periods")
    val tagged = periods.zipWithIndex.map { case (df, i) =>
      val stackArgs = cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ")
      df.select(expr(s"stack(${cols.size}, $stackArgs) as (attribute, value)"))
        .withColumn("idx", lit(i))
    }
    val long = tagged.reduce(_ unionByName _)
    val perPeriod = long.groupBy("attribute", "idx").agg(
      avg("value").as("mean"),
      stddev_samp("value").as("stddev"),
      (kurtosis(col("value")) + 3).as("kurtosis"))

    def cv(c: String) = abs(stddev_samp(col(c)) / avg(col(c)))
    def si(c: String) = {
      val v = col(s"cv_$c")
      when(v < 0.03, 4).when(v < 0.1, 3).when(v < 0.2, 2).when(v < 0.5, 1).otherwise(0)
    }
    perPeriod.groupBy("attribute")
      .agg(
        round(cv("mean"), 4).as("cv_mean"),
        round(cv("stddev"), 4).as("cv_stddev"),
        round(cv("kurtosis"), 4).as("cv_kurtosis"))
      .withColumn("mean_si", si("mean"))
      .withColumn("stddev_si", si("stddev"))
      .withColumn("kurtosis_si", si("kurtosis"))
      .withColumn("stability_index",
        round(col("mean_si") * 0.5 + col("stddev_si") * 0.3 + col("kurtosis_si") * 0.2, 4))
  }
}
