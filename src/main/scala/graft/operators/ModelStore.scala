package graft.operators

import graft.operators.QualityChecker.OutlierBounds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Fit-state persistence — the reference's pre_existing_model contract
  * (small parquet "param tables" per transformer: binning cutoffs
  * transformers.py:241-246, encoding maps :913-926, outlier bounds
  * quality_checker.py:908-932, drift source histograms
  * drift_detector.py:252-262). Models are tiny DataFrames: save once,
  * broadcast-apply anywhere — the fit job never reruns on the big data.
  */
object ModelStore {

  // ---- binning cutoffs: [attribute, cuts array]

  def saveBinning(spark: SparkSession, cuts: Map[String, Seq[Double]], path: String): Unit = {
    import spark.implicits._
    cuts.toSeq.toDF("attribute", "cuts").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadBinning(spark: SparkSession, path: String): Map[String, Seq[Double]] =
    spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toSeq).toMap

  // ---- outlier bounds: [attribute, lower, upper]

  def saveOutlierBounds(spark: SparkSession, bounds: Seq[OutlierBounds], path: String): Unit = {
    import spark.implicits._
    bounds.toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadOutlierBounds(spark: SparkSession, path: String): Seq[OutlierBounds] =
    spark.read.parquet(path).collect()
      .map(r => OutlierBounds(r.getAs[String]("attribute"),
        r.getAs[Double]("lower"), r.getAs[Double]("upper"))).toSeq

  // ---- generic encoding / fill maps (any small keyed DataFrame)

  def saveModelTable(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  def loadModelTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Apply a saved encoding map (keyCol -> valueCol) as a broadcast
    * lookup join — the apply side of labelEncoding/targetEncoding with a
    * pre-existing model.
    */
  def applyEncodingModel(df: DataFrame, model: DataFrame, keyCol: String): DataFrame =
    df.join(broadcast(model), Seq(keyCol), "left")

  // ---- boxcox λ model: [attribute, lambda]

  /** Session-scoped memo of boxcox fits, keyed by the canonical
    * optimized plan of the fit aggregate: the λ sweep is a pure function
    * of (source data, columns, sample cap), so re-fitting the same
    * source in one session is wasted work. Cross-session reuse goes
    * through [[saveBoxcoxLambdas]]/[[loadBoxcoxLambdas]] instead.
    */
  // bounded: a long session fitting many distinct sources must not
  // grow driver memory with plan-string keys forever. NOTE the memo
  // assumes a source path's DATA is immutable within the session — an
  // overwritten path re-keys identically; call clearBoxcoxMemo() (or
  // pass `precomputed`) after rewriting a fitted source.
  private[graft] val boxcoxFitMemo =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, Double]]
  private val boxcoxMemoCap = 64
  private[graft] def memoizeBoxcox(key: String)(fit: => Map[String, Double]): Map[String, Double] = {
    if (boxcoxFitMemo.size >= boxcoxMemoCap) boxcoxFitMemo.clear()
    boxcoxFitMemo.getOrElseUpdate(key, fit)
  }
  def clearBoxcoxMemo(): Unit = boxcoxFitMemo.clear()

  def saveBoxcoxLambdas(spark: SparkSession, lambdas: Map[String, Double], path: String): Unit = {
    import spark.implicits._
    lambdas.toSeq.toDF("attribute", "lambda").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadBoxcoxLambdas(spark: SparkSession, path: String): Map[String, Double] =
    spark.read.parquet(path).collect()
      .map(r => r.getAs[String]("attribute") -> r.getAs[Double]("lambda")).toMap

  // ---- drift source histograms: [attribute, bin, p]

  /** Persist the source-side binned frequencies + cutoffs so future
    * drift checks never rescan the source (ref drift "pre_existing_source").
    * Same fit and kernel as Drift.driftStatistics, without its sample cap.
    */
  def saveDriftSource(
      spark: SparkSession,
      source: DataFrame,
      cols: Seq[String],
      binCount: Int,
      path: String): Unit = {
    val cuts = Transformers.equalRangeCuts(source, cols, binCount)
    saveBinning(spark, cuts, s"$path/cuts")
    Drift.binFrequencies(source, cuts, "p")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/frequencies")
  }

  /** Drift of a target against a persisted source histogram — no source
    * rescan; same metrics as Drift.driftStatistics.
    */
  def driftAgainstSavedSource(
      spark: SparkSession,
      target: DataFrame,
      path: String,
      threshold: Double = 0.1): DataFrame =
    Drift.metricsFromFrequencies(
      spark.read.parquet(s"$path/frequencies"),
      Drift.binFrequencies(target, loadBinning(spark, s"$path/cuts"), "q"),
      threshold)

  // ---- tokenizer fit tables: train once on the big corpus, save the
  //      vocab-sized model, encode anywhere (including a streaming
  //      micro-batch or another cluster) without refitting — the same
  //      contract as the binning/boxcox tables above. Rank order IS the
  //      model for merge-based tokenizers, so loads re-sort by rank.

  def saveBpeMerges(
      spark: SparkSession,
      merges: Seq[graft.functions.BpeTokenizer.BpeMerge],
      path: String): Unit = {
    import spark.implicits._
    merges.map(m => (m.rank, m.lhs, m.rhs, m.pairCount))
      .toDF("rank", "lhs", "rhs", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadBpeMerges(
      spark: SparkSession, path: String): Seq[graft.functions.BpeTokenizer.BpeMerge] =
    spark.read.parquet(path).collect()
      .map(r => graft.functions.BpeTokenizer.BpeMerge(
        r.getAs[Int]("rank"), r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[Long]("pair_count")))
      .sortBy(_.rank).toSeq

  def saveWordPieceMerges(
      spark: SparkSession,
      merges: Seq[graft.functions.WordPieceTokenizer.WpMerge],
      path: String): Unit = {
    import spark.implicits._
    merges.map(m => (m.rank, m.lhs, m.rhs, m.pairCount, m.score))
      .toDF("rank", "lhs", "rhs", "pair_count", "score")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadWordPieceMerges(
      spark: SparkSession, path: String): Seq[graft.functions.WordPieceTokenizer.WpMerge] =
    spark.read.parquet(path).collect()
      .map(r => graft.functions.WordPieceTokenizer.WpMerge(
        r.getAs[Int]("rank"), r.getAs[String]("lhs"), r.getAs[String]("rhs"),
        r.getAs[Long]("pair_count"), r.getAs[Double]("score")))
      .sortBy(_.rank).toSeq

  def saveUnigramVocab(
      spark: SparkSession,
      pieces: Seq[graft.functions.UnigramTokenizer.UnigramPiece],
      path: String): Unit = {
    import spark.implicits._
    pieces.map(p => (p.rank, p.piece, p.n, p.logp))
      .toDF("rank", "piece", "n", "logp")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadUnigramVocab(
      spark: SparkSession, path: String): Seq[graft.functions.UnigramTokenizer.UnigramPiece] =
    spark.read.parquet(path).collect()
      .map(r => graft.functions.UnigramTokenizer.UnigramPiece(
        r.getAs[Long]("rank"), r.getAs[String]("piece"),
        r.getAs[Long]("n"), r.getAs[Double]("logp")))
      .sortBy(_.rank).toSeq
}
