package graft.operators

import graft.functions.Similarity
import graft.plans.GraftFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** KNN imputation with the reference's fit-small / apply-big contract
  * (ref: transformers.py:1677-2019 imputation_sklearn — sklearn KNNImputer
  * fit on a <=10k-row driver sample, applied distributed). JVM
  * substitute: the sampled complete-case matrix is broadcast and each
  * partition imputes its null cells from the k nearest neighbours
  * (z-scaled euclidean distance over the observed dimensions, neighbour
  * mean fill — same numerics as sklearn's nan_euclidean + uniform KNN).
  */
object KnnImputer {

  def imputationKnn(
      df: DataFrame,
      cols: Seq[String],
      k: Int = 5,
      sampleSize: Int = 10000,
      seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val complete = df.select(cols.map(c => col(c).cast("double")): _*).na.drop()
    // stats estimate instead of a full count() — at 100 TB the extra scan
    // per fit dominates; the fraction only sizes the sample (limit caps it)
    val n = complete.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(complete.count())
    def collectSample(frac: Double): Array[Array[Double]] = complete
      .sample(withReplacement = false, frac, seed).limit(sampleSize)
      .collect().map(r => cols.indices.map(r.getDouble).toArray)
    val frac = math.min(1.0, sampleSize * 1.2 / math.max(1L, n).toDouble)
    var sample = collectSample(frac)
    // the Catalyst estimate can overshoot the post-na.drop count badly,
    // undershooting frac and quietly fitting on a far-too-small neighbour
    // set — when the sample comes back short, re-derive the fraction from
    // the exact count (one cheap scan on exactly the degraded path)
    if (sample.length < sampleSize && frac < 1.0) {
      val frac2 = math.min(1.0, sampleSize * 1.2 / math.max(1L, complete.count()).toDouble)
      if (frac2 > frac) sample = collectSample(frac2)
    }
    applyKnn(df, cols, sample, k)
  }

  /** Fully deterministic variant: the neighbour sample is the
    * `sampleSize` complete rows with the LOWEST md5-prefix hash of the
    * key columns (global TakeOrdered — no RNG, no partition-layout
    * dependence), kept in hash order so top-k tie-breaking is stable
    * too. Every step — sample membership, sample order, scaled
    * distances, neighbour ranks, neighbour means — is a pure function
    * of the data, which makes the whole imputation replayable in an
    * external SQL engine (q_knn_deterministic).
    */
  def imputationKnnDeterministic(
      df: DataFrame,
      cols: Seq[String],
      sampleKeyCols: Seq[String],
      k: Int = 5,
      sampleSize: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(sampleKeyCols.nonEmpty, "deterministic KNN needs sample key columns")
    val h = GraftFunctions.joinedKeyHash("|", sampleKeyCols)
    val sample: Array[Array[Double]] = df.na.drop(cols)
      .orderBy(h.asc +: sampleKeyCols.map(c => GraftFunctions.exactCol(c).asc): _*)
      .limit(sampleSize)
      .select(cols.map(c => col(c).cast("double")): _*)
      .collect().map(r => cols.indices.map(r.getDouble).toArray)
    applyKnn(df, cols, sample, k)
  }

  private def applyKnn(
      df: DataFrame,
      cols: Seq[String],
      sample: Array[Array[Double]],
      k: Int): DataFrame = {
    require(sample.nonEmpty, "KNN imputation needs at least one complete row")

    // per-column scale for the distance metric (driver, O(#cols))
    val statsRow = df.agg(
      cols.flatMap(c => Seq(avg(col(c)).as(s"m__$c"), stddev_samp(col(c)).as(s"s__$c"))).head,
      cols.flatMap(c => Seq(avg(col(c)).as(s"m__$c"), stddev_samp(col(c)).as(s"s__$c"))).tail: _*
    ).collect()(0)
    val scales = cols.map { c =>
      val s = Transformers.optD(statsRow, s"s__$c").getOrElse(Double.NaN)
      if (s.isNaN || s < 1e-12) 1.0 else s
    }.toArray
    // sklearn KNNImputer fills rows with NO observed dimension from the
    // column means — precompute them for that fallback
    val means = cols.map(c => Transformers.optD(statsRow, s"m__$c").getOrElse(0.0)).toArray

    val bcSample = df.sparkSession.sparkContext.broadcast(sample)
    val bcScales = df.sparkSession.sparkContext.broadcast(scales)
    val bcMeans = df.sparkSession.sparkContext.broadcast(means)

    val outSchema = StructType(df.schema.fields.map { f =>
      if (cols.contains(f.name)) StructField(f.name, DoubleType, nullable = true) else f
    })
    val enc = RowEncoder.encoderFor(outSchema)
    val colIdx = cols.map(df.schema.fieldIndex).toArray
    val nCols = cols.size

    df.mapPartitions { rows =>
      val samp = bcSample.value
      val sc = bcScales.value
      rows.map { r =>
        val vals = colIdx.map(i =>
          if (r.isNullAt(i)) Double.NaN
          else r.get(i) match {
            case d: Double => d
            case x: Number => x.doubleValue()
          })
        val filled =
          if (!vals.exists(_.isNaN)) vals
          else if (vals.forall(_.isNaN)) bcMeans.value.clone()
          else {
            // k nearest complete rows by scaled euclidean over observed
            // dims — the shared bounded top-k on the negated distance,
            // id = sample index, so ties keep the earlier sample row
            val top = new Similarity.TopK(math.min(k, samp.length))
            var si = 0
            while (si < samp.length) {
              val s = samp(si)
              var d = 0.0; var m = 0; var j = 0
              while (j < nCols) {
                if (!vals(j).isNaN) {
                  val diff = (vals(j) - s(j)) / sc(j)
                  d += diff * diff
                  m += 1
                }
                j += 1
              }
              val dist = d * nCols / m
              if (java.lang.Double.isFinite(dist)) top.offer(si, -dist)
              si += 1
            }
            vals.zipWithIndex.map { case (v, j) =>
              if (!v.isNaN) v
              // no finite distance (overflowing values): the column mean,
              // like a row with no observed dimension
              else if (top.size == 0) bcMeans.value(j)
              else {
                var sum = 0.0; var t = 0
                while (t < top.size) { sum += samp(top.ids(t).toInt)(j); t += 1 }
                sum / top.size
              }
            }
          }
        val out = new Array[Any](r.length)
        var i = 0
        while (i < r.length) { out(i) = r.get(i); i += 1 }
        colIdx.zipWithIndex.foreach { case (i, j) => out(i) = filled(j) }
        Row.fromSeq(out.toIndexedSeq)
      }
    }(enc)
  }
}
