package graft.operators

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import graft.plans.GraftFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-robin regression imputation with the reference's fit-small /
  * apply-big contract (ref: transformers.py:1677-2019 `imputation_sklearn`
  * with method_type="regression" — sklearn IterativeImputer). Each column
  * with missing values is modelled as a ridge regression on the other
  * columns; imputation proceeds from the column with the fewest missing
  * values to the most, repeated until the imputed values stabilise
  * (sklearn default: 10 rounds, mean initial fill, BayesianRidge — we use
  * a fixed small ridge penalty instead of the Bayesian evidence loop,
  * a documented deviation with the same round-robin structure).
  *
  * Fit runs on a ≤`sampleSize` driver sample (p×p solves, p = #cols);
  * apply is a broadcast of O(p²) coefficients + one map-only pass — no
  * shuffle, scales to any row count.
  */
object IterativeImputer {

  final case class Model(
      cols: Seq[String],
      means: Array[Double],
      order: Array[Int],            // targets, fewest-missing first
      coefs: Array[Array[Double]],  // per target: p weights (self weight 0)
      intercepts: Array[Double],
      rounds: Int)

  def fit(
      df: DataFrame,
      cols: Seq[String],
      sampleSize: Int = 10000,
      ridgeLambda: Double = 1e-2,
      maxIter: Int = 10,
      tol: Double = 1e-3,
      seed: Long = 42L): Model = {
    require(cols.size >= 2, "iterative imputation needs >= 2 columns")
    val p = cols.size
    val projected = df.select(cols.map(c => col(c).cast("double")): _*)
    val n0 = projected.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).getOrElse(df.count())
    val frac = math.min(1.0, sampleSize * 1.2 / math.max(1L, n0).toDouble)
    val sample: Array[Array[Double]] = projected
      .sample(withReplacement = false, frac, seed).limit(sampleSize)
      .collect()
      .map(r => Array.tabulate(p)(i => if (r.isNullAt(i)) Double.NaN else r.getDouble(i)))
      .filter(_.exists(!_.isNaN))
    require(sample.nonEmpty, "iterative imputation: sample has no usable rows")
    val n = sample.length

    val means = Array.tabulate(p) { j =>
      var s = 0.0; var c = 0
      sample.foreach { r => if (!r(j).isNaN) { s += r(j); c += 1 } }
      if (c == 0) 0.0 else s / c
    }
    val miss = Array.ofDim[Boolean](n, p)
    val x = Array.ofDim[Double](n, p)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < p) {
        miss(i)(j) = sample(i)(j).isNaN
        x(i)(j) = if (miss(i)(j)) means(j) else sample(i)(j)
        j += 1
      }
      i += 1
    }
    val missCount = Array.tabulate(p)(j => (0 until n).count(miss(_)(j)))
    // model every requested column (apply data may have misses the sample
    // lacks), ordered fewest-missing first like sklearn
    val order = (0 until p).sortBy(j => (missCount(j), j)).toArray

    val coefs = Array.fill(p)(new Array[Double](p))
    val intercepts = new Array[Double](p)
    var round = 0
    var converged = false
    while (round < maxIter && !converged) {
      var maxDelta = 0.0
      for (j <- order) {
        val obs = (0 until n).filter(!miss(_)(j))
        if (obs.nonEmpty) {
          // ridge on the other p-1 columns + intercept (unpenalised)
          val a = BDM.zeros[Double](obs.size, p) // last col = intercept slot via j reuse
          val y = BDV.zeros[Double](obs.size)
          var r = 0
          obs.foreach { i =>
            var k = 0
            while (k < p) { a(r, k) = if (k == j) 1.0 else x(i)(k); k += 1 }
            y(r) = x(i)(j)
            r += 1
          }
          val g = a.t * a
          var k = 0
          while (k < p) { if (k != j) g(k, k) += ridgeLambda; k += 1 }
          val w = g \ (a.t * y)
          var kk = 0
          while (kk < p) { coefs(j)(kk) = if (kk == j) 0.0 else w(kk); kk += 1 }
          intercepts(j) = w(j)
          // refresh imputed cells of column j
          var ii = 0
          while (ii < n) {
            if (miss(ii)(j)) {
              var pred = intercepts(j); var k2 = 0
              while (k2 < p) { pred += coefs(j)(k2) * x(ii)(k2); k2 += 1 }
              val d = math.abs(pred - x(ii)(j))
              if (d > maxDelta) maxDelta = d
              x(ii)(j) = pred
            }
            ii += 1
          }
        } else { intercepts(j) = means(j) }
      }
      round += 1
      val scale = means.map(math.abs).max.max(1.0)
      if (maxDelta < tol * scale) converged = true
    }
    Model(cols, means, order, coefs, intercepts, math.max(1, round))
  }

  /** Distributed apply: per row, mean-fill then re-run the fitted
    * round-robin predictions for the originally-missing cells.
    */
  def transform(df: DataFrame, model: Model): DataFrame = {
    val p = model.cols.size
    val colIdx = model.cols.map(df.schema.fieldIndex).toArray
    val outSchema = StructType(df.schema.fields.map { f =>
      if (model.cols.contains(f.name)) StructField(f.name, DoubleType, nullable = true) else f
    })
    val enc = RowEncoder.encoderFor(outSchema)
    val bc = df.sparkSession.sparkContext.broadcast(model)
    df.mapPartitions { rows =>
      val m = bc.value
      rows.map { r =>
        val vals = colIdx.map(i =>
          if (r.isNullAt(i)) Double.NaN
          else r.get(i) match {
            case d: Double => d
            case xn: Number => xn.doubleValue()
          })
        val anyMiss = vals.exists(_.isNaN)
        val filled =
          if (!anyMiss) vals
          else {
            val wasMiss = vals.map(_.isNaN)
            val xr = Array.tabulate(p)(j => if (wasMiss(j)) m.means(j) else vals(j))
            var round = 0
            while (round < m.rounds) {
              for (j <- m.order) if (wasMiss(j)) {
                var pred = m.intercepts(j); var k = 0
                while (k < p) { pred += m.coefs(j)(k) * xr(k); k += 1 }
                xr(j) = pred
              }
              round += 1
            }
            xr
          }
        val out = new Array[Any](r.length)
        var i = 0
        while (i < r.length) { out(i) = r.get(i); i += 1 }
        colIdx.zipWithIndex.foreach { case (i, j) => out(i) = filled(j) }
        Row.fromSeq(out.toIndexedSeq)
      }
    }(enc)
  }

  def imputationIterative(
      df: DataFrame,
      cols: Seq[String],
      sampleSize: Int = 10000,
      ridgeLambda: Double = 1e-2,
      maxIter: Int = 10,
      seed: Long = 42L): DataFrame =
    transform(df, fit(df, cols, sampleSize, ridgeLambda, maxIter, seed = seed))

  // ------------------------------------------------------------------
  // Deterministic sibling with a FULL DuckDB oracle (the
  // q_knn_deterministic recipe extended to a model FIT): the neighbour
  // sample is the `sampleSize` complete rows with the lowest md5 key
  // hash; sample values are quantized to per-column integer grids whose
  // Gram sums stay within exact-int64 range, so both engines accumulate
  // ORDER-INDEPENDENT exact integers and convert once to double; the
  // ridge normal equations are then solved by Gaussian elimination with
  // the exact same operation sequence the SQL replay emits
  // (IterImputeSql) — IEEE doubles make the coefficients bit-identical —
  // and the apply pass runs `rounds` fixed round-robin sweeps per row.
  // The RNG production path above stays RMSE-gated.
  // ------------------------------------------------------------------

  /** Forward elimination + back substitution with a canonical operation
    * order (the order IterImputeSql generates): f computed from the
    * pre-step row, column updates ascending, back-substitution as
    * sequential subtraction ascending. No pivoting (SPD + ridge).
    */
  private[graft] def solveGaussSeq(m: Array[Array[Double]]): Array[Double] = {
    val d = m.length
    var k = 0
    while (k < d) {
      var r = k + 1
      while (r < d) {
        val f = m(r)(k) / m(k)(k)
        var c = k
        while (c <= d) { m(r)(c) = m(r)(c) - f * m(k)(c); c += 1 }
        r += 1
      }
      k += 1
    }
    val w = new Array[Double](d)
    var kk = d - 1
    while (kk >= 0) {
      var s = m(kk)(d)
      var c = kk + 1
      while (c < d) { s -= m(kk)(c) * w(c); c += 1 }
      w(kk) = s / m(kk)(kk)
      kk -= 1
    }
    w
  }

  def imputationIterativeDeterministic(
      df: DataFrame,
      cols: Seq[String],
      sampleKeyCols: Seq[String],
      scales: Seq[Long],
      sampleSize: Int = 1000,
      ridgeLambda: Double = 1e-2,
      rounds: Int = 3): DataFrame = {
    require(cols.size >= 2, "iterative imputation needs >= 2 columns")
    require(scales.size == cols.size, "one quantization scale per column")
    val p = cols.size
    val h = GraftFunctions.joinedKeyHash("|", sampleKeyCols)
    val sample: Array[Array[Long]] = df.na.drop(cols)
      .orderBy(h.asc +: sampleKeyCols.map(c => GraftFunctions.exactCol(c).asc): _*)
      .limit(sampleSize)
      .select(cols.map(c => col(c).cast("double")): _*)
      .collect()
      .map(r => Array.tabulate(p)(i => Math.round(r.getDouble(i) * scales(i))))
    val n = sample.length
    require(n > p, s"deterministic iterative imputation: sample too small ($n rows)")

    // exact integer sums (order-independent; ranges bounded by `scales`)
    val s1 = new Array[Long](p)
    val s2 = Array.ofDim[Long](p, p)
    sample.foreach { z =>
      var a = 0
      while (a < p) {
        s1(a) += z(a)
        var b = 0
        while (b < p) { s2(a)(b) += z(a) * z(b); b += 1 }
        a += 1
      }
    }
    val nD = n.toDouble
    val sumD = Array.tabulate(p)(k => s1(k).toDouble / scales(k).toDouble)
    val gramD = Array.tabulate(p, p)((k, l) =>
      s2(k)(l).toDouble / (scales(k) * scales(l)).toDouble)
    val means = Array.tabulate(p)(k => (s1(k).toDouble / nD) / scales(k).toDouble)

    // per-target ridge normal equations: predictors ascending (minus j),
    // intercept last, ridge on predictor diagonal only
    val coefs = Array.fill(p)(new Array[Double](p))
    val intercepts = new Array[Double](p)
    for (j <- 0 until p) {
      val preds = (0 until p).filterNot(_ == j)
      val d = p // p-1 predictors + intercept
      val m = Array.ofDim[Double](d, d + 1)
      for (a <- preds.indices; b <- preds.indices)
        m(a)(b) = gramD(preds(a))(preds(b)) + (if (a == b) ridgeLambda else 0.0)
      for (a <- preds.indices) {
        m(a)(d - 1) = sumD(preds(a))
        m(d - 1)(a) = sumD(preds(a))
        m(a)(d) = gramD(preds(a))(j)
      }
      m(d - 1)(d - 1) = nD
      m(d - 1)(d) = sumD(j)
      val w = solveGaussSeq(m)
      preds.indices.foreach(a => coefs(j)(preds(a)) = w(a))
      intercepts(j) = w(d - 1)
    }
    transform(df, Model(cols, means, (0 until p).toArray, coefs, intercepts, rounds))
  }
}
