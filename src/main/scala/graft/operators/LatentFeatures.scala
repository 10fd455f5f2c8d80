package graft.operators

import graft.plans.GraftFunctions
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Advanced imputation + latent-feature transformers built on spark.ml
  * (ref: data_transformer/transformers.py §2.8 advanced ops).
  */
object LatentFeatures {

  /** ref: transformers.py:2915-3168 `PCA_latentFeatures` — z-standardize,
    * fit PCA, keep the smallest k whose cumulative explained variance
    * reaches the cutoff, emit latent_0..latent_{k-1}.
    *
    * PCA on z-standardized data is the eigen-decomposition of the
    * correlation matrix, so the fit is ONE aggregation (p·(p−1)/2 `corr`
    * + p mean/stddev buffers — no spark.ml RowMatrix/RDD detour) and a
    * driver-side Breeze `eigSym` of the tiny p×p matrix; the projection
    * is a plain codegen'd Project of Σ vⱼᵢ·(xⱼ−μⱼ)/σⱼ. One data pass to
    * fit, zero shuffles to apply — the whole-stage-codegen shape the
    * previous VectorAssembler→StandardScaler→PCA pipeline (three fits,
    * per-row Vector boxing) could not reach. Rows with a null in any
    * input column are dropped (the assembler's handleInvalid=skip
    * contract).
    */
  def pcaLatentFeatures(
      df: DataFrame,
      cols: Seq[String],
      explainedVarianceCutoff: Double = 0.95,
      keepOriginal: Boolean = false): DataFrame = {
    import breeze.linalg.{eigSym, DenseMatrix => BDM}
    val complete = df.na.drop(cols)
    val p = cols.size
    val pairs = for (i <- 0 until p; j <- (i + 1) until p) yield (i, j)
    val exprs = cols.flatMap(c => Seq(
      avg(col(c).cast("double")).as(s"mu__$c"),
      stddev_samp(col(c).cast("double")).as(s"sd__$c"))) ++
      pairs.map { case (i, j) =>
        corr(col(cols(i)).cast("double"), col(cols(j)).cast("double")).as(s"r__${i}__$j")
      }
    val row = complete.agg(exprs.head, exprs.tail: _*).collect()(0)
    def d(name: String): Double = {
      val i = row.fieldIndex(name)
      if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
    }
    val mu = cols.map(c => d(s"mu__$c")).toArray
    val sd = cols.map(c => d(s"sd__$c")).toArray
    // zero-variance columns carry no information: drop them from the
    // correlation matrix entirely (a unit diagonal entry would otherwise
    // keep a phantom eigenvalue and inflate the explained-variance
    // denominator — the StandardScaler+PCA pipeline this replaces, and
    // the reference, give constant columns zero weight)
    val good = (0 until p).filter(j => !sd(j).isNaN && sd(j) != 0.0).toArray
    val g = good.length
    require(g >= 1, "PCA needs at least one non-constant column")
    val r = BDM.eye[Double](g)
    pairs.foreach { case (i, j) =>
      val gi = good.indexOf(i); val gj = good.indexOf(j)
      if (gi >= 0 && gj >= 0) {
        val v = d(s"r__${i}__$j")
        val rv = if (v.isNaN) 0.0 else v
        r(gi, gj) = rv; r(gj, gi) = rv
      }
    }
    val es = eigSym(r)
    val order = (0 until g).sortBy(i => -es.eigenvalues(i))
    // explained variance of the i-th component = λᵢ / trace = λᵢ / g
    // (g non-degenerate columns, not p)
    val cum = order.map(i => math.max(es.eigenvalues(i), 0.0) / g)
      .scanLeft(0.0)(_ + _).tail
    val k = math.max(1, cum.indexWhere(_ >= explainedVarianceCutoff) + 1 match {
      case 0 => g
      case n => n
    })
    val withLatents = (0 until k).foldLeft(complete) { (acc, i) =>
      val v = es.eigenvectors(::, order(i))
      // deterministic sign: largest-|loading| coordinate is positive
      val flip = {
        val jm = (0 until g).maxBy(j => math.abs(v(j)))
        if (v(jm) < 0) -1.0 else 1.0
      }
      val proj = good.zipWithIndex.map { case (j, gj) =>
        val c = cols(j)
        (col(c).cast("double") - lit(mu(j))) * lit(flip * v(gj) / sd(j))
      }.reduce(_ + _)
      acc.withColumn(s"latent_$i", round(proj, 4))
    }
    if (keepOriginal) withLatents else withLatents.drop(cols: _*)
  }

  /** Deterministic quantized cyclic-Jacobi eigendecomposition of a small
    * symmetric matrix: exactly `sweeps` full cycles over the upper-
    * triangle pairs in row-major order; after every rotation each updated
    * A and V entry is rounded to `dp` decimals. The rounding grid absorbs
    * the last-ulp atan2/cos/sin differences between math libraries, so an
    * external engine replaying the same rotations on the same quantized
    * input lands on the SAME eigenpairs bit for bit — the eigensolver
    * twin of the quantized-Lloyd IVF fit and the fixed-iteration
    * vincenty/pagerank oracle trick. Rotation convention (matches the
    * SQL replay in MLQueries.pcaJacobiSql): θ = ½·atan2(2aₚq, aₚₚ−a_qq),
    * a'ₚₚ = c²aₚₚ + 2scaₚq + s²a_qq, a'ᵣₚ = c·aᵣₚ + s·aᵣq,
    * a'ᵣq = −s·aᵣₚ + c·aᵣq, V ← V·J. Zero rotations are skipped — the
    * skip is portable because the quantized aₚq is exactly 0 on both
    * engines, and applying the identity rotation re-rounds values that
    * are already on the grid.
    * Returns (diagonal eigenvalues, eigenvector columns V).
    */
  def jacobiEigSymQuantized(
      a0: Array[Array[Double]], sweeps: Int, dp: Int): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def rq(x: Double): Double =
      BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    var sw = 0
    while (sw < sweeps) {
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = 0.5 * math.atan2(2.0 * apq, a(p)(p) - a(q)(q))
            val c = math.cos(theta); val s = math.sin(theta)
            val app = a(p)(p); val aqq = a(q)(q)
            val napp = rq(c * c * app + 2.0 * s * c * apq + s * s * aqq)
            val naqq = rq(s * s * app - 2.0 * s * c * apq + c * c * aqq)
            a(p)(p) = napp; a(q)(q) = naqq
            a(p)(q) = 0.0; a(q)(p) = 0.0
            var r = 0
            while (r < n) {
              if (r != p && r != q) {
                val arp = a(r)(p); val arq = a(r)(q)
                val nrp = rq(c * arp + s * arq)
                val nrq = rq(-s * arp + c * arq)
                a(r)(p) = nrp; a(p)(r) = nrp
                a(r)(q) = nrq; a(q)(r) = nrq
              }
              r += 1
            }
            var i = 0
            while (i < n) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = rq(c * vip + s * viq)
              v(i)(q) = rq(-s * vip + c * viq)
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sw += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Engine-portable PCA: identical semantics to [[pcaLatentFeatures]]
    * (z-standardize → correlation-matrix eigendecomposition → cumulative-
    * explained-variance cutoff → latent projection, largest-|loading|-
    * positive sign convention) but the eigensolver is the deterministic
    * [[jacobiEigSymQuantized]] on a correlation matrix whose entries are
    * first rounded to `quantizeDp` decimals — every fit number is
    * SQL-replayable, so the whole operator oracle-checks in DuckDB
    * (q_pca_latent). Requires all `cols` non-constant (the portable
    * contract keeps the matrix layout static for the SQL replay).
    */
  /** Shared fit of the portable eigen-path operators (portable PCA and
    * the deterministic autoencoder): one aggregate for quantized mu/sd/
    * correlations, the quantized-Jacobi eigendecomposition, (λ desc, cid
    * asc) ranking, and the largest-|loading|-positive sign fix. Returns
    * (complete rows, mu, sd, eigenvalues ranked, sign-fixed components
    * w(i)(j) = loading of input j on ranked component i).
    */
  private[operators] def portableEigFit(
      df: DataFrame,
      cols: Seq[String],
      sweeps: Int,
      quantizeDp: Int)
    : (DataFrame, Array[Double], Array[Double], Array[Double], Array[Array[Double]]) = {
    val complete = df.na.drop(cols)
    val p = cols.size
    val pairs = for (i <- 0 until p; j <- (i + 1) until p) yield (i, j)
    val exprs = cols.flatMap(c => Seq(
      avg(col(c).cast("double")).as(s"mu__$c"),
      stddev_samp(col(c).cast("double")).as(s"sd__$c"))) ++
      pairs.map { case (i, j) =>
        corr(col(cols(i)).cast("double"), col(cols(j)).cast("double")).as(s"r__${i}__$j")
      }
    val row = complete.agg(exprs.head, exprs.tail: _*).collect()(0)
    def d(name: String): Double = row.getDouble(row.fieldIndex(name))
    def rq(x: Double): Double =
      BigDecimal(x).setScale(quantizeDp, BigDecimal.RoundingMode.HALF_UP).toDouble
    // mu/sd ride the same quantize grid as the correlation entries: both
    // engines' avg/stddev_samp differ by summation-order ulps, and an
    // unquantized value sitting on a round(.,4) boundary could flip the
    // final projection hash even when the fit itself agrees.
    val mu = cols.map(c => rq(d(s"mu__$c"))).toArray
    val sd = cols.map(c => rq(d(s"sd__$c"))).toArray
    require(sd.forall(s => !s.isNaN && s != 0.0),
      "portable eigen fit needs non-constant columns")
    val m = Array.tabulate(p, p)((i, j) => if (i == j) 1.0 else 0.0)
    pairs.foreach { case (i, j) =>
      val r = rq(d(s"r__${i}__$j"))
      m(i)(j) = r; m(j)(i) = r
    }
    val (ev, vec) = jacobiEigSymQuantized(m, sweeps, quantizeDp)
    val order = (0 until p).sortBy(i => (-ev(i), i))
    val w = Array.tabulate(p) { i =>
      val ci = order(i)
      val v = Array.tabulate(p)(j => vec(j)(ci))
      val jm = (0 until p).maxBy(j => math.abs(v(j)))
      val flip = if (v(jm) < 0) -1.0 else 1.0
      Array.tabulate(p)(j => flip * v(j))
    }
    (complete, mu, sd, order.map(ev).toArray, w)
  }

  def pcaLatentFeaturesPortable(
      df: DataFrame,
      cols: Seq[String],
      explainedVarianceCutoff: Double = 0.95,
      sweeps: Int = 6,
      quantizeDp: Int = 9,
      keepOriginal: Boolean = false): DataFrame = {
    val p = cols.size
    val (complete, mu, sd, evSorted, w) = portableEigFit(df, cols, sweeps, quantizeDp)
    val cum = evSorted.map(e => math.max(e, 0.0) / p).scanLeft(0.0)(_ + _).tail
    val k = cum.indexWhere(_ >= explainedVarianceCutoff) match {
      case -1 => p
      case n  => n + 1
    }
    val withLatents = (0 until k).foldLeft(complete) { (acc, i) =>
      val proj = cols.zipWithIndex.map { case (c, j) =>
        (col(c).cast("double") - lit(mu(j))) * lit(w(i)(j) / sd(j))
      }.reduce(_ + _)
      // `+ 0.0` collapses -0.0 → 0.0 identically on both engines
      acc.withColumn(s"latent_$i", round(proj, 4) + lit(0.0))
    }
    if (keepOriginal) withLatents else withLatents.drop(cols: _*)
  }

  /** Deterministic closed-form sibling of the autoencoder substitute
    * (ref transformers.py:2524-2912): a LINEAR autoencoder's optimum is
    * the top-k principal subspace (Baldi & Hornik 1989, public result),
    * so instead of seeded gradient descent the encoder/decoder are taken
    * directly from the quantized-Jacobi eigenbasis — encoder
    * zᵢ = Σⱼ (xⱼ−μⱼ)·(wᵢⱼ/σⱼ) (the latent bottleneck), decoder
    * x̂ⱼ = μⱼ + σⱼ·Σᵢ zᵢ·wᵢⱼ (the reconstruction) — with every fit
    * number on the SQL-replayable quantize grid and the rounded latents
    * feeding the decode, so the ENTIRE fit+encode+decode pipeline
    * hash-checks in DuckDB (q_autoencoder_deterministic). The RNG
    * gradient-descent path ([[fitLinearAutoencoder]]) stays the
    * production twin, RMSE-gated by spec.
    *
    * Scale: identical to portable PCA — one aggregate for the fit
    * (driver state O(p²)), map-only codegen'd Project for encode+decode.
    */
  def autoencoderDeterministic(
      df: DataFrame,
      cols: Seq[String],
      latentDim: Int,
      sweeps: Int = 6,
      quantizeDp: Int = 9,
      keepOriginal: Boolean = false): DataFrame = {
    require(latentDim >= 1 && latentDim <= cols.size,
      s"latentDim must be in [1, ${cols.size}]")
    val (complete, mu, sd, _, w) = portableEigFit(df, cols, sweeps, quantizeDp)
    val withLatents = (0 until latentDim).foldLeft(complete) { (acc, i) =>
      val proj = cols.zipWithIndex.map { case (c, j) =>
        (col(c).cast("double") - lit(mu(j))) * lit(w(i)(j) / sd(j))
      }.reduce(_ + _)
      acc.withColumn(s"latent_$i", round(proj, 4) + lit(0.0))
    }
    val withRecon = cols.zipWithIndex.foldLeft(withLatents) { case (acc, (c, j)) =>
      val code = (0 until latentDim)
        .map(i => col(s"latent_$i") * lit(w(i)(j))).reduce(_ + _)
      acc.withColumn(s"recon_$c", round(lit(mu(j)) + lit(sd(j)) * code, 4) + lit(0.0))
    }
    if (keepOriginal) withRecon else withRecon.drop(cols: _*)
  }

  /** A fitted single-hidden-layer linear autoencoder: x̂ = W₂(W₁x̃+b₁)+b₂
    * over z-standardized inputs x̃. Kept as a plain model object so specs
    * can gate on reconstruction error and `autoencoderLatentFeatures`
    * can compile the encoder into codegen'd column expressions.
    */
  final case class LinearAutoencoder(
      cols: Seq[String],
      mu: Array[Double],
      sd: Array[Double],
      w1: breeze.linalg.DenseMatrix[Double], b1: breeze.linalg.DenseVector[Double],
      w2: breeze.linalg.DenseMatrix[Double], b2: breeze.linalg.DenseVector[Double],
      trainRmse: Double)

  /** ref: transformers.py:2524-2912 `autoencoder_latentFeatures` — train
    * an autoencoder on the standardized numeric columns, emit the hidden
    * activations as latent_0..latent_{k−1}. The reference trains a keras
    * MLP on a driver-held sample (`:2723` model.fit on pandas); here the
    * same fit-small/apply-big split uses a seeded full-batch
    * gradient-descent LINEAR autoencoder in Breeze (deterministic, no
    * native deps). A linear bottleneck spans the top-k principal
    * subspace, so reconstruction quality is PCA-grade; the spec gates on
    * reconstruction RMSE rather than value equality (stochastic-free but
    * solver-specific numerics).
    *
    * Scale: the fit collects ≤ `sampleCap` rows (constant driver cost at
    * any input size); the apply is a map-only Project over the full
    * frame — no shuffle, no spark.ml Vector boxing.
    */
  def fitLinearAutoencoder(
      df: DataFrame,
      cols: Seq[String],
      latentDim: Int,
      epochs: Int = 400,
      lr: Double = 0.05,
      seed: Long = 42L,
      sampleCap: Int = 10000): LinearAutoencoder = {
    import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
    require(latentDim >= 1 && latentDim <= cols.size,
      s"latentDim must be in [1, ${cols.size}]")
    val complete = df.na.drop(cols)
    val statsExprs = cols.flatMap(c => Seq(
      avg(col(c).cast("double")).as(s"mu__$c"),
      stddev_samp(col(c).cast("double")).as(s"sd__$c")))
    val statsRow = complete.agg(statsExprs.head, statsExprs.tail: _*).collect()(0)
    def d(name: String): Double = {
      val i = statsRow.fieldIndex(name)
      if (statsRow.isNullAt(i)) Double.NaN else statsRow.getDouble(i)
    }
    val mu = cols.map(c => d(s"mu__$c")).toArray
    val sd = cols.map { c =>
      val s = d(s"sd__$c")
      if (s.isNaN || s == 0.0) 1.0 else s
    }.toArray
    val sample = complete.select(cols.map(c => col(c).cast("double")): _*)
      .limit(sampleCap).collect()
    val n = sample.length
    require(n > 0, "autoencoder fit needs at least one complete row")
    val p = cols.size
    // X: p×n standardized sample (column-major batches)
    val x = BDM.zeros[Double](p, n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < p) {
        x(j, i) = (sample(i).getDouble(j) - mu(j)) / sd(j)
        j += 1
      }
      i += 1
    }
    val rnd = new scala.util.Random(seed)
    def init(rows: Int, colsN: Int): BDM[Double] =
      BDM.tabulate(rows, colsN)((_, _) => rnd.nextGaussian() * 0.1)
    // inputs are z-standardized (zero mean), so encoder/decoder biases are
    // redundant (they converge to ~0) — dropping them keeps every epoch a
    // pure gemm chain, no per-column broadcast ops
    var w1 = init(latentDim, p)
    var w2 = init(p, latentDim)
    val b1 = BDV.zeros[Double](latentDim)
    val b2 = BDV.zeros[Double](p)
    def sqSum(m: BDM[Double]): Double = {
      val d = m.data
      var s = 0.0
      var i = 0
      while (i < d.length) { s += d(i) * d(i); i += 1 }
      s
    }
    val inv = 2.0 / n
    var e = 0
    var prevLoss = Double.MaxValue
    var converged = false
    var lastErr = 0.0
    while (e < epochs && !converged) {
      val h = w1 * x
      val err = (w2 * h) - x
      // deterministic early stop: full-batch loss under a small fixed lr
      // plateaus long before the epoch cap on well-conditioned data
      val loss = sqSum(err) / n
      lastErr = loss
      if (prevLoss - loss < 1e-9 * math.max(1.0, math.abs(prevLoss))) converged = true
      else {
        prevLoss = loss
        val dW2 = (err * h.t) * inv
        val dH = w2.t * err
        val dW1 = (dH * x.t) * inv
        w2 = w2 - (dW2 * lr)
        w1 = w1 - (dW1 * lr)
      }
      e += 1
    }
    val rmse = math.sqrt(lastErr / p)
    LinearAutoencoder(cols, mu, sd, w1, b1, w2, b2, rmse)
  }

  /** Apply path of [[fitLinearAutoencoder]]: latent_i columns as plain
    * expressions (map-only; rows with nulls in the inputs are dropped,
    * matching the PCA path's contract).
    */
  def autoencoderLatentFeatures(
      df: DataFrame,
      cols: Seq[String],
      latentDim: Int,
      epochs: Int = 400,
      lr: Double = 0.05,
      seed: Long = 42L,
      keepOriginal: Boolean = false): DataFrame = {
    val m = fitLinearAutoencoder(df, cols, latentDim, epochs, lr, seed)
    val complete = df.na.drop(cols)
    val withLatents = (0 until latentDim).foldLeft(complete) { (acc, i) =>
      val proj = cols.zipWithIndex.map { case (c, j) =>
        (col(c).cast("double") - lit(m.mu(j))) * lit(m.w1(i, j) / m.sd(j))
      }.reduce(_ + _) + lit(m.b1(i))
      acc.withColumn(s"latent_$i", round(proj, 4))
    }
    if (keepOriginal) withLatents else withLatents.drop(cols: _*)
  }

  /** Seeded driver-side alternating least squares: classic ridge ALS —
    * alternately solve each user's (and item's) rank×rank normal
    * equations `(Σ qqᵀ + λ·nᵢ·I) p = Σ r·q` over the observed cells.
    * Deterministic: seeded item-factor init, observation lists sorted.
    * Returns (userFactors, itemFactors).
    */
  private[operators] def localAls(
      ratings: Array[(Int, Int, Double)],
      rank: Int,
      iters: Int,
      lambda: Double,
      seed: Long): (Map[Int, Array[Double]], Map[Int, Array[Double]]) = {
    import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
    val byUser = ratings.groupBy(_._1).map { case (u, rs) =>
      u -> rs.map(r => (r._2, r._3)).sortBy(_._1)
    }
    val byItem = ratings.groupBy(_._2).map { case (i, rs) =>
      i -> rs.map(r => (r._1, r._3)).sortBy(_._1)
    }
    val rnd = new scala.util.Random(seed)
    var itemF: Map[Int, Array[Double]] = byItem.keys.toSeq.sorted.map { i =>
      i -> Array.fill(rank)(math.abs(rnd.nextGaussian()) * 0.5 + 0.1)
    }.toMap
    var userF: Map[Int, Array[Double]] = Map.empty
    def solveSide(obs: Map[Int, Array[(Int, Double)]],
        other: Map[Int, Array[Double]]): Map[Int, Array[Double]] =
      obs.map { case (k, rs) =>
        val a = BDM.eye[Double](rank) * (lambda * rs.length)
        val b = BDV.zeros[Double](rank)
        rs.foreach { case (o, r) =>
          val q = BDV(other(o))
          a += q * q.t
          b += q * r
        }
        k -> (a \ b).toArray
      }
    var it = 0
    while (it < iters) {
      userF = solveSide(byUser, itemF)
      itemF = solveSide(byItem, userF)
      it += 1
    }
    (userF, itemF)
  }

  /** ref: transformers.py:2022-2257 `imputation_matrixFactorization` —
    * melt id×attribute to (user, item, rating), factorize with the
    * reference's hyperparameters (rank/maxIter/reg 0.01), predict the
    * null cells, pivot back.
    *
    * Dual path like the other fit-small/apply-big operators: when the
    * observed-cell count fits `localFitCap`, a seeded driver-side ridge
    * ALS replaces spark.ml's ALS — the distributed version costs dozens
    * of RDD jobs plus checkpointing for factor matrices that are KBs
    * here (the item side is |cols| rows by construction, and the user
    * side only grows with distinct ids). Above the cap the spark.ml
    * path runs unchanged — that factor table genuinely needs a cluster.
    */
  def imputationMatrixFactorization(
      df: DataFrame,
      idCol: String,
      cols: Seq[String],
      rank: Int = 10,
      maxIter: Int = 20,
      regParam: Double = 0.01,
      seed: Long = 42L,
      localFitCap: Long = 1000000L): DataFrame = {
    import df.sparkSession.implicits._
    val itemIndex = cols.zipWithIndex.toMap
    val stackArgs = cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ")
    val long = df.select(col(idCol),
      expr(s"stack(${cols.size}, $stackArgs) as (attribute, rating)"))
    val itemDf = itemIndex.toSeq.toDF("attribute", "__item")
    val ratings = long.join(broadcast(itemDf), "attribute")
      .withColumn("__user", col(idCol).cast("int"))
    val train = ratings.filter(col("rating").isNotNull)
    val missing = ratings.filter(col("rating").isNull)
    // one bounded job decides the path AND fetches the local-fit input:
    // collect up to cap+1 observed cells (a separate count() cost a full
    // extra job; the limit overflows only when the spark.ml path is
    // taken anyway, and cap+1 rows of 16 bytes stay far under the
    // driver result limit)
    val capN = math.min(localFitCap, Int.MaxValue - 2L).toInt
    val probe = train.select(col("__user"), col("__item"), col("rating"))
      .limit(capN + 1).collect()
    val predicted =
      if (probe.length <= capN) {
        // driver-side sort: the limit-probe's row order varies with task
        // completion order, and the local solver's float accumulation is
        // order-sensitive — (user, item) sort restores run-to-run
        // bit-identical fits
        val obs = probe.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
          .sortBy(t => (t._1, t._2))
        val effRank = math.min(rank, cols.size)
        val (userF, itemF) = localAls(obs, effRank, maxIter, regParam, seed)
        val bcU = df.sparkSession.sparkContext.broadcast(userF)
        val bcI = df.sparkSession.sparkContext.broadcast(itemF)
        val predUdf = udf { (u: Int, i: Int) =>
          (bcU.value.get(u), bcI.value.get(i)) match {
            case (Some(p), Some(q)) =>
              var s = 0.0
              var j = 0
              while (j < p.length) { s += p(j) * q(j); j += 1 }
              Some(s)
            case _ => None // cold start: no observed rating anchors the row
          }
        }
        missing
          .withColumn("rating", predUdf(col("__user"), col("__item")))
          .filter(col("rating").isNotNull)
          .select(col(idCol), col("attribute"), col("rating"))
      } else {
        // ALS lineage grows per iteration; without a checkpoint dir its
        // periodic checkpointing (interval 10) is skipped and closure
        // serialization can StackOverflow on deep plans
        graft.functions.Dedup.ensureCheckpointDir(df.sparkSession)
        val als = new ALS()
          .setUserCol("__user").setItemCol("__item").setRatingCol("rating")
          .setRank(rank).setMaxIter(maxIter).setRegParam(regParam)
          .setColdStartStrategy("drop").setSeed(seed)
        als.fit(train).transform(missing)
          .select(col(idCol), col("attribute"), col("prediction").cast("double").as("rating"))
      }
    val filledLong = train.select(col(idCol), col("attribute"), col("rating"))
      .unionByName(predicted)
    filledLong.groupBy(col(idCol)).pivot("attribute", cols).agg(first("rating"))
  }

  /** MF imputation joined back onto the full frame. ALS with
    * coldStartStrategy="drop" loses rows whose EVERY target column is
    * null (no observed rating anchors the user factor) — a left join +
    * column-mean fallback keeps them, mirroring sklearn-style imputers.
    */
  def imputationMFJoined(
      df: DataFrame,
      idCol: String,
      cols: Seq[String]): DataFrame = {
    val filled = cols.foldLeft(imputationMatrixFactorization(df, idCol, cols)) {
      (d, c) => d.withColumnRenamed(c, s"__mf_$c")
    }
    val meanExprs = cols.map(c => avg(col(c)).as(s"m__$c"))
    val meanRow = df.agg(meanExprs.head, meanExprs.tail: _*).first()
    cols.foldLeft(df.join(filled, Seq(idCol), "left")) { (d, c) =>
      val m = Transformers.optD(meanRow, s"m__$c").getOrElse(0.0)
      d.withColumn(c, coalesce(col(s"__mf_$c"), col(c), lit(m)))
        .drop(s"__mf_$c")
    }
  }

  /** ref: transformers.py:2260-2521 `auto_imputation` — mask a fraction
    * of clean rows, run the candidate imputers, pick the one with the
    * least Σ_attr RMSE/attr_mean (the reference's unit-free metric).
    * Candidates match the reference's five: MMM-mean, MMM-median, KNN,
    * regression (iterative), and MF when an id column is given; with a
    * single numeric column only the two MMM methods run (ref behaviour).
    * Returns (bestMethod, normalized error per method).
    */
  def autoImputation(
      df: DataFrame,
      cols: Seq[String],
      nullPct: Double = 0.1,
      idCol: Option[String] = None,
      seed: Long = 42L,
      evalSampleCap: Option[Long] = Some(20000L)): (String, Map[String, Double]) = {
    // model selection runs 5 candidate imputers — evaluating them on a
    // capped sample keeps the fit cost constant at 100 TB (the chosen
    // method is then applied to the FULL frame by the caller)
    val clean = QualityChecker.sampleCapped(df.na.drop(cols), evalSampleCap, seed)
    // keep the originals, mask a seeded fraction PER CELL (a per-row mask
    // would null every attribute of the row at once, leaving MF/KNN/
    // regression no observed dimension to predict from — the reference
    // removes a % of values, not rows); persist so every candidate sees
    // the SAME mask (rand() re-evaluates per plan branch)
    val keep = idCol.toSeq.map(col) ++ cols.map(col) ++
      cols.map(c => col(c).as(s"__orig_$c"))
    val withMasks = cols.zipWithIndex.foldLeft(clean.select(keep: _*)) {
      case (d, (c, i)) => d.withColumn(s"__mask_$c", rand(seed + i) < nullPct)
    }
    val result = graft.core.Caching.withPersisted(withMasks) { m0 =>
      val withNulls = cols.foldLeft(m0) { (d, c) =>
        d.withColumn(c, when(col(s"__mask_$c"), lit(null)).otherwise(col(c)))
      }
      val multi = cols.size >= 2
      // mean and median fills share ONE aggregation pass (avg + exact
      // percentile buffers in the same agg) instead of two imputationMMM
      // fits over the same cached frame
      val fillExprs = cols.flatMap(c => Seq(
        avg(col(c)).as(s"avg__$c"),
        graft.core.NumExpr.pct(col(c), 0.5).as(s"med__$c")))
      val fillRow = withNulls.agg(fillExprs.head, fillExprs.tail: _*).first()
      def mmmFill(prefix: String)(d: DataFrame): DataFrame =
        cols.foldLeft(d) { (dd, c) =>
          val v = Transformers.optD(fillRow, s"${prefix}__$c").getOrElse(0.0)
          dd.withColumn(c, coalesce(col(c), lit(v)))
        }
      val candidates: Seq[(String, DataFrame => DataFrame)] =
        Seq[(String, DataFrame => DataFrame)](
          "mean" -> mmmFill("avg") _,
          "median" -> mmmFill("med") _) ++
        (if (multi) Seq[(String, DataFrame => DataFrame)](
          "KNN" -> (d => KnnImputer.imputationKnn(d, cols, seed = seed)),
          "regression" -> (d => IterativeImputer.imputationIterative(d, cols, seed = seed)))
         else Nil) ++
        (if (multi && idCol.isDefined) Seq[(String, DataFrame => DataFrame)](
          "MF" -> (d => imputationMFJoined(d, idCol.get, cols)))
         else Nil)
      // candidates evaluate CONCURRENTLY: each fit+score is mostly small
      // sequential Spark jobs over the shared persisted masked frame, so
      // overlapping them hides per-job scheduling latency (Spark actions
      // are thread-safe; jobs from different threads interleave FIFO)
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      // (the fillRow agg above already materialized the shared cache
      // before the candidates race on it)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(candidates.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val futures = candidates.map { case (m, f) =>
        Future {
          val imputed = f(withNulls)
          // per-attribute masked MSE and original mean in ONE agg
          val exprs = cols.flatMap(c => Seq(
            avg(when(col(s"__mask_$c"), pow(col(c) - col(s"__orig_$c"), 2))).as(s"mse__$c"),
            avg(col(s"__orig_$c")).as(s"mean__$c")))
          val row = imputed.agg(exprs.head, exprs.tail: _*).first()
          val err = cols.map { c =>
            // NULL masked-MSE means the candidate lost/failed the masked
            // rows — that is a failure, not a perfect score
            val mse = Transformers.optD(row, s"mse__$c").getOrElse(Double.PositiveInfinity)
            val mean = Transformers.optD(row, s"mean__$c").getOrElse(1.0)
            math.sqrt(mse) / math.max(math.abs(mean), 1e-12)
          }.sum
          m -> err
        }
      }
      val errors =
        try futures.map(Await.result(_, Duration.Inf)).toMap
        finally pool.shutdown()
      (errors.minBy(_._2)._1, errors)
    }
    result
  }

  /** Treatment wrapper: choose the best candidate on masked clean rows,
    * then impute the FULL frame with it (ref quality_checker.py:521-547
    * "auto" treatment path).
    */
  def autoImputationApply(
      df: DataFrame,
      cols: Seq[String],
      nullPct: Double = 0.1,
      idCol: Option[String] = None,
      seed: Long = 42L): (String, DataFrame) = {
    val (best, _) = autoImputation(df, cols, nullPct, idCol, seed)
    val imputed = best match {
      case "mean" | "median" => Transformers.imputationMMM(df, cols, Nil, numMethod = best)
      case "KNN" => KnnImputer.imputationKnn(df, cols, seed = seed)
      case "regression" => IterativeImputer.imputationIterative(df, cols, seed = seed)
      case "MF" => imputationMFJoined(df, idCol.get, cols)
    }
    (best, imputed)
  }

  /** Deterministic sibling of [[autoImputation]] with a fully
    * SQL-replayable method-selection decision (ref
    * transformers.py:2260-2521): instead of a seeded Bernoulli cell
    * mask and RNG/iterative candidates, the harness
    *  - masks cell (row, col) when md5(key…#col) falls under the
    *    `nullPct` threshold (the deterministicSample idiom per cell),
    *  - ranks three closed-form candidates — mean fill, median fill
    *    (exact interpolated percentile), and a per-column OLS
    *    regression from the partner column (slope/intercept from
    *    9-dp-quantized corr/sd/mean over both-observed rows, falling
    *    back to the mean when the partner cell is masked too),
    *  - scores each by Σ_col √(masked-MSE)/max(|mean|, 1e-12) rounded
    *    to the 4-decimal grid, picking the minimum (ties: method name).
    * Everything — mask, fits, predictions, scores, argmin — replays in
    * DuckDB, so the SELECTION itself is oracle-checked, which is the
    * one decision the RNG path can only RMSE-gate. Returns one row per
    * candidate: (method, rmse, best).
    *
    * Scale: two aggregate passes over the complete rows (fit stats,
    * then all three candidates' masked errors in ONE agg) — no
    * shuffle beyond the aggs, O(1) driver state.
    */
  def autoImputationDeterministic(
      df: DataFrame,
      cols: Seq[String],
      keyCols: Seq[String],
      nullPct: Double = 0.1,
      quantizeDp: Int = 9): DataFrame = {
    require(cols.size == 2, "deterministic auto-imputation ranks the 2-column harness")
    val spark = df.sparkSession
    val Seq(a, b) = cols
    val clean = df.na.drop(cols)
      .select((keyCols ++ cols).map(col): _*)
    val thr = graft.sources.Sampling.hashThresholdLong(nullPct)
    def maskCol(c: String) = GraftFunctions.joinedKeyHash("#", keyCols, lit(c)) < lit(thr)
    val maskedPlan = clean
      .withColumn("__m_a", maskCol(a)).withColumn("__m_b", maskCol(b))
      .select(col("__m_a"), col("__m_b"),
        col(a).cast("double").as("__a"), col(b).cast("double").as("__b"))
    def rq(x: Double): Double =
      BigDecimal(x).setScale(quantizeDp, BigDecimal.RoundingMode.HALF_UP).toDouble
    graft.core.Caching.withPersisted(maskedPlan) { masked =>
    // (persisted: the fit agg and the error agg both scan the masked
    // frame — without the cache each pass re-reads parquet and re-hashes
    // two md5s per row)
    // fit pass: observed-cell means/medians, full-column norms, and the
    // both-observed regression moments — one aggregation
    val obsA = when(!col("__m_a"), col("__a"))
    val obsB = when(!col("__m_b"), col("__b"))
    val bothA = when(!col("__m_a") && !col("__m_b"), col("__a"))
    val bothB = when(!col("__m_a") && !col("__m_b"), col("__b"))
    val st = masked.agg(
      avg(obsA).as("mua"), avg(obsB).as("mub"),
      avg(col("__a")).as("na"), avg(col("__b")).as("nb"),
      avg(bothA).as("fa"), avg(bothB).as("fb"),
      stddev_samp(bothA).as("sda"), stddev_samp(bothB).as("sdb"),
      corr(bothA, bothB).as("r")).first()
    // exact medians via the histogram-selection path (the `percentile`
    // aggregate builds a boxed value→count map — near-unique money
    // columns made it the dominant cost of this whole harness); values
    // equal Spark's `percentile` and match quantile_cont except, rarely,
    // in the last bit (the two engines interpolate differently)
    val medRow = StatsGenerator.exactPercentiles(
      masked.select(obsA.as("__oa"), obsB.as("__ob")), Seq("__oa", "__ob"), Seq(0.5))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](4).head).toMap
    def g(n: String): Double = rq(st.getDouble(st.fieldIndex(n)))
    val (mua, mub) = (g("mua"), g("mub"))
    val (meda, medb) = (rq(medRow("__oa")), rq(medRow("__ob")))
    val (na, nb) = (g("na"), g("nb"))
    val (fa, fb, sda, sdb, r) = (g("fa"), g("fb"), g("sda"), g("sdb"), g("r"))
    val b1a = (r * sda) / sdb; val b0a = fa - b1a * fb
    val b1b = (r * sdb) / sda; val b0b = fb - b1b * fa
    val preds: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = Seq(
      ("mean", lit(mua), lit(mub)),
      ("median", lit(meda), lit(medb)),
      ("regression",
        when(col("__m_b"), lit(mua)).otherwise(lit(b0a) + lit(b1a) * col("__b")),
        when(col("__m_a"), lit(mub)).otherwise(lit(b0b) + lit(b1b) * col("__a"))))
    // error pass: all candidates' masked MSEs in one aggregation
    val errExprs = preds.flatMap { case (m, pa, pb) => Seq(
      avg(when(col("__m_a"), pow(pa - col("__a"), 2))).as(s"msea__$m"),
      avg(when(col("__m_b"), pow(pb - col("__b"), 2))).as(s"mseb__$m"))
    }
    val er = masked.agg(errExprs.head, errExprs.tail: _*).first()
    val dena = math.max(math.abs(na), 1e-12)
    val denb = math.max(math.abs(nb), 1e-12)
    val scored = preds.map { case (m, _, _) =>
      val ea = math.sqrt(er.getDouble(er.fieldIndex(s"msea__$m"))) / dena
      val eb = math.sqrt(er.getDouble(er.fieldIndex(s"mseb__$m"))) / denb
      m -> BigDecimal(ea + eb).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val best = scored.minBy { case (m, e) => (e, m) }._1
    import spark.implicits._
    scored.map { case (m, e) => (m, e, m == best) }
      .toDF("method", "rmse", "best")
    }
  }

  // ------------------------------------------------------------------
  // Deterministic ALS sibling with a FULL DuckDB oracle (the
  // q_knn/iterative_deterministic recipe applied to matrix
  // factorization, closing the round-9 "ALS oracle attempt" item):
  // the fit runs on the `sampleSize` users with the lowest md5 hash,
  // item factors start from a closed-form index formula instead of a
  // Gaussian RNG, ratings and factors live on integer grids so every
  // Gram/right-hand-side sum is an exact order-independent int64, each
  // rank-2 ridge solve is the SAME closed-form 2×2 expression sequence
  // the SQL replay emits (IEEE doubles → bit-identical coefficients),
  // and factors are re-quantized after every solve so drift cannot
  // accumulate across sweeps. The RNG production path
  // (imputationMatrixFactorization above) stays the scale/quality path.
  // ------------------------------------------------------------------

  private val RSd = 10000.0 // rating grid: 4 decimals
  private val FSd = 100000.0 // factor grid: 5 decimals
  private def qz(x: Double): Long =
    Math.floor(math.min(math.max(x, -50.0), 50.0) * FSd + 0.5).toLong

  /** Rank-2 fixed-sweep ALS over observed (user, item, rating) cells.
    *
    * @param obs    observed cells: [u long, it int, rsum double (exact
    *               decimal-summed numerator), n long (count)] — the
    *               rating is quantized as floor(rsum/n·1e4 + 0.5)
    * @param nItems item vocabulary size (indices 0 until nItems)
    * @return (user_id, attribute index, filled) for EVERY sampled user ×
    *         item: observed cells replay their quantized value, missing
    *         cells get the p·q prediction — both on the output grid
    */
  def alsDeterministic(
      obs: DataFrame,
      nItems: Int,
      itemNames: Seq[String],
      sampleSize: Int = 400,
      sweeps: Int = 3,
      lambda: Double = 0.1): DataFrame = {
    require(itemNames.size == nItems)
    val spark = obs.sparkSession
    // lowest-md5 user sample (same idiom as the knn/iterative siblings)
    val users = obs.select(col("u")).distinct()
      .withColumn("hh", GraftFunctions.stringHash(col("u")))
      .orderBy(col("hh").asc, col("u").asc)
      .limit(sampleSize)
      .select("u")
    val cells = obs.join(users.hint("broadcast"), Seq("u"))
      .select(col("u"), col("it"), col("rsum"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        Math.floor(r.getDouble(2) / r.getLong(3) * RSd + 0.5).toLong))

    val byUser = cells.groupBy(_._1).view.mapValues(_.map(c => (c._2, c._3))).toMap
    val byItem = cells.groupBy(_._2).view.mapValues(_.map(c => (c._1, c._3))).toMap

    // closed-form init, quantized to the factor grid (no RNG)
    var itemF: Map[Int, (Long, Long)] = (0 until nItems).map { i =>
      i -> (Math.floor((1.0 + 0.1 * i) * FSd + 0.5).toLong,
        Math.floor(((i * 7) % 5 - 2) * 0.2 * FSd + 0.5).toLong)
    }.toMap
    var userF: Map[Long, (Long, Long)] = Map.empty

    // exact-int Gram/rhs accumulation + canonical 2×2 ridge solve; the
    // double expressions below are character-for-character the ones
    // AlsSql emits — identical IEEE op sequences give identical bits
    def solve(cs: Array[(Long, Long)], f: Long => (Long, Long)): (Long, Long) = {
      var s11, s12, s22, b1, b2 = 0L
      cs.foreach { case (o, r) =>
        val (q1, q2) = f(o)
        s11 += q1 * q1; s12 += q1 * q2; s22 += q2 * q2
        b1 += q1 * r; b2 += q2 * r
      }
      val nCnt = cs.length
      val a11 = s11.toDouble / 1.0e10 + lambda * nCnt
      val a12 = s12.toDouble / 1.0e10
      val a22 = s22.toDouble / 1.0e10 + lambda * nCnt
      val c1 = b1.toDouble / 1.0e9
      val c2 = b2.toDouble / 1.0e9
      val det = a11 * a22 - a12 * a12
      (qz((c1 * a22 - c2 * a12) / det), qz((a11 * c2 - a12 * c1) / det))
    }
    var s = 0
    while (s < sweeps) {
      userF = byUser.map { case (u, cs) => u -> solve(cs.map(c => (c._1.toLong, c._2)), o => itemF(o.toInt)) }
      // carry unsolved items forward: an item with no observed cell among
      // the sampled users keeps its previous (ultimately init) factor
      // instead of vanishing from the map and crashing the output loop
      itemF = itemF ++ byItem.map { case (i, cs) => i -> solve(cs, o => userF(o)) }
      s += 1
    }

    val obsMap = cells.map(c => (c._1, c._2) -> c._3).toMap
    val out = byUser.keys.toSeq.sorted.flatMap { u =>
      val (p1, p2) = userF(u)
      (0 until nItems).map { i =>
        val filled = obsMap.get((u, i)) match {
          case Some(rq) => rq.toDouble / RSd
          case None =>
            val (q1, q2) = itemF(i)
            val pred = (p1 * q1 + p2 * q2).toDouble / 1.0e10
            Math.floor(pred * RSd + 0.5) / RSd
        }
        (u, itemNames(i), filled)
      }
    }
    import spark.implicits._
    out.toDF("user_id", "attribute", "filled")
      .repartition(spark.sparkContext.defaultParallelism)
  }
}
