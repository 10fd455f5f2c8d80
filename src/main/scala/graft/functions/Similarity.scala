package graft.functions

import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  * Baseline: brute-force cosine top-k (block-nested self-join — exact).
  * Scale path: random-hyperplane LSH bucketing so the self-join only
  * happens inside buckets (recall/speed trade controlled by #planes).
  * Dot products: a Catalyst higher-order-function form for expression
  * contexts, and a tight-loop JVM UDF (identical numerics) for the
  * per-pair scoring hot path.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as a Catalyst expression over two float arrays; elements are
    * widened to double BEFORE the multiply (float·float would lose
    * precision and diverge from any double-math oracle).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Left-to-right double accumulation of float products — the one dot
    * product every cosine scorer (brute force, cross-table, IVF and LSH
    * cogroups via [[cosinePartialTopK]], semantic dedup) shares, so
    * results are bit-identical across exact and approximate paths. Every
    * scorer then keeps its neighbours in a [[TopK]].
    */
  private[graft] def dotF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private[graft] def normF(v: Array[Float]): Double = math.sqrt(dotF(v, v))

  /** The one bounded top-k every vector search and the KNN imputer keep:
    * slots ordered by (score desc, id asc), filled by insertion — no
    * sort, no boxing. Distances are offered negated (exact in IEEE
    * arithmetic), so smallest-distance-first uses the same comparisons.
    * NaN scores (a zero-norm vector's cosine) are dropped: NaN compares
    * false everywhere, so it would otherwise sit in a slot and push
    * better neighbours out. `ids(0 until size)` / `scores(0 until size)`
    * hold the result, best first.
    */
  private[graft] final class TopK(k: Int) {
    val ids = new Array[Long](k)
    val scores = new Array[Double](k)
    var size = 0

    def offer(id: Long, score: Double): Unit = if (!score.isNaN) {
      var pos = size
      while (pos > 0 && (scores(pos - 1) < score ||
        (scores(pos - 1) == score && ids(pos - 1) > id))) pos -= 1
      if (pos < k) {
        var m = math.min(size, k - 1)
        while (m > pos) { scores(m) = scores(m - 1); ids(m) = ids(m - 1); m -= 1 }
        scores(pos) = score; ids(pos) = id
        if (size < k) size += 1
      }
    }
  }

  /** Cosine top-k of probe `(pid, pv)` against an `(id, vector)` list
    * with precomputed norms, skipping the probe's own id — the cosine
    * twin of [[adcPartialTopK]], shared by the brute-force, IVF and LSH
    * scorers (cos = dotF(probe, member) / (‖probe‖·‖member‖)).
    */
  private[graft] def cosinePartialTopK(pid: Long, pv: Array[Float],
      members: Array[(Long, Array[Float])], norms: Array[Double], k: Int): TopK = {
    val pn = normF(pv)
    val top = new TopK(k)
    var i = 0
    while (i < members.length) {
      val (cid, cv) = members(i)
      if (cid != pid) top.offer(cid, dotF(pv, cv) / (pn * norms(i)))
      i += 1
    }
    top
  }

  /** Global top-k over per-task partial top-k rows: rank each `key`'s
    * rows by `score` (descending, or ascending for distances) then
    * neighbor_id ascending, keep rank ≤ k and round the score HALF_UP at
    * 4 — the merge every distributed top-k shares.
    */
  private def mergeTopK(partials: DataFrame, key: String, score: String,
      ascending: Boolean, k: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(
      if (ascending) col(score).asc else col(score).desc, col("neighbor_id").asc)
    partials.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn(score, round(col(score), 4))
  }

  /** Exact brute-force cosine top-k neighbours for every vector.
    *
    * The candidate set is broadcast ONCE as primitive arrays and each
    * partition keeps a per-row top-k selection — no n²-row join, no
    * window shuffle/sort over n² pairs (which dominated the naive plan).
    * Numerics mirror the declarative form exactly: left-to-right double
    * accumulation of float products, cos = dot/(‖a‖·‖b‖), ties broken on
    * ascending neighbour id, HALF_UP rounding at 4 — so a SQL oracle
    * computing the same formula hash-matches.
    *
    * Scale: broadcast holds to ~1e6×small-dim vectors; beyond that use
    * lshTopK (bucketed self-join) or shard the candidate set.
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      maxCollectRows: Long = 1000000L,
      metric: String = "cosine"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(metric == "cosine" || metric == "l2", s"unknown metric '$metric'")
    require(k >= 1, s"k must be >= 1, got $k")
    val l2 = metric == "l2"
    // driver-collect guard: beyond ~1e6 vectors the broadcast OOMs the
    // driver — fail over to the distributed exhaustive-probe IVF path,
    // which is also exact (every query probes every cell, so every pair
    // is scored once) but shuffles instead of collecting. A stats-derived
    // under-cap estimate is advisory (stale/absent CBO underestimates let
    // an oversized table through to collect()) — confirm it with a probe
    // that scans at most cap+1 rows before trusting it.
    val statsEst = df.queryExecution.optimizedPlan.stats.rowCount.map(_.toLong)
    val est = statsEst.getOrElse(df.count())
    val probeCap = math.min(maxCollectRows + 1, Int.MaxValue.toLong).toInt
    val overCap = est > maxCollectRows ||
      (statsEst.isDefined && df.limit(probeCap).count() > maxCollectRows)
    if (overCap) {
      // L2 is the bounded-measurement metric (the recall-evaluation
      // reference): past the collect cap there is no exact distributed
      // L2 path here — the scale answer IS the approximate ivfPqTopK,
      // which an exact reference cannot vouch for at that size anyway
      require(!l2, s"exact L2 top-k collects the corpus (cap $maxCollectRows); " +
        "evaluate recall on a bounded sample, or use ivfPqTopK as the scale path")
      // when the probe (not the estimate) tripped the cap, the true count
      // is at least maxCollectRows — size the cells from the larger figure
      val n = math.max(est, maxCollectRows)
      return ivfTopK(df, idCol, vecCol, k,
        cellCount = math.max(16, math.sqrt(n.toDouble).toInt / 4), nprobe = Int.MaxValue)
    }
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val all: Array[(Long, Array[Float])] = base.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val bc = df.sparkSession.sparkContext.broadcast(all)
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("neighbor_id", LongType),
      StructField(if (l2) "dist" else "cos", DoubleType), StructField("rank", IntegerType)))
    val enc = RowEncoder.encoderFor(outSchema)
    base.mapPartitions { rows =>
      val cand = bc.value
      // norms feed only the cosine branch — L2 must not pay O(N·dim)
      // per partition for values it never reads
      val candNorms = if (l2) null else cand.map(c => normF(c._2))
      rows.flatMap { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Float](1).toArray
        val top =
          if (!l2) cosinePartialTopK(id, v, cand, candNorms, k)
          else {
            // L2 offers the negated squared distance: nearest first
            val t = new TopK(k)
            var ci = 0
            while (ci < cand.length) {
              val (cid, cv) = cand(ci)
              if (cid != id) {
                var s = 0.0; var j = 0
                val n = math.min(v.length, cv.length)
                while (j < n) { val d = v(j).toDouble - cv(j).toDouble; s += d * d; j += 1 }
                t.offer(cid, -s)
              }
              ci += 1
            }
            t
          }
        (0 until top.size).iterator.map { i =>
          val value = if (l2) -top.scores(i) else top.scores(i)
          val rounded = BigDecimal(value).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          Row(id, top.ids(i), rounded, i + 1)
        }
      }
    }(enc)
  }

  private def RowEncoder = org.apache.spark.sql.catalyst.encoders.RowEncoder

  /** Exact cross-table retrieval: top-k corpus neighbours for EVERY
    * query vector — the eval-set shape (queries ≪ corpus) the self-join
    * top-k variants don't cover. The 100 TB plan inverts the broadcast:
    * the small QUERY set ships to every corpus partition, each partition
    * keeps a per-query top-k over its own vectors (O(queries × k)
    * memory), and one bounded shuffle (#partitions × queries × k rows —
    * never a row per scored pair) merges the partials with a rank
    * window. The corpus is streamed, never collected; numerics mirror
    * [[bruteForceTopK]] (left-to-right double accumulation, ties on
    * ascending corpus id, HALF_UP at 4) so a SQL oracle hash-matches.
    */
  def crossTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      maxQueryRows: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(k >= 1, s"k must be >= 1, got $k")
    val qBase = queries.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val qAll: Array[(Long, Array[Float])] = qBase.limit(
        math.min(maxQueryRows + 1, Int.MaxValue.toLong).toInt)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(qAll.length <= maxQueryRows,
      s"query side exceeds $maxQueryRows rows — swap the sides or pre-bucket with lshTopK")
    val qNorms = qAll.map(q => normF(q._2))
    val bcQ = corpus.sparkSession.sparkContext.broadcast((qAll, qNorms))
    val cBase = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val partialSchema = StructType(Seq(
      StructField("query_id", LongType), StructField("neighbor_id", LongType),
      StructField("cos", DoubleType)))
    val enc = RowEncoder.encoderFor(partialSchema)
    val partials = cBase.mapPartitions { rows =>
      val (qs, qn) = bcQ.value
      val nq = qs.length
      val tops = Array.fill(nq)(new TopK(k))
      rows.foreach { r =>
        val cid = r.getLong(0)
        val cv = r.getSeq[Float](1).toArray
        val cn = normF(cv)
        var qi = 0
        while (qi < nq) {
          tops(qi).offer(cid, dotF(qs(qi)._2, cv) / (qn(qi) * cn))
          qi += 1
        }
      }
      (0 until nq).iterator.flatMap { qi =>
        val t = tops(qi)
        (0 until t.size).iterator.map(i => Row(qs(qi)._1, t.ids(i), t.scores(i)))
      }
    }(enc)
    mergeTopK(partials, "query_id", "cos", ascending = false, k)
  }

  /** Driver-side md5 prefix-60: first 15 hex chars of md5(s) as a long —
    * the same value DuckDB's `('0x' || substr(md5(s), 1, 15))::BIGINT`
    * yields, and the scalar twin of the codegen'd md5_prefix60
    * expression (it calls the same hasher).
    */
  private[graft] def md5Prefix60(s: String): Long =
    graft.plans.Md5Prefix60Expr.hash(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Deterministic hyperplanes from the md5 family: plane p, dim d →
    * md5_prefix60("srp:<seed>:<p>:<d>") / 2⁵⁹ − 1 ∈ [−1, 1). Driver-side
    * O(planes × dim), broadcast as literals. md5-derived (not a JVM hash
    * mix) so an external engine can regenerate the exact planes — and
    * with left-to-right double dot accumulation on both sides, the
    * resulting SRP bucket ids are engine-portable (q_lsh_buckets replays
    * them in DuckDB bit-for-bit).
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, d) =>
      md5Prefix60(s"srp:$seed:$p:$d").toDouble / (1L << 59).toDouble - 1.0
    }

  /** Seeded Lloyd's k-means on a driver-held sample — the IVF coarse
    * quantizer fit. Deterministic: initial centroids are evenly-strided
    * sample points; 15 iterations or convergence.
    *
    * Engine-portable mode (`quantizeDp >= 0`): rounds every UPDATED
    * centroid coordinate to `quantizeDp` decimals after each sweep and
    * disables the convergence early-exit, so exactly `iters` sweeps run.
    * An external engine replaying the sweeps with unordered summation
    * then lands on the SAME quantized centers (the 1e-16 summation-order
    * noise is absorbed by the rounding grid), making the entire IVF
    * pipeline SQL-replayable — the same trick as the fixed-iteration
    * vincenty/pagerank oracles.
    */
  /** Nearest-center assignment shared by EVERY quantized-Lloyd consumer
    * (semanticDedup, geo clustering, the streaming candidate twin):
    * float components widen to double before the subtract, squared-L2,
    * ascending index keeps the LOWEST cell on ties. One definition —
    * the DuckDB replays depend on these numerics staying bit-identical
    * across all call sites.
    */
  private[graft] def nearestCell(v: Array[Float], centers: Array[Array[Double]]): Int = {
    var bi = 0; var bd = Double.MaxValue
    var ci = 0
    while (ci < centers.length) {
      var d = 0.0; var j = 0; val c = centers(ci)
      while (j < c.length && j < v.length) { val diff = v(j) - c(j); d += diff * diff; j += 1 }
      if (d < bd) { bd = d; bi = ci }
      ci += 1
    }
    bi
  }

  def localKMeans(points: Array[Array[Double]], k: Int, seed: Long, iters: Int = 15,
      quantizeDp: Int = -1): Array[Array[Double]] = {
    require(points.nonEmpty, "kmeans needs data")
    val dim = points.head.length
    val kk = math.min(k, points.length)
    val stride = math.max(1, points.length / kk)
    var centers = Array.tabulate(kk)(i => points((i * stride) % points.length).clone())
    var it = 0
    var moved = true
    while (it < iters && (moved || quantizeDp >= 0)) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < kk) {
          var d = 0.0; var j = 0
          while (j < dim) { val diff = p(j) - centers(ci)(j); d += diff * diff; j += 1 }
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      moved = false
      val next = Array.tabulate(kk) { ci =>
        if (counts(ci) == 0) centers(ci)
        else {
          val c = new Array[Double](dim)
          var j = 0
          while (j < dim) {
            c(j) = sums(ci)(j) / counts(ci)
            if (quantizeDp >= 0)
              c(j) = BigDecimal(c(j))
                .setScale(quantizeDp, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (math.abs(c(j) - centers(ci)(j)) > 1e-9) moved = true
            j += 1
          }
          c
        }
      }
      centers = next
      it += 1
    }
    centers
  }

  /** Sign-bit signature of a vector against the hyperplanes → bucket id.
    * Vectors in the same bucket are likely neighbours (SRP-LSH).
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(lit): _*)
      when(dot(vec, planeCol) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF-style approximate top-k: a KMeans coarse quantizer (seeded,
    * fitted on a sample) assigns every vector to its nearest centroid
    * cell; queries probe their own cell plus the `nprobe−1` next-nearest
    * cells, and candidates meet in a hash-partitioned cell join. The
    * classic inverted-file trade: recall grows with nprobe, cost with
    * cellCount. Scale path beyond the broadcast limit of bruteForceTopK.
    *
    * 100 TB posture: `cellCount = 0` (the default) auto-sizes the cell
    * grid to ≈√N (clamped [16, 4096]) from the free Catalyst stats
    * estimate, so a cell's expected member list shrinks as 1/√N instead
    * of growing linearly; `memberCapPerCell` salts oversized cells into
    * sub-groups (members split by id-hash, probers fan out across the
    * salts) so no single cogroup task ever materializes more than ~cap
    * vectors even under quantizer skew; the quantizer fit samples by a
    * deterministic md5-threshold on the id (partition-layout-invariant,
    * unlike an unordered limit()).
    */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      cellCount: Int = 0,
      nprobe: Int = 3,
      seed: Long = 42L,
      fitSample: Int = 10000,
      memberCapPerCell: Int = 250000,
      lloydIters: Int = 15,
      lloydQuantize: Int = -1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import df.sparkSession.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // row count drives only the AUTO knobs (cell grid size, salt count);
    // with an explicit cellCount and no free stats estimate we skip the
    // extra counting scan and keep numSalts=1 (pass memberCapPerCell
    // semantics via an explicit cellCount sized for your data instead)
    val statsEst = base.queryExecution.optimizedPlan.stats.rowCount.map(_.toLong)
    val n = statsEst.getOrElse(if (cellCount > 0) -1L else base.count())
    val cells =
      if (cellCount > 0) cellCount
      else math.max(16, math.min(4096, math.sqrt(n.toDouble).toInt))
    // salts per cell sized from the EXPECTED occupancy; the id-hash split
    // also shreds a pathologically hot cell into ≤numSalts bounded tasks
    val numSalts =
      if (n < 0) 1
      else math.max(1, math.ceil(
        n.toDouble / math.max(1, cells) / memberCapPerCell).toInt)
    // coarse quantizer: Lloyd's iterations on a collected sample
    // (fit-small/apply-big — a distributed KMeans run costs dozens of
    // jobs for a centroid table that fits in a driver array). The sample
    // is the fitSample LOWEST-md5-hash ids — a global TakeOrdered:
    // deterministic under any partition layout AND bounded regardless of
    // how wrong a stats estimate is (no fraction to mis-size)
    val sample: Array[Array[Double]] = md5Sample(base, fitSample)
    val centers = localKMeans(sample, cells, seed, lloydIters, lloydQuantize)
    val bcCenters = df.sparkSession.sparkContext.broadcast(centers)

    // typed rows keyed by (cell, salt) for members / probed (cell, salt)
    // for queries; the heavy scoring runs inside cogroup with primitive
    // arrays — the only per-row encoder cost is the 1-row-per-vector
    // (+nprobe×salts) shuffle, never per candidate pair
    val members = base.map { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).toArray
      (nearestCellsTo(v, bcCenters.value, 1)(0), saltOf(id, numSalts), id, v)
    }
    val probers = base.flatMap { r =>
      probes(r.getLong(0), r.getSeq[Float](1).toArray, bcCenters.value, nprobe, numSalts)
    }
    val partials = members.groupByKey(m => (m._1, m._2))
      .cogroup(probers.groupByKey(p => (p._1, p._2))) {
      (_, ms, ps) =>
        val mArr = ms.map(m => (m._3, m._4)).toArray
        val mNorms = mArr.map(m => normF(m._2))
        ps.flatMap { case (_, _, pid, pv) =>
          val top = cosinePartialTopK(pid, pv, mArr, mNorms, k)
          (0 until top.size).map(i => (pid, top.ids(i), top.scores(i)))
        }
    }.toDF("vec_id", "neighbor_id", "cos")
    // global top-k over the tiny per-cell partial top-k frame
    mergeTopK(partials, "vec_id", "cos", ascending = false, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    * method): cluster embeddings with the same engine-portable quantized
    * Lloyd coarse quantizer the IVF index uses, generate candidate pairs
    * ONLY within a cell (hash-partitioned equi-join on the cell id — the
    * quadratic work is bounded per cell, never corpus-wide), keep pairs
    * with cosine ≥ `threshold` (rounded to the 4-decimal oracle grid),
    * and collapse them to connected components via
    * [[graft.functions.Dedup.duplicateClusters]] (min-id representative).
    *
    * Output: one row per input vector — (vec_id, representative, kept);
    * `kept` marks the component minimum (the SemDeDup survivor).
    *
    * 100 TB posture: fit state is O(cells·dim) on the driver (bounded
    * md5-lowest sample), assignment is map-only against broadcast
    * centers, pair scoring shuffles once on the cell id into a per-cell
    * JVM loop with per-vector precomputed norms, and `maxCellSize` caps
    * the per-cell quadratic blowup deterministically (members ranked by
    * id; overflow rows keep themselves — the same "hot bucket is
    * exactDedup's job" contract as the MinHash cap). `cellCount <= 0`
    * (the default) auto-sizes cells √N-style so expected per-cell work
    * stays linear in the corpus.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      cellCount: Int = 0,
      fitSample: Int = 10000,
      lloydIters: Int = 5,
      lloydQuantize: Int = 4,
      maxCellSize: Int = 100000): DataFrame = {
    import df.sparkSession.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // cellCount <= 0 → auto-size from the corpus like bruteForceTopK's
    // IVF failover: √N/4 cells keeps expected cell size ~4√N, so the
    // per-cell quadratic candidate work stays ~16N total regardless of
    // corpus size (a fixed cell count would go quadratic at scale).
    // A real count(), NOT the CBO row estimate: the cell count changes
    // the SURVIVOR SET (different cells → different candidate pairs),
    // so a stale/selectivity-skewed estimate would make the dedup
    // result nondeterministic across runs of identical data — and an
    // underestimate would re-open the quadratic blowup this sizing
    // exists to prevent. One count job against a fit that already does
    // a full ordered scan is the right trade.
    val cells =
      if (cellCount > 0) cellCount
      else math.max(8, math.sqrt(base.count().toDouble).toInt / 4)
    // localKMeans clamps k to the sample size, so a fixed fitSample would
    // silently cap the auto-sized cell count at ~10k (N ≈ 1.6e9) and
    // per-cell quadratic work would start growing again — grow the fit
    // sample with the target cell count (~4 points per center) so the
    // √N sizing holds at any corpus size
    val effectiveFitSample = math.max(fitSample, cells * 4)
    val sample = md5Sample(base, effectiveFitSample)
    val centers = localKMeans(sample, cells, 42L, lloydIters, lloydQuantize)
    val bcCenters = df.sparkSession.sparkContext.broadcast(centers)
    val assigned = base.map { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).toArray
      (nearestCell(v, bcCenters.value), id, v)
    }.toDF("cell", "id", "v")
    val capped = assigned
      .withColumn("__rk", row_number().over(
        Window.partitionBy("cell").orderBy(col("id").asc)))
      .filter(col("__rk") <= maxCellSize)
      .drop("__rk")
    // Per-cell pair scoring in a tight JVM loop: one shuffle on the cell
    // id, each vector's norm computed ONCE (the declarative self-join
    // form re-evaluated interpreted HOF dot/norm per candidate pair —
    // three 64-element traversals per pair, ~10× slower measured).
    // Numerics are dotF/normF — identical left-to-right double
    // accumulation of float products as the HOF form, so the DuckDB
    // oracle replay is unaffected. The JVM pre-filter keeps a 1e-3
    // slack under the threshold; the exact HALF_UP-rounded comparison
    // stays declarative below so grid semantics match the oracle.
    val scored = capped.select(col("cell"), col("id"), col("v"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val members = it.map { case (_, id, v) => (id, v) }.toArray.sortBy(_._1)
        val norms = members.map(m => normF(m._2))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < members.length) {
          var j = i + 1
          while (j < members.length) {
            val cos = dotF(members(i)._2, members(j)._2) / (norms(i) * norms(j))
            if (cos >= threshold - 1e-3)
              out += ((members(i)._1, members(j)._1, cos))
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("key_1", "key_2", "cos")
    val pairs = scored
      .filter(round(col("cos"), 4) >= threshold)
      .select("key_1", "key_2")
    val labels = Dedup.duplicateClusters(pairs)
      .withColumnRenamed("key", "id").withColumnRenamed("cluster", "rep")
    base.select("id").join(labels, Seq("id"), "left")
      .select(col("id").as("vec_id"),
        coalesce(col("rep"), col("id")).as("representative"),
        (coalesce(col("rep"), col("id")) === col("id")).as("kept"))
  }

  /** Approximate top-k: bucket with `numPlanes` sign bits, self-join
    * within buckets only (hash-partitioned — the 100 TB path), then rank.
    * Multi-probe: each vector also joins buckets at hamming distance 1
    * for recall (probe expansion on the smaller signature side).
    *
    * `numTables` independent hash tables (classic LSH amplification):
    * each table hashes with its own hyperplane set and candidates are
    * the union across tables — miss probability decays exponentially in
    * the table count, P(miss) = (1−p^b)^L. Cost grows ~linearly with L
    * (the vector column is replicated per table through the bucket
    * join), the usual recall/cost dial. Candidates found by several
    * tables are collapsed by a (vec_id, neighbor_id) aggregate before
    * ranking.
    */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      numPlanes: Int = 8,
      seed: Long = 42L,
      multiProbe: Boolean = true,
      numTables: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(numTables >= 1, "numTables must be >= 1")
    import df.sparkSession.implicits._
    val dim = firstDim(df, vecCol)
    val allPlanes: Array[Array[Array[Double]]] =
      Array.tabulate(numTables)(t => hyperplanes(numPlanes, dim, seed + t))
    val bcPlanes = df.sparkSession.sparkContext.broadcast(allPlanes)
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))

    // members keyed by (table, signature bucket); probers additionally
    // fan out to the hamming-distance-1 buckets when multiProbe. The
    // scoring meets in a cogroup with primitive arrays — like ivfTopK,
    // the only encoder/shuffle cost is 1 row per vector per (table ×
    // probe), never a materialized row per candidate PAIR (the join +
    // per-pair-UDF plan this replaces spent ~4× the time boxing the
    // O(Σ bucket²) pair rows).
    val members = base.mapPartitions { rows =>
      val tabs = bcPlanes.value
      rows.flatMap { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Float](1).toArray
        tabs.indices.iterator.map(t => (t, lshSignature(v, tabs(t)), id, v))
      }
    }
    val probers = base.mapPartitions { rows =>
      val tabs = bcPlanes.value
      rows.flatMap { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Float](1).toArray
        tabs.indices.iterator.flatMap { t =>
          val b = lshSignature(v, tabs(t))
          val probes =
            if (multiProbe) b +: Array.tabulate(numPlanes)(i => b ^ (1L << i))
            else Array(b)
          probes.iterator.map(pb => (t, pb, id, v))
        }
      }
    }
    val partials = members.groupByKey(m => (m._1, m._2))
      .cogroup(probers.groupByKey(p => (p._1, p._2))) { (_, ms, ps) =>
        val mArr = ms.map(m => (m._3, m._4)).toArray
        if (mArr.isEmpty) Iterator.empty
        else {
          val mNorms = mArr.map(m => normF(m._2))
          ps.flatMap { case (_, _, pid, pv) =>
            val top = cosinePartialTopK(pid, pv, mArr, mNorms, k)
            (0 until top.size).map(i => (pid, top.ids(i), top.scores(i)))
          }
        }
      }.toDF("vec_id", "neighbor_id", "cos")
    // within one table the probe flips are distinct values, so a pair is
    // scored in at most one probed bucket — but ACROSS tables the same
    // pair can reappear, so collapse when L > 1 (cos is deterministic per
    // pair; max == the single value)
    val pairs =
      if (numTables == 1) partials
      else partials.groupBy("vec_id", "neighbor_id").agg(max(col("cos")).as("cos"))
    mergeTopK(pairs, "vec_id", "cos", ascending = false, k)
  }

  /** Width of the first vector of `vecCol` (one LIMIT 1 job), 0 on an
    * empty frame — the hyperplane width an SRP bucketing needs.
    */
  private[graft] def firstDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head(1).headOption.fold(0)(_.getInt(0))

  /** Sign-bit SRP signature against a plane set — the tight-loop twin of
    * `lshBucket` (identical bit semantics: bit p set iff Σ vⱼ·planeⱼ ≥ 0
    * in left-to-right double accumulation).
    */
  private[graft] def lshSignature(v: Array[Float], planes: Array[Array[Double]]): Long = {
    var b = 0L
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      var s = 0.0
      var j = 0
      val n = math.min(pl.length, v.length)
      while (j < n) { s += v(j).toDouble * pl(j); j += 1 }
      if (s >= 0) b |= (1L << p)
      p += 1
    }
    b
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011, "Product Quantization for
  // Nearest Neighbor Search" — public method). The 100 TB embedding
  // path: a D-dim float vector (D·4 bytes) compresses to `m` small
  // centroid codes (m bytes at ksub ≤ 256), so the inverted lists an ANN
  // index stores shrink ~D·4/m× and a whole-corpus code table fits where
  // raw vectors never could. Distances against a query are then
  // asymmetric (ADC): exact query slice vs. quantized member centroid,
  // looked up from a per-query m×ksub table instead of recomputed.
  // ---------------------------------------------------------------------

  /** Per-subspace PQ codebooks: slice each sample vector into `m`
    * contiguous equal-width subspaces and run the same engine-portable
    * quantized Lloyd fit ([[localKMeans]]) independently in each. The
    * returned array is `books(sub)(code)(j)`. Deterministic (strided
    * md5-ordered init, fixed sweeps, dp-grid re-centering), so every
    * codebook is SQL-replayable by one [[graft.queries.TextQueries
    * .ivfAssignCtes]] chain over the sliced corpus.
    */
  def pqCodebooks(sample: Array[Array[Double]], m: Int, ksub: Int, seed: Long,
      iters: Int, quantizeDp: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "pq fit needs data")
    val dim = sample.head.length
    require(m >= 1 && dim % m == 0,
      s"subspace count $m must divide embedding dim $dim")
    require(sample.forall(_.length == dim),
      s"ragged sample vectors (expected every length == $dim) — " +
        "copyOfRange would silently zero-pad short ones into the fit")
    val sub = dim / m
    Array.tabulate(m) { mi =>
      val slices = sample.map(v =>
        java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
      // localKMeans init is stride-deterministic; seed is part of the
      // signature for interface symmetry, not a randomization source
      localKMeans(slices, ksub, seed, iters, quantizeDp)
    }
  }

  /** Nearest-codebook-entry code per subspace — the same sequential
    * squared-L2 accumulation and keep-first tie rule as the
    * [[localKMeans]] assignment step (so the oracle's
    * `ORDER BY dist ASC, cid ASC` rank-1 row replays it exactly).
    */
  private[graft] def pqCode(v: Array[Float], books: Array[Array[Array[Double]]]): Array[Int] = {
    val m = books.length
    require(v.length == m * books(0)(0).length,
      s"vector dim ${v.length} != codebook dim ${m * books(0)(0).length} — " +
        "a truncated scan here would emit plausible-looking wrong codes")
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val book = books(mi)
      val sub = book(0).length
      val off = mi * sub
      var best = 0
      var bestD = Double.MaxValue
      var ci = 0
      while (ci < book.length) {
        val c = book(ci)
        var d = 0.0
        var j = 0
        while (j < sub) {
          val diff = v(off + j).toDouble - c(j); d += diff * diff; j += 1
        }
        if (d < bestD) { bestD = d; best = ci }
        ci += 1
      }
      codes(mi) = best
      mi += 1
    }
    codes
  }

  /** The `n` nearest coarse centroids of `v` (squared L2, sequential
    * accumulation, ties to the lower cid via stable sortBy) — the one
    * assignment rule every PQ/IVF path shares. Dim-checked: a query
    * longer than the centroids would otherwise score on a silent prefix.
    */
  private[graft] def nearestCellsTo(v: Array[Float], centers: Array[Array[Double]],
      n: Int): Array[Int] = {
    require(v.length == centers(0).length,
      s"vector dim ${v.length} != index dim ${centers(0).length}")
    centers.indices.map { ci =>
      var d = 0.0; var j = 0; val c = centers(ci)
      while (j < c.length) { val diff = v(j) - c(j); d += diff * diff; j += 1 }
      (ci, d)
    }.sortBy(_._2).take(math.min(n, centers.length)).map(_._1).toArray
  }

  /** The id-hash salt that splits an oversized cell into `numSalts`
    * member groups (IVF and IVF-PQ members and the saved index lists).
    */
  private def saltOf(id: Long, numSalts: Int): Int =
    (java.lang.Long.hashCode(id) & 0x7fffffff) % numSalts

  /** A probe's `(cell, salt, id, v)` fan-out rows: its `nprobe` nearest
    * cells × every salt — shared by the IVF, IVF-PQ and serving probes.
    */
  private def probes(id: Long, v: Array[Float], centers: Array[Array[Double]], nprobe: Int,
      numSalts: Int): Array[(Int, Int, Long, Array[Float])] =
    for {
      c <- nearestCellsTo(v, centers, nprobe)
      salt <- (0 until numSalts).toArray
    } yield (c, salt, id, v)

  /** Per-query ADC scoring against one cell's code list: build the
    * m×ksub exact slice-to-centroid table once, then one lookup-sum per
    * member offered negated to the shared [[TopK]] (smallest distance
    * first, ties to the lower id — the same rule as every cosine top-k).
    * Shared verbatim by the batch top-k and the serving probe — the
    * tie-break and table build are exactly what the oracles pin, so they
    * must not fork. `exclude` skips the member whose id equals
    * `excludeId` (the batch self-join case); serving passes false and
    * keeps everything (a sentinel id would collide with a legitimate
    * negative key).
    */
  private[graft] def adcPartialTopK(
      pv: Array[Float],
      members: Array[(Long, Array[Int])],
      books: Array[Array[Array[Double]]],
      k: Int,
      excludeId: Long,
      exclude: Boolean): Seq[(Long, Double)] = {
    val mSub = books.length
    val kSub = books(0).length
    val table = Array.ofDim[Double](mSub, kSub)
    var mi = 0
    while (mi < mSub) {
      val book = books(mi)
      val sub = book(0).length
      val off = mi * sub
      var ci = 0
      while (ci < kSub) {
        val c = book(ci)
        var d = 0.0; var j = 0
        while (j < sub) {
          val diff = pv(off + j).toDouble - c(j); d += diff * diff; j += 1
        }
        table(mi)(ci) = d
        ci += 1
      }
      mi += 1
    }
    val top = new TopK(k)
    var i = 0
    while (i < members.length) {
      val (cid, codes) = members(i)
      if (!(exclude && cid == excludeId)) {
        var d = 0.0; var s = 0
        while (s < mSub) { d += table(s)(codes(s)); s += 1 }
        top.offer(cid, -d)
      }
      i += 1
    }
    (0 until top.size).map(i => (top.ids(i), -top.scores(i)))
  }

  /** The fitSample lowest-md5 ids' vectors, in that deterministic order —
    * the shared fit-small sample of the IVF / PQ / semantic-dedup family
    * (partition-layout-invariant and bounded regardless of corpus size).
    * `base` must be (id LONG, v ARRAY<FLOAT>).
    */
  private[graft] def md5Sample(base: DataFrame, fitSample: Int): Array[Array[Double]] =
    base
      .orderBy(GraftFunctions.stringHash(col("id")).asc, col("id").asc)
      .limit(fitSample)
      .select(col("v"))
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Encode every vector to its `m` PQ codes (one output row per
    * (vector, subspace): `vec_id, sub, code`). Map-only over broadcast
    * codebooks after one bounded fit collect — at 100 TB this is the
    * compression pass that materializes the code table an IVF-PQ index
    * serves from, at m bytes per vector instead of D·4.
    */
  def pqEncode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 4,
      ksub: Int = 16,
      seed: Long = 42L,
      fitSample: Int = 10000,
      lloydIters: Int = 5,
      lloydQuantize: Int = 4): DataFrame = {
    import df.sparkSession.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val books = pqCodebooks(md5Sample(base, fitSample), m, ksub, seed,
      lloydIters, lloydQuantize)
    val bc = df.sparkSession.sparkContext.broadcast(books)
    base.flatMap { r =>
      val id = r.getLong(0)
      val codes = pqCode(r.getSeq[Float](1).toArray, bc.value)
      codes.indices.iterator.map(mi => (id, mi, codes(mi)))
    }.toDF("vec_id", "sub", "code")
  }

  /** IVF-PQ approximate top-k (smallest asymmetric L2 distance): the
    * coarse quantizer assigns members to cells exactly like [[ivfTopK]],
    * but the inverted lists carry PQ CODES (m ints) instead of raw
    * vectors, and probers score candidates through a per-query ADC
    * lookup table (m×ksub exact slice-to-centroid distances computed
    * once per probe, then one table lookup per candidate per subspace).
    * Codes are of the raw vectors, not coarse residuals — each subspace
    * chain stays independent of the cell assignment, which keeps the
    * whole fit → encode → probe → rank pipeline SQL-replayable.
    *
    * Output: (vec_id, neighbor_id, adist, rank) — adist ASC; ties (PQ
    * makes them routinely: two members sharing all m codes get exactly
    * equal adist) break on neighbor_id ASC on both engines.
    *
    * 100 TB posture: fit state is O((cells + m·ksub)·dim) on the driver
    * from ONE bounded collect; members shuffle once keyed by cell
    * carrying only m code ints each; `memberCapPerCell` salts oversized
    * cells exactly like [[ivfTopK]]; scoring is a per-cell JVM loop —
    * O(m) per candidate after the O(m·ksub·dim/m) per-probe table build.
    */
  def ivfPqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 3,
      cellCount: Int = 8,
      nprobe: Int = 3,
      m: Int = 4,
      ksub: Int = 16,
      seed: Long = 42L,
      fitSample: Int = 10000,
      lloydIters: Int = 5,
      lloydQuantize: Int = 4,
      memberCapPerCell: Int = 250000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(cellCount >= 1, "cellCount must be >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    import df.sparkSession.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val sample = md5Sample(base, fitSample)
    val centers = localKMeans(sample, cellCount, seed, lloydIters, lloydQuantize)
    val books = pqCodebooks(sample, m, ksub, seed, lloydIters, lloydQuantize)
    val bcCenters = df.sparkSession.sparkContext.broadcast(centers)
    val bcBooks = df.sparkSession.sparkContext.broadcast(books)
    val statsEst = base.queryExecution.optimizedPlan.stats.rowCount.map(_.toLong)
    val numSalts = statsEst.map(n => math.max(1, math.ceil(
      n.toDouble / math.max(1, cellCount) / memberCapPerCell).toInt)).getOrElse(1)

    // inverted lists: (cell, salt, id, codes) — m ints per member, never
    // the raw vector; probers carry the raw vector for the ADC table
    val members = base.map { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).toArray
      (nearestCellsTo(v, bcCenters.value, 1)(0), saltOf(id, numSalts), id,
        pqCode(v, bcBooks.value))
    }
    val probers = base.flatMap { r =>
      probes(r.getLong(0), r.getSeq[Float](1).toArray, bcCenters.value, nprobe, numSalts)
    }
    val partials = members.groupByKey(x => (x._1, x._2))
      .cogroup(probers.groupByKey(p => (p._1, p._2))) { (_, ms, ps) =>
        val mArr = ms.map(x => (x._3, x._4)).toArray
        if (mArr.isEmpty) Iterator.empty
        else ps.flatMap { case (_, _, pid, pv) =>
          adcPartialTopK(pv, mArr, bcBooks.value, k, excludeId = pid, exclude = true)
            .map { case (nb, d) => (pid, nb, d) }
        }
      }.toDF("vec_id", "neighbor_id", "adist")
    mergeTopK(partials, "vec_id", "adist", ascending = true, k)
  }

  /** Build the IVF-PQ SERVING index over a corpus — the hash-once shape
    * of [[graft.functions.Dedup.minhashIndexMd5]] for ANN: the corpus is
    * scanned once and never again; later query batches probe the saved
    * frames by pure equi-join. Returns
    * `(model, lists)`:
    *  - `model` (driver-array-sized): `kind` "cell" rows carry the coarse
    *    centroids (`cid`, `c`), "book" rows the per-subspace codebook
    *    centroids (`sub`, `cid`, `c`) — self-describing, so a probe with
    *    mismatched hyperparameters fails fast on the stored shapes;
    *  - `lists` (corpus-sized, m ints + a salt per member): the inverted
    *    lists. Salting happens at BUILD time (id-hash split sized from
    *    the corpus count against `memberCapPerCell`), so hot coarse
    *    cells are pre-shredded and no probe ever re-sorts the index.
    */
  def buildIvfPqIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cellCount: Int = 8,
      m: Int = 4,
      ksub: Int = 16,
      seed: Long = 42L,
      fitSample: Int = 10000,
      lloydIters: Int = 5,
      lloydQuantize: Int = 4,
      memberCapPerCell: Int = 250000): (DataFrame, DataFrame) = {
    import df.sparkSession.implicits._
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val sample = md5Sample(base, fitSample)
    val centers = localKMeans(sample, cellCount, seed, lloydIters, lloydQuantize)
    val books = pqCodebooks(sample, m, ksub, seed, lloydIters, lloydQuantize)
    val bcCenters = df.sparkSession.sparkContext.broadcast(centers)
    val bcBooks = df.sparkSession.sparkContext.broadcast(books)
    val n = base.count()
    val numSalts = math.max(1, math.ceil(
      n.toDouble / math.max(1, cellCount) / memberCapPerCell).toInt)
    val modelRows =
      centers.indices.map(ci => ("cell", -1, ci, centers(ci).toSeq)) ++
        books.indices.flatMap(mi =>
          books(mi).indices.map(ci => ("book", mi, ci, books(mi)(ci).toSeq)))
    val model = modelRows.toDF("kind", "sub", "cid", "c")
    val lists = base.map { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).toArray
      (id, nearestCellsTo(v, bcCenters.value, 1)(0), saltOf(id, numSalts),
        pqCode(v, bcBooks.value))
    }.toDF("id", "cell", "salt", "codes")
    (model, lists)
  }

  /** Rehydrate a saved IVF-PQ model frame into driver arrays
    * `(coarse centers, per-subspace codebooks)`, validating the stored
    * geometry (shared by the batch and streaming probes — one collect of
    * an O((cells + m·ksub)·dim) frame).
    */
  private[graft] def parseIvfPqModel(
      model: DataFrame): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val modelRows = model.select(col("kind"), col("sub"), col("cid"), col("c"))
      .collect()
    val centers = modelRows.filter(_.getString(0) == "cell")
      .sortBy(_.getInt(2)).map(_.getSeq[Double](3).toArray)
    val bookRows = modelRows.filter(_.getString(0) == "book")
    require(centers.nonEmpty && bookRows.nonEmpty, "model frame has no cell/book rows")
    val m = bookRows.map(_.getInt(1)).max + 1
    val books = Array.tabulate(m) { mi =>
      bookRows.filter(_.getInt(1) == mi).sortBy(_.getInt(2))
        .map(_.getSeq[Double](3).toArray)
    }
    // corruption shapes a partial parquet write can produce: a subspace
    // with no rows, ragged codebook sizes (the scoring loops size kSub
    // from books(0)), ragged centroid widths within a subspace, or
    // coarse centroids disagreeing with each other — all must fail HERE,
    // not as an index error inside an executor task
    require(books.forall(_.nonEmpty),
      s"model frame is missing book rows for subspace(s) " +
        books.indices.filter(books(_).isEmpty).mkString(","))
    require(books.forall(_.length == books(0).length),
      s"ragged codebook sizes ${books.map(_.length).mkString(",")}")
    books.indices.foreach { mi =>
      require(books(mi).forall(_.length == books(mi)(0).length),
        s"subspace $mi has ragged centroid widths")
    }
    require(centers.forall(_.length == centers(0).length),
      "coarse centroids have ragged widths")
    val dim = centers(0).length
    require(books.map(_.head.length).sum == dim,
      s"codebook subspaces cover ${books.map(_.head.length).sum} dims, index dim is $dim")
    (centers, books)
  }

  /** The ADC distance of a raw query vector to a member's stored codes,
    * without the per-probe lookup table: Σ per subspace of the exact
    * squared L2 from the query's slice to the coded centroid — O(dim)
    * per candidate (the table form amortizes to O(m) but needs the
    * per-cell cogroup; this direct form is what a stream-static join row
    * can evaluate). Identical numerics: same per-subspace sequential
    * accumulation, same subspace-order outer sum.
    */
  private[graft] def adcDistance(v: Array[Float], codes: Array[Int],
      books: Array[Array[Array[Double]]]): Double = {
    var total = 0.0
    var mi = 0
    while (mi < books.length) {
      val c = books(mi)(codes(mi))
      val sub = c.length
      val off = mi * sub
      var d = 0.0; var j = 0
      while (j < sub) { val diff = v(off + j).toDouble - c(j); d += diff * diff; j += 1 }
      total += d
      mi += 1
    }
    total
  }

  /** Probe a saved IVF-PQ index with a NEW query batch: top-k ADC
    * neighbors per query from the stored code lists, without ever
    * touching the corpus vectors. The model frame collects to driver
    * arrays (O((cells + m·ksub)·dim)), queries fan out to their nprobe
    * nearest cells × the index's build-time salts, and candidates meet
    * in the same per-cell cogroup loop as [[ivfPqTopK]] — one shuffle of
    * the lists keyed by (cell, salt), O(m) per candidate. No
    * self-exclusion: serving returns whatever the index stores (a probe
    * of the corpus by itself reports each vector's own codes at the ADC
    * floor), so callers with overlapping id spaces filter ids themselves.
    */
  def annAgainstIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      model: DataFrame,
      lists: DataFrame,
      k: Int = 3,
      nprobe: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import queries.sparkSession.implicits._
    val (centers, books) = parseIvfPqModel(model)
    val bcCenters = queries.sparkSession.sparkContext.broadcast(centers)
    val bcBooks = queries.sparkSession.sparkContext.broadcast(books)
    // one tiny agg action — the index stores its salt split, probes fan
    // out to match it
    val numSalts = lists.agg(max(col("salt"))).head() match {
      case r if r.isNullAt(0) => 1
      case r => r.getInt(0) + 1
    }
    val members = lists.select(col("cell"), col("salt"), col("id"), col("codes"))
      .as[(Int, Int, Long, Array[Int])]
    val probers = queries
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .flatMap { r =>
        probes(r.getLong(0), r.getSeq[Float](1).toArray, bcCenters.value, nprobe, numSalts)
      }
    val partials = members.groupByKey(x => (x._1, x._2))
      .cogroup(probers.groupByKey(p => (p._1, p._2))) { (_, ms, ps) =>
        val mArr = ms.map(x => (x._3, x._4)).toArray
        if (mArr.isEmpty) Iterator.empty
        else ps.flatMap { case (_, _, pid, pv) =>
          // no exclusion: serving returns whatever the index stores,
          // including the query's own entry on a self-probe
          adcPartialTopK(pv, mArr, bcBooks.value, k, excludeId = 0L, exclude = false)
            .map { case (nb, d) => (pid, nb, d) }
        }
      }.toDF("query_id", "neighbor_id", "adist")
    mergeTopK(partials, "query_id", "adist", ascending = true, k)
  }

  /** kNN label-noise audit (the confident-learning-style mislabel
    * screen, Northcutt et al. 2021): for every labeled vector, the
    * fraction of its k cosine-nearest neighbours carrying a DIFFERENT
    * label — rows where most of the local neighbourhood disagrees are
    * the mislabeling candidates a curation pass re-reviews before
    * training. Neighbour search runs through ivfTopK, so the same call
    * is exact (nprobe = cellCount) for audit-grade runs or approximate
    * (small nprobe) at corpus scale; labels re-attach via two hash
    * joins on the id — no collect, no pairwise blow-up beyond the IVF
    * cell joins.
    */
  def labelNoiseKnn(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int = 5,
      cellCount: Int = 0,
      nprobe: Int = 3,
      seed: Long = 42L): DataFrame = {
    val nn = ivfTopK(df, idCol, vecCol, k = k, cellCount = cellCount,
      nprobe = nprobe, seed = seed)
    val labels = df.select(col(idCol).cast("long").as("__id"),
      col(labelCol).as("__lbl"))
    nn
      .join(labels.select(col("__id"), col("__lbl").as("__own")),
        col("vec_id") === col("__id")).drop("__id")
      .join(labels.select(col("__id"), col("__lbl").as("__nbr")),
        col("neighbor_id") === col("__id")).drop("__id")
      .groupBy(col("vec_id"), col("__own").as("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__nbr") =!= col("__own"), 1L).otherwise(0L)).as("n_disagree"))
      .select(col("vec_id"), col("label"), col("n_neighbors"), col("n_disagree"),
        round(col("n_disagree").cast("double") / col("n_neighbors").cast("double"), 4)
          .as("disagree_frac"))
  }
}
