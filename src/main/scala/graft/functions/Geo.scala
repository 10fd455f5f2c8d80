package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Geospatial surface (ref: data_transformer/geospatial.py + geo_utils.py).
  * Distance/centroid/ROG math is pure Catalyst trig (codegen'd, no UDF —
  * the reference wrapped everything in Python UDFs); geohash encode/decode
  * and point-in-polygon are small deterministic Scala UDFs over pure
  * functions, applied per-row with broadcast constants.
  */
object Geo {

  val EarthRadiusKm = 6371.009 // = the reference geo_utils.py:10 EARTH_RADIUS (6371009 m)

  // ------------------------------------------------------------- distances

  /** ref: geo_utils.py:228 haversine — great-circle distance in km. */
  def haversine(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val a = pow(sin(dLat), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    lit(2 * EarthRadiusKm) * atan2(sqrt(a), sqrt(lit(1) - a))
  }

  /** ref: geo_utils.py:325 euclidean distance on unit-sphere cartesian
    * coordinates, scaled to km.
    */
  def euclideanKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val (x1, y1, z1) = cartesian(lat1, lon1)
    val (x2, y2, z2) = cartesian(lat2, lon2)
    lit(EarthRadiusKm) * sqrt(pow(x1 - x2, 2) + pow(y1 - y2, 2) + pow(z1 - z2, 2))
  }

  /** ref: geo_utils.py:283 vincenty — iterative inverse geodesic on the
    * WGS-84 ellipsoid (pure function + UDF; the iteration doesn't fit a
    * closed-form Catalyst expression). Distance in km.
    */
  def vincentyKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val a = 6378137.0; val f = 1 / 298.257223563; val b = (1 - f) * a
    val l = math.toRadians(lon2 - lon1)
    val u1 = math.atan((1 - f) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1 - f) * math.tan(math.toRadians(lat2)))
    val (sinU1, cosU1) = (math.sin(u1), math.cos(u1))
    val (sinU2, cosU2) = (math.sin(u2), math.cos(u2))
    var lambda = l
    var iter = 0
    var sinSigma = 0.0; var cosSigma = 0.0; var sigma = 0.0
    var cosSqAlpha = 0.0; var cos2SigmaM = 0.0
    var converged = false
    while (iter < 100 && !converged) {
      val sinL = math.sin(lambda); val cosL = math.cos(lambda)
      sinSigma = math.sqrt(
        math.pow(cosU2 * sinL, 2) +
          math.pow(cosU1 * sinU2 - sinU1 * cosU2 * cosL, 2))
      if (sinSigma == 0) return 0.0
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosL
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinL / sinSigma
      cosSqAlpha = 1 - sinAlpha * sinAlpha
      cos2SigmaM = if (cosSqAlpha == 0) 0.0 else cosSigma - 2 * sinU1 * sinU2 / cosSqAlpha
      val c = f / 16 * cosSqAlpha * (4 + f * (4 - 3 * cosSqAlpha))
      val prev = lambda
      lambda = l + (1 - c) * f * sinAlpha *
        (sigma + c * sinSigma * (cos2SigmaM + c * cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM)))
      if (math.abs(lambda - prev) < 1e-12) converged = true
      iter += 1
    }
    val uSq = cosSqAlpha * (a * a - b * b) / (b * b)
    val bigA = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    val bigB = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    val deltaSigma = bigB * sinSigma * (cos2SigmaM + bigB / 4 *
      (cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM) -
        bigB / 6 * cos2SigmaM * (-3 + 4 * sinSigma * sinSigma) * (-3 + 4 * cos2SigmaM * cos2SigmaM)))
    b * bigA * (sigma - deltaSigma) / 1000.0
  }

  val vincentyUdf = udf((lat1: Double, lon1: Double, lat2: Double, lon2: Double) =>
    vincentyKm(lat1, lon1, lat2, lon2))

  /** Unit-sphere cartesian (ref: geo_utils.py:161 from_latlon). */
  def cartesian(lat: Column, lon: Column): (Column, Column, Column) = (
    cos(radians(lat)) * cos(radians(lon)),
    cos(radians(lat)) * sin(radians(lon)),
    sin(radians(lat)))

  // ------------------------------------------------------- format converts

  /** Decimal degrees → [degree, minute, second] NUMBERS with the
    * reference's exact divmod semantics (geo_utils.py:139-160:
    * `divmod(dd·3600, 60)` twice — Python divmod floors toward −∞, so
    * −82.3265° → [−83, 40, 24.5], NOT the sign-notation −82°19'35.5").
    * Round-trips through [[dmsPartsToDd]] (d + m/60 + s/3600) exactly.
    */
  def ddToDmsParts(dd0: Column): Column = {
    val dd = dd0.cast("double")
    val totalSec = dd * 3600
    val minute0 = floor(totalSec / 60)
    val second = totalSec - minute0 * 60
    val degree = floor(minute0 / 60)
    val minute = minute0 - degree * 60
    when(dd0.isNull, lit(null))
      .otherwise(struct(degree.cast("double").as("degree"),
        minute.cast("double").as("minute"), second.as("second")))
  }

  /** ref geo_utils.py:42-48 dms → dd: d + m/60 + s/3600 (works with the
    * floored-parts form above).
    */
  def dmsPartsToDd(d: Column, m: Column, s: Column): Column =
    d.cast("double") + m.cast("double") / 60 + s.cast("double") / 3600

  /** Decimal degrees → degrees/minutes/seconds display string (the
    * conventional sign notation; see [[ddToDmsParts]] for the
    * reference-parity numeric form).
    */
  def ddToDms(dd0: Column): Column = {
    val dd = dd0.cast("double") // decimal inputs would format seconds as "0.00"
    val sign = when(dd < 0, "-").otherwise("")
    val a = abs(dd)
    val d = floor(a)
    val m = floor((a - d) * 60)
    val s = round((a - d - m / 60) * 3600, 2)
    concat(sign, d.cast("int"), lit("°"), m.cast("int"), lit("'"), s, lit("\""))
  }

  def ddToRadians(dd: Column): Column = radians(dd)
  def radiansToDd(r: Column): Column = degrees(r)

  // ----------------------------------------------------------- geohash UDF

  private val base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Pure geohash encode (public algorithm; ref exposes the same op via
    * the python geohash lib, geospatial.py:333).
    */
  def geohashEncode(lat: Double, lon: Double, precision: Int): String = {
    var (latLo, latHi, lonLo, lonHi) = (-90.0, 90.0, -180.0, 180.0)
    val sb = new StringBuilder
    var isLon = true
    var bit = 0
    var ch = 0
    while (sb.length < precision) {
      if (isLon) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid }
        else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid }
        else { ch = ch << 1; latHi = mid }
      }
      isLon = !isLon
      bit += 1
      if (bit == 5) { sb.append(base32(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }

  /** Geohash decode → (lat, lon) cell centre. */
  def geohashDecode(gh: String): (Double, Double) = {
    var (latLo, latHi, lonLo, lonHi) = (-90.0, 90.0, -180.0, 180.0)
    var isLon = true
    gh.foreach { c =>
      val ch = base32.indexOf(c)
      (4 to 0 by -1).foreach { b =>
        val bit = (ch >> b) & 1
        if (isLon) {
          val mid = (lonLo + lonHi) / 2
          if (bit == 1) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (bit == 1) latLo = mid else latHi = mid
        }
        isLon = !isLon
      }
    }
    ((latLo + latHi) / 2, (lonLo + lonHi) / 2)
  }

  val geohashEncodeUdf = udf((lat: Double, lon: Double, p: Int) => geohashEncode(lat, lon, p))
  val geohashDecodeLatUdf = udf((gh: String) => geohashDecode(gh)._1)
  val geohashDecodeLonUdf = udf((gh: String) => geohashDecode(gh)._2)

  /** ref: geospatial.py:653 geohash_precision_control — truncation. */
  def geohashPrecisionControl(gh: Column, precision: Int): Column =
    substring(gh, 1, precision)

  // ----------------------------------------------------- polygon membership

  /** Ray-casting point-in-polygon (ref: geo_utils.py:368-502), pure
    * function applied via UDF with the polygon broadcast in the closure.
    */
  def pointInPolygon(lat: Double, lon: Double, poly: Seq[(Double, Double)]): Boolean = {
    var inside = false
    var j = poly.length - 1
    var i = 0
    while (i < poly.length) {
      val (yi, xi) = poly(i)
      val (yj, xj) = poly(j)
      if (((yi > lat) != (yj > lat)) &&
        (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  def inPolygonUdf(poly: Seq[(Double, Double)]) =
    udf((lat: Double, lon: Double) => pointInPolygon(lat, lon, poly))

  // --------------------------------------------------- centroid / ROG aggs

  /** ref: geospatial.py:975-1098 centroid — mean unit-sphere cartesian per
    * group, back to lat/lon via atan2. One groupBy, pure SQL.
    */
  def centroid(df: DataFrame, idCol: String, latCol: String, lonCol: String,
      weight: Option[Column] = None): DataFrame = {
    val (x, y, z) = cartesian(col(latCol), col(lonCol))
    val w = weight.getOrElse(lit(1.0))
    df.groupBy(col(idCol))
      .agg(
        (sum(x * w) / sum(w)).as("__x"),
        (sum(y * w) / sum(w)).as("__y"),
        (sum(z * w) / sum(w)).as("__z"))
      .select(
        col(idCol),
        round(degrees(atan2(col("__z"), sqrt(pow(col("__x"), 2) + pow(col("__y"), 2)))), 4)
          .as("centroid_lat"),
        round(degrees(atan2(col("__y"), col("__x"))), 4).as("centroid_lon"))
  }

  /** ref: geospatial_analyzer.py:64-233 descriptive_stats_gen — the
    * overall geospatial summary table: distinct (lat, lon) pair / lat /
    * lon counts plus the most-common pair's occurrence, and (when a
    * geohash column is given) distinct geohashes, the observed
    * precision level, and the most-common geohash's occurrence. All
    * counts, one schema — the pair/geohash VALUES themselves come from
    * [[geoTopPairs]] / [[geohashDistribution]] row 1. Two aggregation
    * passes (scalar distincts + a top-1), O(1) driver state.
    */
  def geoDescriptiveStats(
      df: DataFrame,
      latCol: String,
      lonCol: String,
      ghCol: Option[String] = None): DataFrame = {
    import df.sparkSession.implicits._
    val base = df.na.drop(Seq(latCol, lonCol))
    val row = base.agg(
      countDistinct(col(latCol), col(lonCol)).as("pairs"),
      countDistinct(col(latCol)).as("lats"),
      countDistinct(col(lonCol)).as("lons")).first()
    val topPair = geoTopPairs(base, latCol, lonCol, 1)
      .collect().headOption.map(_.getLong(2)).getOrElse(0L)
    val latlonRows = Seq(
      ("distinct_lat_long_pairs", row.getLong(0)),
      ("distinct_latitudes", row.getLong(1)),
      ("distinct_longitudes", row.getLong(2)),
      ("most_common_pair_count", topPair))
    val ghRows = ghCol.toSeq.flatMap { g =>
      val clean = df.filter(col(g).isNotNull)
      val r = clean.agg(
        countDistinct(col(g)).as("n"),
        max(length(col(g))).as("prec")).first()
      val top = geohashDistribution(clean, g, 1)
        .collect().headOption.map(_.getLong(1)).getOrElse(0L)
      Seq(
        ("distinct_geohashes", r.getLong(0)),
        ("geohash_precision_level", if (r.isNullAt(1)) 0L else r.getInt(1).toLong),
        ("most_common_geohash_count", top))
    }
    (latlonRows ++ ghRows).toDF("stats", "count")
  }

  /** ref: geospatial_analyzer.py:64-233 — top lat-long pairs by
    * occurrence (count desc, then pair asc: the reference's bare
    * count-desc order is nondeterministic on ties).
    */
  def geoTopPairs(df: DataFrame, latCol: String, lonCol: String, maxVal: Int): DataFrame =
    df.na.drop(Seq(latCol, lonCol))
      .groupBy(col(latCol), col(lonCol)).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col(latCol).asc, col(lonCol).asc)
      .limit(maxVal)

  /** ref: geospatial_analyzer.py:275-311 — top geohash distribution. */
  def geohashDistribution(df: DataFrame, ghCol: String, maxVal: Int): DataFrame =
    df.filter(col(ghCol).isNotNull)
      .groupBy(col(ghCol)).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col(ghCol).asc)
      .limit(maxVal)

  /** ref: geospatial.py:1099-1222 weighted_centroid — per-id unit-sphere
    * cartesian sums weighted by the id's row count, reduced to ONE
    * global centroid (the reference's two-level aggregate: group sums ×
    * group weight, then totals / total weight → atan2). Rows with null
    * or out-of-range coordinates drop first, matching the reference's
    * validation path. Two aggregations, the second over |ids| rows.
    */
  def weightedCentroid(df: DataFrame, idCol: String, latCol: String, lonCol: String): DataFrame = {
    val clean = df.na.drop(Seq(latCol, lonCol))
      .filter(col(latCol).between(-90, 90) && col(lonCol).between(-180, 180))
    val (x, y, z) = cartesian(col(latCol), col(lonCol))
    clean.groupBy(col(idCol))
      .agg(sum(x).as("xg"), sum(y).as("yg"), sum(z).as("zg"),
        count(col(idCol)).as("wg"))
      .agg(
        (sum(col("xg") * col("wg")) / sum(col("wg"))).as("__x"),
        (sum(col("yg") * col("wg")) / sum(col("wg"))).as("__y"),
        (sum(col("zg") * col("wg")) / sum(col("wg"))).as("__z"))
      .select(
        round(degrees(atan2(col("__z"), sqrt(pow(col("__x"), 2) + pow(col("__y"), 2)))), 4)
          .as("weighted_centroid_lat"),
        round(degrees(atan2(col("__y"), col("__x"))), 4).as("weighted_centroid_lon"))
  }

  /** ref: geospatial_analyzer.py:390-733 geo cluster analysis — the
    * reference runs MiniBatchKMeans with an elbow search on a capped
    * pandas sample; here spark.ml KMeans on a seeded capped sample, k
    * chosen by the largest second difference of WSSE (elbow), labels
    * applied distributed. Returns (k, labeled frame).
    */
  def clusterAnalysis(
      df: DataFrame,
      latCol: String,
      lonCol: String,
      maxK: Int = 8,
      sampleCap: Long = 100000L,
      seed: Long = 42L): (Int, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = df.withColumn("__fv",
      array_to_vector(array(col(latCol).cast("double"), col(lonCol).cast("double"))))
    val fitDf = graft.operators.QualityChecker.sampleCapped(feat, Some(sampleCap), seed)
    val costs = (2 to maxK).map { k =>
      val m = new KMeans().setK(k).setSeed(seed)
        .setFeaturesCol("__fv").setPredictionCol("__c").fit(fitDf)
      k -> m.summary.trainingCost
    }
    val bestK =
      if (costs.size < 3) costs.head._1
      else costs.sliding(3).map { w =>
        (w(1)._1, (w(0)._2 - w(1)._2) - (w(1)._2 - w(2)._2))
      }.maxBy(_._2)._1
    val model = new KMeans().setK(bestK).setSeed(seed)
      .setFeaturesCol("__fv").setPredictionCol("geo_cluster").fit(fitDf)
    (bestK, model.transform(feat).drop("__fv"))
  }

  /** Deterministic sibling of [[clusterAnalysis]]: the engine-portable
    * quantized-Lloyd coarse clustering (the IVF/SemDeDup fit) over
    * (lat, lon) at a FIXED k — no RNG init, no elbow search; the fit
    * sample is the md5-lowest rows and every centroid coordinate
    * re-rounds to the `lloydQuantize` grid each sweep, so fit AND
    * per-row assignment replay in DuckDB (q_geo_cluster_deterministic).
    * The spark.ml path above stays the production elbow-search twin.
    *
    * Scale: fit state is O(k·2) on the driver from a bounded sample;
    * assignment is map-only against broadcast centers.
    */
  def clusterAnalysisDeterministic(
      df: DataFrame,
      idCol: String,
      latCol: String,
      lonCol: String,
      k: Int,
      fitSample: Int = 10000,
      lloydIters: Int = 5,
      lloydQuantize: Int = 4): DataFrame = {
    import df.sparkSession.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      array(col(latCol).cast("float"), col(lonCol).cast("float")).as("v"))
    val sample = Similarity.md5Sample(base, fitSample)
    val centers = Similarity.localKMeans(sample, k, 42L, lloydIters, lloydQuantize)
    val bc = df.sparkSession.sparkContext.broadcast(centers)
    base.map { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](1).toArray
      (id, Similarity.nearestCell(v, bc.value))
    }.toDF(idCol, "geo_cluster")
  }

  /** Scalar haversine (km) — driver-side twin of the Column form. */
  private[graft] def haversineKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1) / 2
    val dLon = math.toRadians(lon2 - lon1) / 2
    val a = math.sin(dLat) * math.sin(dLat) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon) * math.sin(dLon)
    2 * EarthRadiusKm * math.atan2(math.sqrt(a), math.sqrt(1 - a))
  }

  /** Classic DBSCAN over (lat, lon) points with haversine distance (km).
    * Labels: 0..k−1 clusters, −1 noise — the sklearn convention the
    * reference relies on (geospatial_analyzer.py:575-590). O(n²) neighbor
    * scan — driver-side on a capped sample only, like the reference's
    * pandas fit.
    */
  private[graft] def dbscanLocal(
      pts: Array[(Double, Double)],
      epsKm: Double,
      minSamples: Int): Array[Int] = {
    val n = pts.length
    val labels = Array.fill(n)(-2) // -2 unvisited, -1 noise
    val neighbors = Array.tabulate(n) { i =>
      val b = Array.newBuilder[Int]
      var j = 0
      while (j < n) {
        if (haversineKm(pts(i)._1, pts(i)._2, pts(j)._1, pts(j)._2) <= epsKm) b += j
        j += 1
      }
      b.result()
    }
    var cluster = 0
    var i = 0
    while (i < n) {
      if (labels(i) == -2) {
        if (neighbors(i).length < minSamples) labels(i) = -1
        else {
          labels(i) = cluster
          val queue = scala.collection.mutable.Queue(neighbors(i).toSeq: _*)
          while (queue.nonEmpty) {
            val q = queue.dequeue()
            if (labels(q) == -1) labels(q) = cluster // border point
            if (labels(q) == -2) {
              labels(q) = cluster
              if (neighbors(q).length >= minSamples) queue.enqueueAll(neighbors(q))
            }
          }
          cluster += 1
        }
      }
      i += 1
    }
    labels
  }

  /** Mean silhouette score with haversine distance. Mirrors sklearn's
    * silhouette_score as the reference calls it: noise (−1) is treated
    * as its own label (geospatial_analyzer.py:578 passes labels_ raw);
    * returns 0 when fewer than 2 labels exist (the reference's except
    * branch scores those grids 0).
    */
  private[graft] def silhouetteHaversine(
      pts: Array[(Double, Double)],
      labels: Array[Int]): Double = {
    val n = pts.length
    val byLabel = labels.zipWithIndex.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2) }
    if (byLabel.size < 2 || n < 2) return 0.0
    var sum = 0.0
    var i = 0
    while (i < n) {
      val own = byLabel(labels(i))
      val a =
        if (own.length <= 1) 0.0
        else own.iterator.filter(_ != i).map(j =>
          haversineKm(pts(i)._1, pts(i)._2, pts(j)._1, pts(j)._2)).sum / (own.length - 1)
      val b = byLabel.iterator.filter(_._1 != labels(i)).map { case (_, js) =>
        js.iterator.map(j => haversineKm(pts(i)._1, pts(i)._2, pts(j)._1, pts(j)._2)).sum / js.length
      }.min
      sum += (if (own.length <= 1) 0.0 else (b - a) / math.max(a, b))
      i += 1
    }
    sum / n
  }

  final case class DbscanResult(
      epsKm: Double,
      minSamples: Int,
      silhouette: Double,
      nClusters: Int,
      labeled: DataFrame)

  /** ref: geospatial_analyzer.py:511-733 — the DBSCAN half of geo
    * cluster analysis: grid-search (eps × min_samples), pick the pair
    * with the best silhouette, fit, and report. Fit runs on a capped
    * driver sample (the reference fits pandas driver-side too); the
    * full-frame labeling is a broadcast nearest-core-point assignment
    * (standard DBSCAN extension: a point gets the cluster of the
    * nearest core point within eps, else noise −1) — map-only, no
    * shuffle, any row count.
    */
  def dbscanClusterAnalysis(
      df: DataFrame,
      latCol: String,
      lonCol: String,
      epsGridKm: Seq[Double] = Seq(50.0, 100.0, 200.0),
      minSamplesGrid: Seq[Int] = Seq(5, 10, 15),
      sampleCap: Long = 10000L,
      seed: Long = 42L): DbscanResult = {
    val pts: Array[(Double, Double)] =
      graft.operators.QualityChecker.sampleCapped(
        df.select(col(latCol).cast("double"), col(lonCol).cast("double")).na.drop(), Some(sampleCap), seed)
        .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    require(pts.nonEmpty, "dbscan needs at least one point")
    val grid = for (e <- epsGridKm; m <- minSamplesGrid) yield (e, m)
    val scored = grid.map { case (e, m) =>
      val labels = dbscanLocal(pts, e, m)
      (e, m, silhouetteHaversine(pts, labels), labels)
    }
    val (bestEps, bestMin, bestSil, bestLabels) = scored.maxBy(_._3)
    // core points of the winning fit anchor the distributed assignment
    val coreIdx = pts.indices.filter { i =>
      bestLabels(i) >= 0 &&
        pts.indices.count(j =>
          haversineKm(pts(i)._1, pts(i)._2, pts(j)._1, pts(j)._2) <= bestEps) >= bestMin
    }
    val cores = coreIdx.map(i => (pts(i)._1, pts(i)._2, bestLabels(i))).toArray
    val bc = df.sparkSession.sparkContext.broadcast(cores)
    val assignUdf = udf { (la: Double, lo: Double) =>
      val cs = bc.value
      var best = -1
      var bestD = Double.MaxValue
      var i = 0
      while (i < cs.length) {
        val d = haversineKm(la, lo, cs(i)._1, cs(i)._2)
        if (d < bestD) { bestD = d; best = cs(i)._3 }
        i += 1
      }
      if (bestD <= bestEps) best else -1
    }
    val labeled = df.withColumn("geo_cluster_dbscan",
      assignUdf(col(latCol).cast("double"), col(lonCol).cast("double")))
    DbscanResult(bestEps, bestMin, bestSil,
      bestLabels.filter(_ >= 0).distinct.length, labeled)
  }

  /** Deterministic DBSCAN sibling with order-independent semantics — the
    * fully-replayable twin of [[dbscanClusterAnalysis]]'s fit at a FIXED
    * (epsKm, minSamples): neighborhoods on the 4-dp-rounded haversine
    * grid (both engines round identically — the q_geo_distance parity),
    * core = |N_eps| ≥ minSamples (self included, the sklearn count),
    * clusters = connected components of the core-core eps-graph labeled
    * by min member id ([[Dedup.duplicateClusters]]), border points take
    * the cluster of their MINIMUM-ID core neighbor (classic DBSCAN's
    * border assignment is BFS-order-dependent; the min-id rule is the
    * deterministic refinement), noise = −1. Labels are min-core-ids, not
    * 0..k−1 — stable under any execution order.
    *
    * Scale shape: the candidate pair join is blocked on latitude bands
    * of ceil(eps) degrees — lossless (1° of latitude is 111.19 km on
    * the R=6371.009 sphere, so eps-neighbors can never differ by more
    * than eps/111.19 degrees of latitude) — so there is no cartesian
    * anywhere; per-band pair volume is what DBSCAN's neighbor counting
    * inherently costs.
    */
  def dbscanDeterministic(
      df: DataFrame,
      idCol: String,
      latCol: String,
      lonCol: String,
      epsKm: Double,
      minSamples: Int): DataFrame = {
    require(epsKm > 0 && minSamples >= 1, "epsKm > 0, minSamples >= 1")
    val pts = df.select(col(idCol).cast("long").as("id"),
      col(latCol).cast("double").as("lat"), col(lonCol).cast("double").as("lon"))
      .na.drop()
    val bandDeg = epsKm / 111.0 // ≥ eps/111.19: adjacent bands always suffice
    val banded = pts.withColumn("band", floor(col("lat") / lit(bandDeg)).cast("long"))
    val probes = banded.withColumn("pband",
      explode(array(col("band") - 1, col("band"), col("band") + 1)))
    val pairs = probes.as("a")
      .join(banded.as("b"), col("a.pband") === col("b.band"))
      .filter(round(haversine(col("a.lat"), col("a.lon"), col("b.lat"), col("b.lon")), 4)
        <= epsKm)
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
    val core = pairs.groupBy("ia").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSamples).select(col("ia").as("id"))
    val coreEdges = pairs
      .join(core.select(col("id").as("ia")), "ia")
      .join(core.select(col("id").as("ib")), "ib")
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("key_1"), col("ib").as("key_2"))
    val comp = graft.functions.Dedup.duplicateClusters(coreEdges)
    // isolated cores (no other core within eps) are singleton clusters
    val coreLab = core.join(comp.withColumnRenamed("key", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("root"))
    val borderLab = pairs
      .join(core.select(col("id").as("ib")), "ib")
      .join(core.select(col("id").as("ia")), Seq("ia"), "left_anti")
      .groupBy(col("ia")).agg(min(col("ib")).as("mincore"))
      .join(coreLab.select(col("id").as("mincore"), col("root")), "mincore")
      .select(col("ia").as("id"), col("root"))
    pts.select("id")
      .join(coreLab.unionByName(borderLab), Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("root"), lit(-1L)).as("db_label"))
  }

  /** ref: geospatial.py:1223-1334 rog_calculation — mean haversine
    * distance to the group centroid (broadcast-joined back), km.
    */
  def radiusOfGyration(df: DataFrame, idCol: String, latCol: String, lonCol: String): DataFrame = {
    val cent = centroid(df, idCol, latCol, lonCol)
    df.join(broadcast(cent), Seq(idCol))
      .groupBy(col(idCol))
      .agg(round(avg(
        haversine(col(latCol), col(lonCol), col("centroid_lat"), col("centroid_lon"))), 4)
        .as("rog_km"))
  }

  // ------------------------------------------------- country membership

  /** Approximate country bounding box: (lonMin, latMin, lonMax, latMax)
    * in decimal degrees — OSM-derived public data, same convention as
    * ref geo_utils.py:512-796 COUNTRY_BOUNDING_BOXES.
    */
  final case class CountryBox(
      name: String, lonMin: Double, latMin: Double, lonMax: Double, latMax: Double)

  /** 50 highest-traffic countries (extend by passing a custom map to the
    * join variant). Containment test mirrors ref geo_utils.py:799-817
    * point_in_country_approx: latMin <= lat <= latMax AND
    * lonMin <= lon <= lonMax.
    */
  val countryBoundingBoxes: Map[String, CountryBox] = Map(
    "AE" -> CountryBox("United Arab Emirates", 51.498, 22.6444, 56.3834, 26.2822),
    "AR" -> CountryBox("Argentina", -73.5600329, -55.1850761, -53.6374515, -21.781168),
    "AU" -> CountryBox("Australia", 72.2460938, -55.3228175, 168.2249543, -9.0882278),
    "AT" -> CountryBox("Austria", 9.5307487, 46.3722761, 17.160776, 49.0205305),
    "BE" -> CountryBox("Belgium", 2.3889137, 49.4969821, 6.408097, 51.5516667),
    "BD" -> CountryBox("Bangladesh", 88.0075306, 20.3756582, 92.6804979, 26.6382534),
    "BR" -> CountryBox("Brazil", -73.9830625, -33.8689056, -28.6341164, 5.2842873),
    "CA" -> CountryBox("Canada", -141.00275, 41.6765556, -52.3231981, 83.3362128),
    "CH" -> CountryBox("Switzerland", 5.9559113, 45.817995, 10.4922941, 47.8084648),
    "CL" -> CountryBox("Chile", -109.6795789, -56.725, -66.0753474, -17.4983998),
    "CN" -> CountryBox("China", 73.4997347, 8.8383436, 134.7754563, 53.5608154),
    "CO" -> CountryBox("Colombia", -82.1243666, -4.2316872, -66.8511907, 16.0571269),
    "CZ" -> CountryBox("Czechia", 12.0905901, 48.5518083, 18.859216, 51.0557036),
    "DE" -> CountryBox("Germany", 5.8663153, 47.2701114, 15.0419319, 55.099161),
    "DK" -> CountryBox("Denmark", 7.7153255, 54.4516667, 15.5530641, 57.9524297),
    "EG" -> CountryBox("Egypt", 24.6499112, 22.0, 37.1153517, 31.8330854),
    "ES" -> CountryBox("Spain", -18.3936845, 27.4335426, 4.5918885, 43.9933088),
    "FI" -> CountryBox("Finland", 19.0832098, 59.4541578, 31.5867071, 70.0922939),
    "FR" -> CountryBox("France", -5.4534286, 41.2632185, 9.8678344, 51.268318),
    "GR" -> CountryBox("Greece", 19.2477876, 34.7006096, 29.7296986, 41.7488862),
    "ID" -> CountryBox("Indonesia", 94.7717124, -11.2085669, 141.0194444, 6.2744496),
    "IN" -> CountryBox("India", 68.1113787, 6.5546079, 97.395561, 35.6745457),
    "IQ" -> CountryBox("Iraq", 38.7936719, 29.0585661, 48.8412702, 37.380932),
    "IL" -> CountryBox("Israel", 34.2674994, 29.4533796, 35.8950234, 33.3356317),
    "IT" -> CountryBox("Italy", 6.6272658, 35.2889616, 18.7844746, 47.0921462),
    "JP" -> CountryBox("Japan", 122.7141754, 20.2145811, 154.205541, 45.7112046),
    "KE" -> CountryBox("Kenya", 33.9098987, -4.8995204, 41.899578, 4.62),
    "KR" -> CountryBox("Korea, Republic of", 124.354847, 32.9104556, 132.1467806, 38.623477),
    "MA" -> CountryBox("Morocco", -17.2551456, 21.3365321, -0.998429, 36.0505269),
    "MX" -> CountryBox("Mexico", -118.59919, 14.3886243, -86.493266, 32.7186553),
    "MY" -> CountryBox("Malaysia", 105.3471939, -5.1076241, 120.3471939, 9.8923759),
    "NG" -> CountryBox("Nigeria", 2.676932, 4.0690959, 14.678014, 13.885645),
    "NL" -> CountryBox("Netherlands", 1.9193492, 50.7295671, 7.2274985, 53.7253321),
    "NO" -> CountryBox("Norway", 4.0875274, 57.7590052, 31.7614911, 71.3848787),
    // antimeridian-spanning: lonMin > lonMax means the box wraps 180°
    // (the naive -179..179 form matched nearly every longitude at this
    // latitude band — southern Chile/Argentina/Australia points all
    // "matched NZ")
    "NZ" -> CountryBox("New Zealand", 165.869437, -52.8213687, -175.831536, -29.0303303),
    "PK" -> CountryBox("Pakistan", 60.872855, 23.5393916, 77.1203914, 37.084107),
    "PE" -> CountryBox("Peru", -84.6356535, -20.1984472, -68.6519906, -0.0392818),
    "PH" -> CountryBox("Philippines", 114.0952145, 4.2158064, 126.8072562, 21.3217806),
    "PL" -> CountryBox("Poland", 14.1229707, 49.0020468, 24.145783, 55.0336963),
    "PT" -> CountryBox("Portugal", -31.5575303, 29.8288021, -6.1891593, 42.1543112),
    "RU" -> CountryBox("Russian Federation", 19.6389, 41.1850968, 180.0, 82.0586232),
    "SA" -> CountryBox("Saudi Arabia", 34.4571718, 16.29, 55.6666851, 32.1543377),
    "SG" -> CountryBox("Singapore", 103.6920359, 1.1304753, 104.0120359, 1.4504753),
    "SE" -> CountryBox("Sweden", 10.5930952, 55.1331192, 24.1776819, 69.0599699),
    "TH" -> CountryBox("Thailand", 97.3438072, 5.612851, 105.636812, 20.4648337),
    "TR" -> CountryBox("Turkey", 25.6212891, 35.8076804, 44.8176638, 42.297),
    "UA" -> CountryBox("Ukraine", 22.137059, 44.184598, 40.2275801, 52.3791473),
    "US" -> CountryBox("United States of America", -125.0011, 24.9493, -66.9326, 49.5904),
    "VN" -> CountryBox("Viet Nam", 102.14441, 8.1790665, 114.3337595, 23.393395),
    "ZA" -> CountryBox("South Africa", 16.3335213, -47.1788335, 38.2898954, -22.1250301))

  /** Wrap-aware containment: a box with lonMin > lonMax crosses the
    * antimeridian and covers the two ranges [lonMin, 180] ∪ [-180, lonMax].
    */
  private def boxContains(lat: Column, lon: Column, b: CountryBox): Column = {
    val lonOk =
      if (b.lonMin <= b.lonMax) lon.between(b.lonMin, b.lonMax)
      else lon >= b.lonMin || lon <= b.lonMax
    lat.between(b.latMin, b.latMax) && lonOk
  }

  /** Approximate surface of a box in square degrees (wrap-aware lon span)
    * — the tie-breaker for overlapping boxes: the smallest-area match is
    * almost always the right country (e.g. Austria beats the Italy box
    * that reaches past the Alps).
    */
  private def boxArea(b: CountryBox): Double = {
    val lonSpan =
      if (b.lonMin <= b.lonMax) b.lonMax - b.lonMin
      else 360.0 - (b.lonMin - b.lonMax)
    (b.latMax - b.latMin) * lonSpan
  }

  /** 1/0 flag (NULL on null coords) for one country — pure Catalyst
    * expression, codegen'd; ref geo_utils.py:799 point_in_country_approx.
    */
  def locationInCountry(lat: Column, lon: Column, countryCode: String): Column = {
    val b = countryBoundingBoxes.getOrElse(countryCode,
      throw new IllegalArgumentException(s"unknown country code: $countryCode"))
    when(lat.isNull || lon.isNull, lit(null))
      .otherwise(boxContains(lat, lon, b).cast("int"))
  }

  /** ONE country per point — the smallest-area matching box wins, so
    * overlapping boxes (Austria inside the Italy span, Singapore inside
    * Malaysia's) never multiply cardinality. A codegen'd CASE chain over
    * the 50-box table: no join, no shuffle, exactly one output row per
    * input row. Use this (not [[locationCountries]]) wherever the frame
    * flows on to further stages.
    */
  def locationCountry(
      df: DataFrame,
      latCol: String,
      lonCol: String,
      boxes: Map[String, CountryBox] = countryBoundingBoxes): DataFrame = {
    val lat = col(latCol).cast("double")
    val lon = col(lonCol).cast("double")
    val ordered = boxes.toSeq.sortBy { case (code, b) => (boxArea(b), code) }
    def pick(value: ((String, CountryBox)) => String): Column =
      ordered.foldRight(lit(null).cast("string")) { case (entry, acc) =>
        when(boxContains(lat, lon, entry._2), lit(value(entry))).otherwise(acc)
      }
    df.withColumn("country_code", pick(_._1))
      .withColumn("country_name", pick(_._2.name))
  }

  /** Capital-city reference points for the 50 supported countries —
    * public, approximate coordinates; the offline gazetteer for
    * [[reverseGeocode]]. (ref geospatial.py:1335 reverse_geocoding joins
    * an EXTERNAL place dataset; no such dataset ships here, so the
    * offline analog resolves to the nearest capital of the embedded
    * country table — same API shape, self-contained data.)
    */
  final case class Capital(code: String, city: String, lat: Double, lon: Double)

  val countryCapitals: Seq[Capital] = Seq(
    Capital("AE", "Abu Dhabi", 24.4539, 54.3773),
    Capital("AR", "Buenos Aires", -34.6037, -58.3816),
    Capital("AU", "Canberra", -35.2809, 149.1300),
    Capital("AT", "Vienna", 48.2082, 16.3738),
    Capital("BE", "Brussels", 50.8503, 4.3517),
    Capital("BD", "Dhaka", 23.8103, 90.4125),
    Capital("BR", "Brasilia", -15.7939, -47.8828),
    Capital("CA", "Ottawa", 45.4215, -75.6972),
    Capital("CH", "Bern", 46.9480, 7.4474),
    Capital("CL", "Santiago", -33.4489, -70.6693),
    Capital("CN", "Beijing", 39.9042, 116.4074),
    Capital("CO", "Bogota", 4.7110, -74.0721),
    Capital("CZ", "Prague", 50.0755, 14.4378),
    Capital("DE", "Berlin", 52.5200, 13.4050),
    Capital("DK", "Copenhagen", 55.6761, 12.5683),
    Capital("EG", "Cairo", 30.0444, 31.2357),
    Capital("ES", "Madrid", 40.4168, -3.7038),
    Capital("FI", "Helsinki", 60.1699, 24.9384),
    Capital("FR", "Paris", 48.8566, 2.3522),
    Capital("GR", "Athens", 37.9838, 23.7275),
    Capital("ID", "Jakarta", -6.2088, 106.8456),
    Capital("IN", "New Delhi", 28.6139, 77.2090),
    Capital("IQ", "Baghdad", 33.3152, 44.3661),
    Capital("IL", "Jerusalem", 31.7683, 35.2137),
    Capital("IT", "Rome", 41.9028, 12.4964),
    Capital("JP", "Tokyo", 35.6762, 139.6503),
    Capital("KE", "Nairobi", -1.2921, 36.8219),
    Capital("KR", "Seoul", 37.5665, 126.9780),
    Capital("MA", "Rabat", 34.0209, -6.8416),
    Capital("MX", "Mexico City", 19.4326, -99.1332),
    Capital("MY", "Kuala Lumpur", 3.1390, 101.6869),
    Capital("NG", "Abuja", 9.0765, 7.3986),
    Capital("NL", "Amsterdam", 52.3676, 4.9041),
    Capital("NO", "Oslo", 59.9139, 10.7522),
    Capital("NZ", "Wellington", -41.2866, 174.7756),
    Capital("PK", "Islamabad", 33.6844, 73.0479),
    Capital("PE", "Lima", -12.0464, -77.0428),
    Capital("PH", "Manila", 14.5995, 120.9842),
    Capital("PL", "Warsaw", 52.2297, 21.0122),
    Capital("PT", "Lisbon", 38.7223, -9.1393),
    Capital("RU", "Moscow", 55.7558, 37.6173),
    Capital("SA", "Riyadh", 24.7136, 46.6753),
    Capital("SG", "Singapore", 1.3521, 103.8198),
    Capital("SE", "Stockholm", 59.3293, 18.0686),
    Capital("TH", "Bangkok", 13.7563, 100.5018),
    Capital("TR", "Ankara", 39.9334, 32.8597),
    Capital("UA", "Kyiv", 50.4501, 30.5234),
    Capital("US", "Washington", 38.9072, -77.0369),
    Capital("VN", "Hanoi", 21.0285, 105.8542),
    Capital("ZA", "Pretoria", -25.7479, 28.2293))

  /** Offline reverse geocoding: nearest embedded capital per point
    * (haversine argmin), emitted as [*idCols.., rg_country_code, rg_city,
    * rg_distance_km]. Plan shape for 100 TB: NO join, NO shuffle, NO row
    * expansion — each row packs every capital's rounded distance and
    * code-sorted index into one orderable long and takes `least(...)`
    * over the 50 codegen'd expressions, so the whole operator is a
    * single map-only Project (a broadcast join + argmin aggregate would
    * re-shuffle the frame for results derivable per row). Ties at the
    * 1e-4 km grid break on the smaller country code via the index in
    * the low bits. Rows with null coords are dropped (detection keeps
    * only resolvable points, like the reference's geocoder).
    */
  def reverseGeocode(
      df: DataFrame,
      idCols: Seq[String],
      latCol: String,
      lonCol: String,
      capitals: Seq[Capital] = countryCapitals): DataFrame = {
    val caps = capitals.sortBy(_.code).toIndexedSeq
    require(caps.size < 64, "packed argmin reserves 6 low bits for the index")
    val lat = col(latCol).cast("double")
    val lon = col(lonCol).cast("double")
    // The row's four trig values are hoisted into ONE intermediate
    // projection; each capital then costs only multiply-adds + atan2 via
    // the product-form haversine hav(θ₂−θ₁) = (1 − (cosθ₂cosθ₁ +
    // sinθ₂sinθ₁))/2 with the capital's sin/cos precomputed on the
    // driver. Identical real-number semantics to the sin² form (differs
    // ~1e-12 km, invisible on the 1e-4 km output grid); the a∈[0,1]
    // clamp guards the sqrt against −1e-17 FP residue at exact hits.
    // Without the hoist, codegen evaluated ~100 sin/cos per row (the
    // per-capital Δlat/Δlon arguments defeat subexpression elimination).
    val trig = df
      .filter(col(latCol).isNotNull && col(lonCol).isNotNull)
      .withColumn("__slat", sin(radians(lat)))
      .withColumn("__clat", cos(radians(lat)))
      .withColumn("__slon", sin(radians(lon)))
      .withColumn("__clon", cos(radians(lon)))
    // distance·10⁴ (the exact 4-decimal output grid) · 64 + index: long
    // min-ordering == (distance asc, code asc)
    val packedCandidates = caps.zipWithIndex.map { case (c, i) =>
      val rlat2 = math.toRadians(c.lat)
      val rlon2 = math.toRadians(c.lon)
      val havLat = (lit(1.0) -
        (lit(math.cos(rlat2)) * col("__clat") + lit(math.sin(rlat2)) * col("__slat"))) / 2
      val havLon = (lit(1.0) -
        (lit(math.cos(rlon2)) * col("__clon") + lit(math.sin(rlon2)) * col("__slon"))) / 2
      val a = greatest(lit(0.0), least(lit(1.0),
        havLat + col("__clat") * lit(math.cos(rlat2)) * havLon))
      val dist = lit(2 * EarthRadiusKm) * atan2(sqrt(a), sqrt(lit(1.0) - a))
      round(dist * 10000).cast("long") * 64 + i
    }
    val best = least(packedCandidates: _*)
    val codeArr = array(caps.map(c => lit(c.code)): _*)
    val cityArr = array(caps.map(c => lit(c.city)): _*)
    val idx = (best % 64).cast("int")
    trig.select(idCols.map(col) ++ Seq(
        element_at(codeArr, idx + 1).as("rg_country_code"),
        element_at(cityArr, idx + 1).as("rg_city"),
        ((best.cast("double") - idx) / 64 / 10000.0).as("rg_distance_km")): _*)
  }

  /** All matching countries per point via a broadcast range join against
    * the (tiny) box table — the 100 TB shape: the fact side streams, the
    * 50-row dimension is broadcast, no shuffle. Points in no box are kept
    * with a NULL country (left join).
    */
  def locationCountries(
      df: DataFrame,
      latCol: String,
      lonCol: String,
      boxes: Map[String, CountryBox] = countryBoundingBoxes): DataFrame = {
    import df.sparkSession.implicits._
    val boxDf = boxes.toSeq
      .map { case (code, b) => (code, b.name, b.lonMin, b.latMin, b.lonMax, b.latMax) }
      .toDF("country_code", "country_name", "__lon_min", "__lat_min", "__lon_max", "__lat_max")
    // wrap-aware lon test: lonMin > lonMax ⇒ [lonMin,180] ∪ [-180,lonMax]
    val lonOk = when(col("__lon_min") <= col("__lon_max"),
        col(lonCol) >= col("__lon_min") && col(lonCol) <= col("__lon_max"))
      .otherwise(col(lonCol) >= col("__lon_min") || col(lonCol) <= col("__lon_max"))
    df.join(broadcast(boxDf),
        col(latCol) >= col("__lat_min") && col(latCol) <= col("__lat_max") && lonOk,
        "left")
      .drop("__lon_min", "__lat_min", "__lon_max", "__lat_max")
  }
}
