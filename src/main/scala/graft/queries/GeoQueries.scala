package graft.queries

import graft.functions.Geo
import graft.plans.GraftFunctions
import graft.queries.QueryPack._
import org.apache.spark.sql.functions._

/** Geospatial operator queries (SURVEY.md §2.10). The test tables carry
  * no geo columns, so lat/lon are derived deterministically from customer
  * keys (identical integer arithmetic on both engines; .25 offsets stay
  * exact in binary).
  */
object GeoQueries {

  private val latExpr = "((c_custkey * 7) % 160) - 80 + 0.25"
  private val lonExpr = "((c_custkey * 13) % 340) - 170 + 0.25"
  private val lat2Expr = "((c_custkey * 11) % 160) - 80 + 0.25"
  private val lon2Expr = "((c_custkey * 17) % 340) - 170 + 0.25"

  private def withPoints(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("lat", expr(latExpr))
    .withColumn("lon", expr(lonExpr))
    .withColumn("lat2", expr(lat2Expr))
    .withColumn("lon2", expr(lon2Expr))

  private val haversineSql =
    """2 * 6371.009 * atan2(
         sqrt(pow(sin(radians(lat2 - lat) / 2), 2)
              + cos(radians(lat)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon) / 2), 2)),
         sqrt(1 - (pow(sin(radians(lat2 - lat) / 2), 2)
              + cos(radians(lat)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon) / 2), 2))))"""

  private val pointsCte =
    s"""WITH pts AS (
        SELECT c_custkey, c_mktsegment,
          $latExpr AS lat, $lonExpr AS lon,
          $lat2Expr AS lat2, $lon2Expr AS lon2
        FROM customer)"""

  val qDistance = Q(
    "q_geo_distance",
    (s, dir) => {
      val pts = withPoints(tables(s, dir).customer)
      pts.select(
        col("c_custkey"),
        round(Geo.haversine(col("lat"), col("lon"), col("lat2"), col("lon2")), 4)
          .as("haversine_km"),
        round(Geo.euclideanKm(col("lat"), col("lon"), col("lat2"), col("lon2")), 4)
          .as("euclidean_km"))
    },
    Some(s"""$pointsCte
      SELECT c_custkey,
        round($haversineSql, 4) AS haversine_km,
        round(6371.009 * sqrt(
          pow(cos(radians(lat)) * cos(radians(lon)) - cos(radians(lat2)) * cos(radians(lon2)), 2)
          + pow(cos(radians(lat)) * sin(radians(lon)) - cos(radians(lat2)) * sin(radians(lon2)), 2)
          + pow(sin(radians(lat)) - sin(radians(lat2)), 2)), 4) AS euclidean_km
      FROM pts"""))

  val qCentroid = Q(
    "q_geo_centroid",
    (s, dir) => Geo.centroid(withPoints(tables(s, dir).customer),
      "c_mktsegment", "lat", "lon"),
    Some(s"""$pointsCte,
      c AS (SELECT c_mktsegment,
              sum(cos(radians(lat)) * cos(radians(lon)) * 1.0) / sum(1.0) AS x,
              sum(cos(radians(lat)) * sin(radians(lon)) * 1.0) / sum(1.0) AS y,
              sum(sin(radians(lat)) * 1.0) / sum(1.0) AS z
            FROM pts GROUP BY c_mktsegment)
      SELECT c_mktsegment,
        round(degrees(atan2(z, sqrt(pow(x, 2) + pow(y, 2)))), 4) AS centroid_lat,
        round(degrees(atan2(y, x)), 4) AS centroid_lon
      FROM c"""))

  val qRog = Q(
    "q_geo_rog",
    (s, dir) => Geo.radiusOfGyration(withPoints(tables(s, dir).customer),
      "c_mktsegment", "lat", "lon"),
    Some(s"""$pointsCte,
      c AS (SELECT c_mktsegment,
              sum(cos(radians(lat)) * cos(radians(lon)) * 1.0) / sum(1.0) AS x,
              sum(cos(radians(lat)) * sin(radians(lon)) * 1.0) / sum(1.0) AS y,
              sum(sin(radians(lat)) * 1.0) / sum(1.0) AS z
            FROM pts GROUP BY c_mktsegment),
      cent AS (SELECT c_mktsegment,
              round(degrees(atan2(z, sqrt(pow(x, 2) + pow(y, 2)))), 4) AS clat,
              round(degrees(atan2(y, x)), 4) AS clon
            FROM c),
      d AS (SELECT pts.c_mktsegment,
              2 * 6371.009 * atan2(
                sqrt(pow(sin(radians(clat - lat) / 2), 2)
                     + cos(radians(lat)) * cos(radians(clat)) * pow(sin(radians(clon - lon) / 2), 2)),
                sqrt(1 - (pow(sin(radians(clat - lat) / 2), 2)
                     + cos(radians(lat)) * cos(radians(clat)) * pow(sin(radians(clon - lon) / 2), 2)))) AS dist
            FROM pts JOIN cent ON pts.c_mktsegment = cent.c_mktsegment)
      SELECT c_mktsegment, round(avg(dist), 4) AS rog_km FROM d GROUP BY c_mktsegment"""))

  val qFormat = Q(
    "q_geo_format",
    (s, dir) => {
      val pts = withPoints(tables(s, dir).customer)
      pts.select(
        col("c_custkey"),
        Geo.ddToDms(col("lat")).as("lat_dms"),
        round(Geo.ddToRadians(col("lat")), 6).as("lat_rad"))
    },
    Some(s"""$pointsCte
      SELECT c_custkey,
        concat(CASE WHEN lat < 0 THEN '-' ELSE '' END,
               CAST(CAST(floor(abs(lat)) AS INT) AS VARCHAR), '°',
               CAST(CAST(floor((abs(lat) - floor(abs(lat))) * 60) AS INT) AS VARCHAR), '''',
               round((abs(lat) - floor(abs(lat))
                      - floor((abs(lat) - floor(abs(lat))) * 60) / 60) * 3600, 2), '"') AS lat_dms,
        round(radians(lat), 6) AS lat_rad
      FROM pts"""))

  /** Rectangle membership via the generic ray-casting UDF; the oracle can
    * express the same rectangle as range predicates.
    */
  val qPolygon = Q(
    "q_geo_in_polygon",
    (s, dir) => {
      val poly = Seq((0.0, -50.0), (0.0, 50.0), (60.0, 50.0), (60.0, -50.0))
      val pts = withPoints(tables(s, dir).customer)
      pts.select(col("c_custkey"),
        Geo.inPolygonUdf(poly)(col("lat"), col("lon")).cast("int").as("in_region"))
    },
    Some(s"""$pointsCte
      SELECT c_custkey,
        CASE WHEN lat > 0 AND lat < 60 AND lon > -50 AND lon < 50
             THEN 1 ELSE 0 END AS in_region
      FROM pts"""))

  /** Geohash encode/truncate/decode round-trip via the NATIVE codegen'd
    * expression (no DuckDB equivalent → rows-only; exactness is covered
    * by unit tests with known vectors).
    */
  val qGeohash = Q(
    "q_geohash",
    (s, dir) => {
      val pts = withPoints(tables(s, dir).customer)
      pts.select(
        col("c_custkey"),
        GraftFunctions.geohashEncode(col("lat").cast("double"), col("lon").cast("double"), 7)
          .as("gh7"))
        .withColumn("gh4", Geo.geohashPrecisionControl(col("gh7"), 4))
        .withColumn("lat_rt", round(Geo.geohashDecodeLatUdf(col("gh7")), 2))
    },
    // closed-form oracle: the bisection encoder is equivalent to taking
    // the top nlon/nlat bits of the normalized coordinates and
    // interleaving them (lon first). Precision 7 → 18 lon + 17 lat bits.
    // The interleave/base32 SQL is generated here so both engines share
    // one spec; decode-lat is the cell midpoint.
    Some {
      val base32 = "0123456789bcdefghjkmnpqrstuvwxyz"
      def bitExpr(i: Int): String =
        if (i % 2 == 0) s"((xi >> ${17 - i / 2}) & 1)"
        else s"((yi >> ${16 - (i - 1) / 2}) & 1)"
      val chars = (0 until 7).map { c =>
        val v = (0 until 5)
          .map(b => s"${bitExpr(5 * c + b)} * ${1 << (4 - b)}")
          .mkString(" + ")
        s"substring('$base32', CAST($v AS INT) + 1, 1)"
      }
      s"""
      WITH pts AS (
        SELECT c_custkey, $latExpr AS lat, $lonExpr AS lon FROM customer),
      idx AS (
        SELECT c_custkey, lat, lon,
          LEAST(CAST(floor((lon + 180) * 262144 / 360) AS BIGINT), 262143) AS xi,
          LEAST(CAST(floor((lat + 90) * 131072 / 180) AS BIGINT), 131071) AS yi
        FROM pts),
      enc AS (
        SELECT c_custkey, yi, ${chars.mkString(" || ")} AS gh7 FROM idx)
      SELECT c_custkey, gh7, substring(gh7, 1, 4) AS gh4,
             round((yi + 0.5) * 180.0 / 131072.0 - 90.0, 2) AS lat_rt
      FROM enc"""
    })

  /** Country membership via the broadcast bounding-box table (ref
    * geo_utils.py:799 point_in_country_approx). The oracle's VALUES table
    * is generated from the SAME Scala box constants — one source of truth.
    */
  val qInCountry = Q(
    "q_geo_in_country_boxes",
    (s, dir) => {
      val pts = withPoints(tables(s, dir).customer)
      Geo.locationCountries(pts, "lat", "lon")
        .filter(col("country_code").isNotNull)
        .groupBy("country_code", "country_name")
        .agg(count(lit(1)).as("n_points"))
    },
    Some {
      val rows = Geo.countryBoundingBoxes.toSeq.sortBy(_._1)
        .map { case (code, b) =>
          s"('$code', '${b.name.replace("'", "''")}', ${b.lonMin}, ${b.latMin}, ${b.lonMax}, ${b.latMax})"
        }
        .mkString(",\n            ")
      s"""$pointsCte,
          boxes(code, name, lon_min, lat_min, lon_max, lat_max) AS (VALUES
            $rows)
          SELECT code AS country_code, name AS country_name, count(*) AS n_points
          FROM pts JOIN boxes
            ON lat BETWEEN lat_min AND lat_max
            AND ((lon_min <= lon_max AND lon BETWEEN lon_min AND lon_max)
              OR (lon_min > lon_max AND (lon >= lon_min OR lon <= lon_max)))
          GROUP BY 1, 2"""
    })

  /** Offline reverse geocoding: nearest embedded capital (haversine
    * argmin over the broadcast 50-row gazetteer, partial-agg collapse).
    * Distances are rounded to 4 BEFORE the argmin on both engines, so
    * the winner selection is float-stable; ties break on country code.
    */
  val qReverseGeocode = Q(
    "q_reverse_geocode",
    (s, dir) => Geo.reverseGeocode(
      withPoints(tables(s, dir).customer), Seq("c_custkey"), "lat", "lon"),
    Some {
      val capValues = Geo.countryCapitals.map(c =>
        s"('${c.code}', '${c.city}', CAST(${c.lat} AS DOUBLE), CAST(${c.lon} AS DOUBLE))")
        .mkString(",\n        ")
      val capHaversine =
        """2 * 6371.009 * atan2(
             sqrt(pow(sin(radians(clat - lat) / 2), 2)
                  + cos(radians(lat)) * cos(radians(clat)) * pow(sin(radians(clon - lon) / 2), 2)),
             sqrt(1 - (pow(sin(radians(clat - lat) / 2), 2)
                  + cos(radians(lat)) * cos(radians(clat)) * pow(sin(radians(clon - lon) / 2), 2))))"""
      s"""$pointsCte,
      caps(code, city, clat, clon) AS (VALUES
        $capValues),
      d AS (SELECT c_custkey, code, city,
              round($capHaversine, 4) AS dkm
            FROM pts CROSS JOIN caps),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY c_custkey ORDER BY dkm, code) AS rn FROM d)
      SELECT c_custkey, code AS rg_country_code, city AS rg_city,
             dkm AS rg_distance_km
      FROM r WHERE rn = 1"""
    })

  /** One Vincenty λ-iteration as a nested-SELECT block: consumes rows
    * with (lam, l, sU1, cU1, sU2, cU2) from `src`, emits every
    * intermediate (ss, cs, sig, sa, c2a, c2sm, c) — the exact update
    * sequence of `Geo.vincentyKm`'s loop body.
    */
  private def vincentyStepSql(src: String): String =
    s"""
    SELECT *, ff / 16 * c2a * (4 + ff * (4 - 3 * c2a)) AS c FROM (
      SELECT *, CASE WHEN c2a = 0 THEN 0.0 ELSE cs - 2 * sU1 * sU2 / c2a END AS c2sm FROM (
        SELECT *, 1 - sa * sa AS c2a FROM (
          SELECT *, atan2(ss, cs) AS sig, cU1 * cU2 * sL / ss AS sa FROM (
            SELECT *, sqrt(pow(cU2 * sL, 2) + pow(cU1 * sU2 - sU1 * cU2 * cL, 2)) AS ss,
                   sU1 * sU2 + cU1 * cU2 * cL AS cs FROM (
              SELECT *, sin(lam) AS sL, cos(lam) AS cL, (1.0/298.257223563) AS ff
              FROM $src) q1) q2) q3) q4) q5"""

  /** Vincenty inverse geodesic per fixture pair — ORACLE-CHECKED despite
    * being iterative: the engine's λ-iteration converges (|Δλ| < 1e-12)
    * within 9 iterations for every fixture pair at sf0.01 AND sf0.1
    * (measured; the grid's .25/.125 offsets keep every pair ≥ 0.1° away
    * from the antipodal non-convergence zone), so a fixed 12-iteration
    * recursive-CTE unroll lands within ~1e-8 km of the engine's
    * converged value — invisible on the 4-decimal output grid.
    * Coincident points (ss = 0 → engine returns 0.0) bypass the
    * iteration via the UNION branch.
    */
  val qVincenty = Q(
    "q_geo_vincenty",
    (s, dir) => {
      val pts = withPoints(tables(s, dir).customer)
      pts.select(
        col("c_custkey"),
        round(Geo.vincentyUdf(col("lat"), col("lon"), col("lat2"), col("lon2")), 4)
          .as("vincenty_km"))
    },
    Some(s"""WITH RECURSIVE pts AS (
        SELECT c_custkey,
          $latExpr AS lat, $lonExpr AS lon,
          $lat2Expr AS lat2, $lon2Expr AS lon2
        FROM customer),
      base AS (
        SELECT c_custkey, radians(lon2 - lon) AS l,
          sin(atan((1 - 1.0/298.257223563) * tan(radians(lat)))) AS sU1,
          cos(atan((1 - 1.0/298.257223563) * tan(radians(lat)))) AS cU1,
          sin(atan((1 - 1.0/298.257223563) * tan(radians(lat2)))) AS sU2,
          cos(atan((1 - 1.0/298.257223563) * tan(radians(lat2)))) AS cU2
        FROM pts WHERE NOT (lat = lat2 AND lon = lon2)),
      it AS (
        SELECT c_custkey, l, sU1, cU1, sU2, cU2, l AS lam, 0 AS i FROM base
        UNION ALL
        SELECT c_custkey, l, sU1, cU1, sU2, cU2,
          l + (1 - c) * ff * sa * (sig + c * ss * (c2sm + c * cs * (-1 + 2 * c2sm * c2sm))) AS lam,
          i + 1 AS i
        FROM (${vincentyStepSql("it WHERE i < 12")}) stp),
      fin AS (${vincentyStepSql("it WHERE i = 12")}),
      d AS (
        SELECT c_custkey,
          ((1 - ff) * 6378137.0) * bigA * (sig - dS) / 1000.0 AS vkm
        FROM (
          SELECT *, bigB * ss * (c2sm + bigB / 4 * (cs * (-1 + 2 * c2sm * c2sm)
            - bigB / 6 * c2sm * (-3 + 4 * ss * ss) * (-3 + 4 * c2sm * c2sm))) AS dS
          FROM (
            SELECT *, 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq))) AS bigA,
                   uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq))) AS bigB
            FROM (
              SELECT *, c2a * (6378137.0 * 6378137.0 - pow((1 - ff) * 6378137.0, 2))
                        / pow((1 - ff) * 6378137.0, 2) AS uSq
              FROM fin) u1) u2) u3)
      SELECT c_custkey, round(vkm, 4) AS vincenty_km FROM d
      UNION ALL
      SELECT c_custkey, 0.0 AS vincenty_km FROM pts WHERE lat = lat2 AND lon = lon2"""))

  /** Deterministic geo clustering: the quantized-Lloyd coarse fit at a
    * fixed k over the derived customer points — fit (md5-lowest sample,
    * strided init, per-sweep re-rounded centroids) and every row's cell
    * assignment replay through the shared IVF CTE chain. The spark.ml
    * KMeans elbow path (Geo.clusterAnalysis) stays the RNG production
    * twin, spec-gated.
    */
  val qGeoClusterDeterministic = Q(
    "q_geo_cluster_deterministic",
    (s, dir) => Geo.clusterAnalysisDeterministic(
      withPoints(tables(s, dir).customer), "c_custkey", "lat", "lon",
      k = 5, fitSample = 10000, lloydIters = 5, lloydQuantize = 4),
    Some {
      val corpus =
        s"""SELECT c_custkey AS id,
            [CAST($latExpr AS FLOAT), CAST($lonExpr AS FLOAT)] AS v
            FROM customer"""
      s"""
      WITH ${TextQueries.ivfAssignCtes(corpus, cells = 5, iters = 5, dp = 4,
        fitSample = 10000)}
      SELECT id AS c_custkey, CAST(cid AS INT) AS geo_cluster
      FROM fr WHERE rk = 1"""
    })

  /** Geo auto-detection decisions under the gate (ref
    * geo_auto_detection.py:23-177): name heuristics + full-scan range
    * checks + base32 validity. The fixture plants a valid lat, an
    * out-of-range bad_lat (name matches, range rejects), a valid lon, a
    * base32 code column (detected via the value path), and two
    * non-base32 strings (rejected). The fixture is SAMPLE-INVARIANT —
    * every code value is valid and every non-code value invalid — so
    * the oracle may re-derive the validity verdicts over ALL rows where
    * the engine inspects a capped distinct sample.
    */
  val qGeoAutodetect = Q(
    "q_geo_autodetect",
    (s, dir) => {
      import s.implicits._
      val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
      val pts = tables(s, dir).customer
        .select(col("c_custkey"), col("c_mktsegment"), col("c_name"),
          expr(latExpr).as("lat"), expr(lonExpr).as("lon"),
          (expr(latExpr) * 3).as("bad_lat"),
          expr(s"substring('$alphabet', cast(c_custkey % 32 as int) + 1, 1)").as("code"))
      val d = graft.functions.AutoDetect.detectGeoColumns(pts)
      (d.latCols.map(("lat_col", _)) ++ d.lonCols.map(("lon_col", _)) ++
        d.geohashCols.map(("geohash_col", _))).toDF("role", "column_name")
    },
    Some {
      val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
      def valid(c: String) =
        s"bool_and($c IS NOT NULL AND length($c) <= 12 AND regexp_full_match($c, '[0-9b-hjkmnp-z]+'))"
      s"""
      WITH pts AS (
        SELECT c_custkey, c_mktsegment, c_name,
          $latExpr AS lat, $lonExpr AS lon, ($latExpr) * 3 AS bad_lat,
          substring('$alphabet', CAST(c_custkey % 32 AS INT) + 1, 1) AS code
        FROM customer),
      rng AS (SELECT
        min(lat) AS mn_lat, max(lat) AS mx_lat,
        min(bad_lat) AS mn_bad, max(bad_lat) AS mx_bad,
        min(lon) AS mn_lon, max(lon) AS mx_lon,
        ${valid("code")} AS code_ok,
        ${valid("c_mktsegment")} AS seg_ok,
        ${valid("c_name")} AS name_ok
        FROM pts)
      SELECT 'lat_col' AS role, 'lat' AS column_name FROM rng
        WHERE mn_lat >= -90 AND mx_lat <= 90
      UNION ALL SELECT 'lat_col', 'bad_lat' FROM rng
        WHERE mn_bad >= -90 AND mx_bad <= 90
      UNION ALL SELECT 'lon_col', 'lon' FROM rng
        WHERE mn_lon >= -180 AND mx_lon <= 180
      UNION ALL SELECT 'geohash_col', 'code' FROM rng WHERE code_ok
      UNION ALL SELECT 'geohash_col', 'c_mktsegment' FROM rng WHERE seg_ok
      UNION ALL SELECT 'geohash_col', 'c_name' FROM rng WHERE name_ok"""
    })

  /** Weighted global centroid (ref geospatial.py:1099-1222): per-segment
    * cartesian sums weighted by segment size, reduced to one global
    * point — the full two-level aggregate replays in SQL.
    */
  val qWeightedCentroid = Q(
    "q_geo_weighted_centroid",
    (s, dir) => Geo.weightedCentroid(
      withPoints(tables(s, dir).customer), "c_mktsegment", "lat", "lon"),
    Some(s"""$pointsCte,
      g AS (SELECT c_mktsegment,
              sum(cos(radians(lat)) * cos(radians(lon))) AS xg,
              sum(cos(radians(lat)) * sin(radians(lon))) AS yg,
              sum(sin(radians(lat))) AS zg,
              count(c_mktsegment) AS wg
            FROM pts GROUP BY 1),
      t AS (SELECT sum(xg * wg) / sum(wg) AS x,
                   sum(yg * wg) / sum(wg) AS y,
                   sum(zg * wg) / sum(wg) AS z FROM g)
      SELECT round(degrees(atan2(z, sqrt(pow(x, 2) + pow(y, 2)))), 4) AS weighted_centroid_lat,
             round(degrees(atan2(y, x)), 4) AS weighted_centroid_lon
      FROM t"""))

  private val gridAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
  private def gridFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    withPoints(tables(s, dir).customer).select(
      (floor(col("lat") / 20) * 20).cast("double").as("glat"),
      (floor(col("lon") / 40) * 40).cast("double").as("glon"),
      expr(s"substring('$gridAlphabet', cast(c_custkey % 32 as int) + 1, 1)").as("gh"))
  private val gridCte =
    s"""WITH pts AS (
        SELECT floor(($latExpr) / 20) * 20 AS glat,
               floor(($lonExpr) / 40) * 40 AS glon,
               substring('$gridAlphabet', CAST(c_custkey % 32 AS INT) + 1, 1) AS gh
        FROM customer)"""

  /** Geospatial descriptive summary (ref geospatial_analyzer.py:64-311):
    * distinct pair/lat/lon counts + most-common-pair occurrence, and the
    * geohash half (distinct count, observed precision, top occurrence) —
    * on a coarse grid so pairs genuinely repeat.
    */
  val qGeoDescStats = Q(
    "q_geo_descriptive_stats",
    (s, dir) => Geo.geoDescriptiveStats(gridFrame(s, dir), "glat", "glon", Some("gh")),
    Some(s"""$gridCte
      SELECT 'distinct_lat_long_pairs' AS stats,
             (SELECT count(*) FROM (SELECT DISTINCT glat, glon FROM pts)) AS count
      UNION ALL SELECT 'distinct_latitudes', (SELECT count(DISTINCT glat) FROM pts)
      UNION ALL SELECT 'distinct_longitudes', (SELECT count(DISTINCT glon) FROM pts)
      UNION ALL SELECT 'most_common_pair_count',
        (SELECT count(*) AS n FROM pts GROUP BY glat, glon
         ORDER BY n DESC, glat ASC, glon ASC LIMIT 1)
      UNION ALL SELECT 'distinct_geohashes', (SELECT count(DISTINCT gh) FROM pts)
      UNION ALL SELECT 'geohash_precision_level', (SELECT max(length(gh)) FROM pts)
      UNION ALL SELECT 'most_common_geohash_count',
        (SELECT count(*) AS n FROM pts GROUP BY gh
         ORDER BY n DESC, gh ASC LIMIT 1)"""))

  /** Top lat-long pairs by occurrence, deterministic tie-break. */
  val qGeoTopPairs = Q(
    "q_geo_top_pairs",
    (s, dir) => Geo.geoTopPairs(gridFrame(s, dir), "glat", "glon", 10),
    Some(s"""$gridCte
      SELECT glat, glon, count(*) AS count FROM pts GROUP BY glat, glon
      ORDER BY count DESC, glat ASC, glon ASC LIMIT 10"""))

  /** Deterministic DBSCAN sibling with a FULL oracle (the grid-search
    * production path stays spec-gated like the reference's report-side
    * fit): fixed (eps=600 km, minPts=4) over a fixed 750-point id-range
    * sample — identical at every scale factor, so the cross-scale check
    * sees the same cluster structure. The oracle replays neighborhoods
    * on the 4-dp haversine grid, core selection, the connected-component
    * closure (recursive CTE, the duplicateClusters shape), min-id border
    * assignment, and noise. The lat-band blocking in the engine is
    * lossless, so the oracle can use the plain pairwise form.
    */
  val qGeoDbscanDeterministic = Q(
    "q_geo_dbscan_deterministic",
    (s, dir) => Geo.dbscanDeterministic(
      withPoints(tables(s, dir).customer)
        .filter(col("c_custkey") <= 1500 && col("c_custkey") % 2 === 0),
      "c_custkey", "lat", "lon", epsKm = 600.0, minSamples = 4),
    Some(s"""
      WITH RECURSIVE pts AS (
        SELECT c_custkey AS id, $latExpr AS lat, $lonExpr AS lon
        FROM customer WHERE c_custkey <= 1500 AND c_custkey % 2 = 0),
      pairs AS (
        SELECT a.id ia, b.id ib FROM pts a, pts b
        WHERE round(2 * 6371.009 * atan2(
          sqrt(pow(sin(radians(b.lat - a.lat)/2), 2)
               + cos(radians(a.lat)) * cos(radians(b.lat)) * pow(sin(radians(b.lon - a.lon)/2), 2)),
          sqrt(1 - (pow(sin(radians(b.lat - a.lat)/2), 2)
               + cos(radians(a.lat)) * cos(radians(b.lat)) * pow(sin(radians(b.lon - a.lon)/2), 2)))), 4)
          <= 600),
      core AS (SELECT ia AS id FROM pairs GROUP BY ia HAVING count(*) >= 4),
      ce AS (SELECT ia a, ib b FROM pairs
             WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)),
      reach AS (SELECT a, b FROM ce
                UNION SELECT r.a, e.b FROM reach r JOIN ce e ON r.b = e.a),
      comp AS (SELECT a AS id, least(a, min(b)) AS root FROM reach GROUP BY a),
      borderpick AS (
        SELECT p.ia AS id, min(p.ib) AS mincore FROM pairs p
        WHERE p.ia NOT IN (SELECT id FROM core) AND p.ib IN (SELECT id FROM core)
        GROUP BY p.ia),
      borderlab AS (SELECT b.id, c.root FROM borderpick b JOIN comp c ON c.id = b.mincore),
      lab AS (SELECT id, root FROM comp UNION ALL SELECT id, root FROM borderlab)
      SELECT p.id AS c_custkey, coalesce(l.root, -1) AS db_label
      FROM pts p LEFT JOIN lab l USING (id)"""))

  def all: Seq[Q] = Seq(qDistance, qCentroid, qRog, qFormat, qPolygon, qGeohash,
    qInCountry, qReverseGeocode, qVincenty, qGeoClusterDeterministic,
    qGeoAutodetect, qWeightedCentroid, qGeoDescStats, qGeoTopPairs,
    qGeoDbscanDeterministic)
}
